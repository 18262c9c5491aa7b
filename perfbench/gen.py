"""Seeded input generator for the perfbench workloads.

Every workload's inputs are a pure function of (workload, seed, scale):
numpy's PCG64 stream drives all draws, and the tables are written as
parquet so Spark and DuckDB read the very same files. Floats are dyadic
(multiples of 1/64) so that sums over them are exact in any order and the
output digests do not depend on shuffle arrival order.

    python3 perfbench/gen.py --workload ticks_asof --seed 1 --out DIR

writes DIR/<table>.parquet and prints one JSON line with the row counts,
shape properties and a sha256 digest per table.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY0_US = 1_704_188_400_000_000  # 2024-01-02 09:40:00 UTC
TICK = 1.0 / 64.0

# Shape constants at scale 1.0; BENCHMARK.json and README.md quote them.
TICKS = dict(symbols=200, trades=20_000, zipf_s=1.1, quote_ratio=(5.0, 10.0), span_s=23_400)
SENSOR = dict(devices=150, span_s=3 * 3600, mean_gap_s=45.0, outages=3,
              outage_s=(300, 1200), alarm_depth=4, alarm_len_s=(300, 1800),
              alarm_pause_s=(60, 600))
CORPUS = dict(docs=1_500, vocab=4_000, zipf_s=1.1, words=(80, 250),
              exact_dup_rate=0.05, near_dup_rate=0.05, near_edit_frac=0.01)
ANALYST = dict(series=40, rows_per_series=250, quotes_per_series=100, span_s=7200)

LANGS = ["en", "de", "es", "fr"]
STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "that", "it", "for"]


def _n(base: int, scale: float) -> int:
    return max(1, int(round(base * scale)))


def _unique_sorted_us(rng: np.random.Generator, n: int, span_us: int) -> np.ndarray:
    """n strictly increasing offsets in [0, span_us): sorted draws plus the
    index, so equal draws become distinct neighbours."""
    return np.sort(rng.integers(0, span_us - n, n)) + np.arange(n)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us", tz="UTC"))


def _dyadic(x: np.ndarray) -> np.ndarray:
    return np.round(np.asarray(x) / TICK) * TICK


def gen_ticks(rng: np.random.Generator, scale: float):
    c = TICKS
    # symbols shrink slower than rows, so tiny test scales keep many series
    n_sym, n_trades = _n(c["symbols"], scale ** 0.5), _n(c["trades"], scale)
    weights = 1.0 / np.arange(1, n_sym + 1) ** c["zipf_s"]
    sizes = np.maximum(1, rng.multinomial(n_trades, weights / weights.sum()))
    sizes = sizes[rng.permutation(n_sym)]
    ratios = rng.uniform(*c["quote_ratio"], n_sym)
    half_span = c["span_s"] * 1_000_000 // 2

    t_cols = {k: [] for k in ("symbol", "ts", "trade_id", "price", "volume")}
    q_cols = {k: [] for k in ("symbol", "ts", "quote_id", "bid", "ask", "mid")}
    trade_id = quote_id = 0
    for s in range(n_sym):
        sym = f"S{s:04d}"
        n_t, n_q = int(sizes[s]), max(1, int(round(sizes[s] * ratios[s])))
        # quotes on even microseconds, trades on odd: never an exact tie
        q_us = DAY0_US + 2 * _unique_sorted_us(rng, n_q, half_span)
        t_us = DAY0_US + 2 * _unique_sorted_us(rng, n_t, half_span) + 1
        base = int(rng.integers(20 * 64, 500 * 64))
        mid = np.maximum(64, base + np.cumsum(rng.integers(-2, 3, n_q)))
        spread = rng.integers(1, 5, n_q)
        prev = np.searchsorted(q_us, t_us) - 1
        t_mid = np.where(prev >= 0, mid[np.maximum(prev, 0)], base)
        q_cols["symbol"].append(np.full(n_q, sym))
        q_cols["ts"].append(q_us)
        q_cols["quote_id"].append(np.arange(quote_id, quote_id + n_q))
        q_cols["bid"].append((mid - spread) * TICK)
        q_cols["ask"].append((mid + spread) * TICK)
        q_cols["mid"].append(mid * TICK)
        t_cols["symbol"].append(np.full(n_t, sym))
        t_cols["ts"].append(t_us)
        t_cols["trade_id"].append(np.arange(trade_id, trade_id + n_t))
        t_cols["price"].append((t_mid + rng.integers(-1, 2, n_t)) * TICK)
        t_cols["volume"].append(100 * rng.integers(1, 20, n_t))
        trade_id, quote_id = trade_id + n_t, quote_id + n_q

    def table(cols):
        d = {k: np.concatenate(v) for k, v in cols.items()}
        return pa.table({k: (_ts(v) if k == "ts" else pa.array(v)) for k, v in d.items()})

    trades, quotes = table(t_cols), table(q_cols)
    shape = {
        "symbols": n_sym,
        "zipf_s": c["zipf_s"],
        "top_symbol_share": round(float(sizes.max() / sizes.sum()), 4),
        "quotes_per_trade": round(quotes.num_rows / trades.num_rows, 3),
    }
    return {"trades": trades, "quotes": quotes}, shape


def gen_sensor(rng: np.random.Generator, scale: float):
    c = SENSOR
    n_dev = _n(c["devices"], scale)
    span_us = c["span_s"] * 1_000_000
    readings = {k: [] for k in ("device", "ts", "temp", "humidity")}
    alarms = {k: [] for k in ("device", "start_ts", "end_ts", "severity", "code")}
    kept = total = 0
    for d in range(n_dev):
        dev = f"D{d:04d}"
        n = int(span_us / (c["mean_gap_s"] * 1_000_000))
        us = _unique_sorted_us(rng, n, span_us)
        keep = np.ones(n, dtype=bool)
        for _ in range(c["outages"]):
            start = rng.integers(0, span_us)
            keep &= ~((us >= start) & (us < start + rng.integers(*c["outage_s"]) * 1_000_000))
        us = us[keep]
        kept, total = kept + len(us), total + n
        phase = rng.uniform(0, 2 * np.pi)
        t = us / 3.6e9
        readings["device"].append(np.full(len(us), dev))
        readings["ts"].append(DAY0_US + us)
        readings["temp"].append(_dyadic(20 + 5 * np.sin(t + phase) + rng.normal(0, 0.5, len(us))))
        readings["humidity"].append(_dyadic(50 + 10 * np.cos(t + phase) + rng.normal(0, 1, len(us))))
        # alarm lanes: intervals within a lane never overlap, so the
        # coverage depth at any instant is at most alarm_depth
        for _ in range(c["alarm_depth"]):
            pos = int(rng.integers(0, c["alarm_pause_s"][1])) * 1_000_000
            while True:
                length = int(rng.integers(*c["alarm_len_s"])) * 1_000_000
                if pos + length > span_us:
                    break
                alarms["device"].append(dev)
                alarms["start_ts"].append(DAY0_US + pos)
                alarms["end_ts"].append(DAY0_US + pos + length)
                alarms["severity"].append(int(rng.integers(1, 6)))
                alarms["code"].append(int(rng.integers(100, 200)))
                pos += length + int(rng.integers(*c["alarm_pause_s"])) * 1_000_000

    r = {k: np.concatenate(v) for k, v in readings.items()}
    readings_t = pa.table({
        "device": pa.array(r["device"]), "ts": _ts(r["ts"]),
        "temp": pa.array(r["temp"]), "humidity": pa.array(r["humidity"]),
    })
    alarms_t = pa.table({
        "device": pa.array(alarms["device"]),
        "start_ts": _ts(np.array(alarms["start_ts"])),
        "end_ts": _ts(np.array(alarms["end_ts"])),
        "severity": pa.array(alarms["severity"], type=pa.int32()),
        "code": pa.array(alarms["code"], type=pa.int32()),
    })
    shape = {
        "devices": n_dev,
        "gap_rate": round(1 - kept / total, 4),
        "overlap_depth": c["alarm_depth"],
    }
    return {"readings": readings_t, "alarms": alarms_t}, shape


def gen_corpus(rng: np.random.Generator, scale: float):
    c = CORPUS
    n_docs = _n(c["docs"], scale)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab, seen = [], set(STOPWORDS)
    while len(vocab) < c["vocab"]:
        w = "".join(rng.choice(letters, int(rng.integers(3, 10))))
        if w not in seen:
            seen.add(w)
            vocab.append(w)
    vocab = np.array(STOPWORDS + vocab)
    weights = 1.0 / np.arange(1, len(vocab) + 1) ** c["zipf_s"]
    weights /= weights.sum()

    def words(n):
        return list(vocab[rng.choice(len(vocab), n, p=weights)])

    texts = [" ".join(words(int(rng.integers(*c["words"])))) for _ in range(n_docs)]
    langs = list(rng.choice(LANGS, n_docs, p=[0.55, 0.2, 0.15, 0.1]))
    planted = {"orig_id": [], "dup_id": [], "kind": []}
    for kind, rate in (("exact", c["exact_dup_rate"]), ("near", c["near_dup_rate"])):
        for orig in rng.choice(n_docs, int(round(rate * n_docs)), replace=False):
            toks = texts[orig].split(" ")
            if kind == "near":
                k = max(1, int(round(c["near_edit_frac"] * len(toks))))
                for i, w in zip(rng.choice(len(toks), k, replace=False), words(k)):
                    toks[i] = w
            planted["orig_id"].append(int(orig))
            planted["dup_id"].append(len(texts))
            planted["kind"].append(kind)
            texts.append(" ".join(toks))
            langs.append(langs[orig])
    order = rng.permutation(len(texts))
    docs = pa.table({
        "doc_id": pa.array(order.astype("int64")),
        "text": pa.array([texts[i] for i in order]),
        "lang": pa.array([langs[i] for i in order]),
    })
    planted_t = pa.table({k: pa.array(v) for k, v in planted.items()})
    shape = {
        "docs": docs.num_rows,
        "vocab": len(vocab),
        "zipf_s": c["zipf_s"],
        "exact_dup_rate": c["exact_dup_rate"],
        "near_dup_rate": c["near_dup_rate"],
    }
    return {"docs": docs, "planted": planted_t}, shape


def gen_analyst(rng: np.random.Generator, scale: float):
    c = ANALYST
    n_ser = _n(c["series"], scale)
    span_us = c["span_s"] * 1_000_000
    frame = {k: [] for k in ("sid", "ts", "value", "volume")}
    quotes = {k: [] for k in ("sid", "ts", "ref")}
    for s in range(n_ser):
        sid = f"K{s:03d}"
        n, m = c["rows_per_series"], c["quotes_per_series"]
        us = DAY0_US + 2 * _unique_sorted_us(rng, n, span_us // 2) + 1
        frame["sid"].append(np.full(n, sid))
        frame["ts"].append(us)
        frame["value"].append(_dyadic(100 + np.cumsum(rng.normal(0, 1, n))))
        frame["volume"].append(rng.integers(1, 1000, n))
        quotes["sid"].append(np.full(m, sid))
        quotes["ts"].append(DAY0_US + 2 * _unique_sorted_us(rng, m, span_us // 2))
        quotes["ref"].append(_dyadic(rng.uniform(90, 110, m)))

    def table(cols):
        d = {k: np.concatenate(v) for k, v in cols.items()}
        return pa.table({k: (_ts(v) if k == "ts" else pa.array(v)) for k, v in d.items()})

    return {"frame": table(frame), "quotes": table(quotes)}, {"series": n_ser}


GENERATORS: dict[str, Callable] = {
    "ticks_asof": gen_ticks,
    "sensor_grid": gen_sensor,
    "corpus_prepare": gen_corpus,
    "analyst_queries": gen_analyst,
}


def table_digest(t: pa.Table) -> str:
    """sha256 over schema and column contents (row order included: the
    generator is deterministic, so its output order is part of the input)."""
    h = hashlib.sha256(str(t.schema).encode())
    for col in t.columns:
        h.update(col.to_numpy(zero_copy_only=False).astype(str).tobytes()
                 if pa.types.is_string(col.type)
                 else col.to_numpy(zero_copy_only=False).tobytes())
    return h.hexdigest()


def generate(workload: str, seed: int, scale: float = 1.0):
    """(tables, shape) for ``workload``; tables maps name -> pyarrow.Table."""
    rng = np.random.Generator(np.random.PCG64([seed, sorted(GENERATORS).index(workload)]))
    return GENERATORS[workload](rng, scale)


def write(tables: dict, out_dir: str) -> dict:
    """Write each table to ``out_dir/<name>.parquet``; returns name -> bytes."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, t in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path, row_group_size=1 << 20)
        sizes[name] = os.path.getsize(path)
    return sizes


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    args = ap.parse_args(argv)
    tables, shape = generate(args.workload, args.seed, args.scale)
    sizes = write(tables, args.out)
    print(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "rows": {k: t.num_rows for k, t in tables.items()},
        "bytes": sizes,
        "shape": shape,
        "digests": {k: table_digest(t) for k, t in tables.items()},
    }, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
