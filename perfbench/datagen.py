"""Deterministic input tables for the benchmark, shaped as the project's
sf0.1 testdata.

The tables have the schemas of the testdata (`events`, `lineitem`,
`documents`, `embeddings`; lineitem only with the columns the benchmark
reads) so the query functions and their DuckDB oracle SQL run on them
unchanged.  Sizes and distributions are the ones measured on sf0.1:

  events      100,000 rows; event_id 0..n-1 in ts order; ts uniform over
              2024-01-01..2024-01-31 (µs); user_id uniform over 1,500
              users; event_type uniform over 5; value exponential with
              mean 50 (median 34.8), 2 decimals; props '{"k": 0..99}'
  lineitem    600,000 rows; l_orderkey uniform over 0..149,999 (147k
              distinct keys, Poisson(4) lines per key); l_linenumber
              uniform 1..7; l_shipdate uniform over the 2,499 days from
              1995-01-02; l_extendedprice uniform 900..105,000, 2 decimals
  documents   5,000 rows; 95% have 10..99 words drawn uniformly from a
              30-word vocabulary, 5% repeat an earlier document's text
              followed by " dup"; lang en 40% and de/es/fr/zh 15% each;
              source src0..src19 round robin; n_chars = len(text)
  embeddings  2,000 rows of 64 floats, each N(0, 0.125); label uniform 0..9

Every table is a pure function of DATA_SEED: the same checkout always
benchmarks the same bytes.  The run's --seed does not change the data; it
picks read keys, operation order and query order.

Usage: python3 perfbench/datagen.py <out_dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The first seed whose events table leaves 156 of the 1,500 users stale at
# Freshen.AsOf under a 24 h shelf life, as sf0.1's does (10.4%).
DATA_SEED = 5

VOCAB = ("a the data spark stream batch query table row column key value "
         "join group sort filter scan hash merge window order line part "
         "customer vector agg fast slow big small").split()
LANGS, LANG_P = ["en", "de", "es", "fr", "zh"], [0.4, 0.15, 0.15, 0.15, 0.15]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
JAN_2024_US = 1_704_067_200_000_000      # 2024-01-01T00:00:00Z in µs
DAY_US = 86_400_000_000
SHIP_DAY0 = 9_132                        # 1995-01-02 in days since epoch
SHIP_DAYS = 2_499


def events(rng, n=100_000, users=1_500):
    ts = np.sort(JAN_2024_US + rng.integers(0, 30 * DAY_US, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def lineitem(rng, n=600_000, orders=150_000):
    day = SHIP_DAY0 + rng.integers(0, SHIP_DAYS, n)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, orders, n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105_000.0, n), 2)),
        "l_shipdate": pa.array(day.astype(np.int64) * DAY_US, type=pa.timestamp("us")),
    })


def documents(rng, n=5_000, dup_share=0.05):
    dups = set(rng.choice(np.arange(1, n), int(n * dup_share), replace=False).tolist())
    texts = []
    for i in range(n):
        if i in dups:
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), rng.integers(10, 100))))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng, n=2_000, dim=64, labels=10):
    flat = pa.array(rng.normal(0.0, 0.125, n * dim).astype(np.float32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), flat),
        "label": pa.array(rng.integers(0, labels, n, dtype=np.int32)),
    })


TABLES = {"events": events, "lineitem": lineitem, "documents": documents,
          "embeddings": embeddings}


def generate(out_dir):
    """Write every table as `<out_dir>/<name>.parquet`; a `_done` marker
    makes a half-written directory visible as incomplete."""
    os.makedirs(out_dir, exist_ok=True)
    for i, (name, make) in enumerate(sorted(TABLES.items())):
        rng = np.random.default_rng([DATA_SEED, i])
        pq.write_table(make(rng), os.path.join(out_dir, f"{name}.parquet"))
    open(os.path.join(out_dir, "_done"), "w").close()


if __name__ == "__main__":
    generate(sys.argv[1])
