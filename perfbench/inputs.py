"""Seeded inputs for the workloads.

Everything here is a pure function of the seed and the sizes passed in, so
the same seed always gives the same files.  The engine only ever sees the
files written here:

* ``write_corpus`` — a transcript corpus from the engine's own
  ``generate_transcripts`` (hot-conversation skew kept), written as many
  parquet files so the pipeline plans several file-group batches;
* ``write_battery_tables`` — the TPC-H-ish star schema plus ``events``,
  ``documents`` and ``embeddings`` that the headline queries read, with the
  schema and value distributions of the tables in ``TESTDATA.md``
  (``lineitem`` ≈ 6M × sf rows).  Tables no headline query reads
  (``part``, ``supplier``) are not written.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: vocabulary of the synthetic ``documents.text`` (31 words, as in testdata)
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "es", "fr", "de", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
BATTERY_TABLES = (
    "region", "nation", "customer", "orders", "lineitem", "events",
    "documents", "embeddings",
)


def _list_parquet(path: str) -> list[str]:
    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
    )


def write_corpus(spark, out_dir: str, seed: int, n_turns: int, n_files: int) -> list[str]:
    """Write ~``n_turns`` generated turns as ``n_files`` parquet files."""
    from oplog_analyzer_spark.transcripts import generate_transcripts

    # generate_transcripts averages ~12 turns per conversation including the
    # hot conversations (every 1000th has 200 turns)
    df = generate_transcripts(
        spark, num_conversations=max(1, n_turns // 12), seed=seed, num_partitions=n_files
    )
    df.write.mode("overwrite").parquet(out_dir)
    return _list_parquet(out_dir)


def _ts(base: str, seconds: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us")
    return pa.array(start + (seconds * 1e6).astype("int64").astype("timedelta64[us]"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def battery_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Build the battery's tables in memory (row counts scale with ``sf``
    like the tables in TESTDATA.md: 600k lineitem rows at sf0.1)."""
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_orders = max(10, int(1_500_000 * sf))
    n_line = max(10, int(6_000_000 * sf))
    n_events = max(10, int(1_000_000 * sf))
    n_users = max(2, int(15_000 * sf))
    n_docs = max(10, int(50_000 * sf))
    n_vecs = max(10, int(20_000 * sf))
    days = 2500

    region = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    orders = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, days, n_orders) * 86400.0),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
    })
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n_orders, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, max(1, int(200_000 * sf)), n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, max(1, int(10_000 * sf)), n_line, dtype=np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts("1995-01-02", rng.integers(0, days, n_line) * 86400.0),
    })
    events = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts("2024-01-01", np.cumsum(rng.exponential(26.0, n_events))),
        "user_id": rng.integers(0, n_users, n_events, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    words = np.array(DOC_WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(words), n)])
        for n in rng.integers(10, 101, n_docs)
    ]
    # a few exact duplicates (8 per 5000 docs in testdata) for the dedup family
    for i in rng.choice(np.arange(1, n_docs), max(1, n_docs // 625), replace=False):
        texts[i] = texts[rng.integers(0, i)]
    documents = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "orders": orders, "lineitem": lineitem, "events": events,
        "documents": documents, "embeddings": embeddings,
    }


def write_battery_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write ``<out_dir>/<table>.parquet`` (one file each, as in testdata)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in battery_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
