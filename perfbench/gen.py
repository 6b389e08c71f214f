"""Seeded input generators. The program under test sees only what these
functions return: file inventories for the metadata-plane workloads and a
small TPC-H-shaped corpus for the query registry.

The same seed gives identical inputs. A different seed gives the same file,
partition and row counts with different sizes, record counts, statistics
and values."""

from __future__ import annotations

import os

import numpy as np

#: the fixed small schema every fabricated data file claims to hold:
#: (name, Spark SQL type, kind of seeded min/max statistic)
INVENTORY_COLUMNS = (("k", "bigint"), ("p", "int"), ("name", "string"))


def inventory_rows(seed: int, root: str, partitions: int, files_per: int, commit: int = 0) -> list:
    """``partitions * files_per`` FILES_SCHEMA tuples under ``root``.

    Every file carries a seeded size, record count and min/max/null
    statistics for :data:`INVENTORY_COLUMNS`. Paths depend only on the
    partition, commit and file index, so two seeds share the layout."""
    rng = np.random.default_rng([seed, commit])
    n = partitions * files_per
    sizes = rng.integers(256 * 1024, 8 * 1024 * 1024, n)
    records = rng.integers(1_000, 200_000, n)
    k_lo = rng.integers(0, 1 << 40, n)
    k_span = rng.integers(1, 1 << 20, n)
    nulls = rng.integers(0, 50, n)
    names = rng.integers(0, 26 * 26, (n, 2))
    rows = []
    for i in range(n):
        part, idx = i % partitions, i // partitions
        rec = int(records[i])
        lo_name, hi_name = sorted(
            chr(97 + v // 26) + chr(97 + v % 26) for v in names[i]
        )
        stats = [
            ("k", str(int(k_lo[i])), str(int(k_lo[i] + k_span[i])), 0, rec, None),
            ("p", str(part), str(part), 0, rec, None),
            ("name", lo_name, hi_name, int(nulls[i]), rec, None),
        ]
        rows.append(
            (
                f"{root}/p={part}/c{commit}_f{idx}.parquet",
                "parquet",
                {"p": str(part)},
                int(sizes[i]),
                rec,
                1_700_000_000_000 + commit,
                stats,
            )
        )
    return rows


def inventory_df(spark, seed: int, root: str, partitions: int, files_per: int, commit: int = 0):
    """:func:`inventory_rows` as a FILES_SCHEMA DataFrame."""
    from onetable_spark.model import FILES_SCHEMA
    from onetable_spark.session import local_rows_df

    rows = inventory_rows(seed, root, partitions, files_per, commit)
    return local_rows_df(spark, rows, FILES_SCHEMA)


def inventory_schema():
    from pyspark.sql import types as T

    kinds = {"bigint": T.LongType(), "int": T.IntegerType(), "string": T.StringType()}
    return T.StructType([T.StructField(c, kinds[t]) for c, t in INVENTORY_COLUMNS])


# ------------------------------------------------------------ registry corpus

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "red", "small", "hot", "big", "green", "cold", "tiny"]
_NOUN = ["anvil", "widget", "ring", "bolt", "gear", "gizmo", "nut", "spring"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()


def corpus_tables(seed: int, sf: float = 0.01) -> dict:
    """The ten registry tables (``onetable_spark.session.TABLES``) as
    pyarrow tables, TPC-H shaped at scale factor ``sf``."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc = int(1_000_000 * sf), 500

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, n_days, n):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, n_days, n).astype("timedelta64[D]").astype("timedelta64[us]")

    t = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n_part), rng.choice(_NOUN, n_part))],
            "p_brand": [f"Brand#{v}" for v in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000, 500_000, n_ord),
            "o_orderdate": days("1995-01-01", 2400, n_ord),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": days("1995-01-02", 2500, n_line),
        }
    )
    gaps = rng.exponential(30 * 86400e6 / n_ev, n_ev).astype(np.int64)
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]"),
            "user_id": rng.integers(0, 150, n_ev).astype(np.int64),
            "event_type": rng.choice(_EVENTS, n_ev),
            "value": money(0.01, 490.0, n_ev),
            "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n_ev)],
        }
    )
    texts = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.15:
            # a near-duplicate of an earlier document: a few words swapped
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 12)):
                words[j] = str(rng.choice(_WORDS))
        else:
            words = list(rng.choice(_WORDS, int(rng.integers(8, 90))))
        texts.append(" ".join(words))
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n_doc),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    labels = rng.integers(0, 10, n_doc)
    centres = rng.normal(0, 1, (10, 64))
    vecs = centres[labels] + rng.normal(0, 0.6, (n_doc, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_doc, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )
    return t


def write_corpus(seed: int, out_dir: str, sf: float = 0.01) -> str:
    """Write :func:`corpus_tables` as ``<out_dir>/<table>.parquet``."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, table in corpus_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
