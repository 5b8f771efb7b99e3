"""Seeded generator for the registry tables the query_mix workload reads.

Writes ``orders``, ``lineitem`` and ``documents`` as single parquet
files with the column names and types of the registry's sf tables
(``{sf_dir}/{name}.parquet``), so ``REGISTRY[q].spark(spark, sf_dir)``
and its DuckDB ``oracle_sql`` read them unchanged. Sizes are set per
table: the join queries get a large fact table, the n-gram and
perplexity queries a small corpus, so a pass over the query list costs
a few seconds.

The same seed writes the same bytes.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Document vocabulary and shape of the registry's documents table:
# uniform draws over 31 words, 10-100 tokens; near-duplicates carry a
# "dup" marker token.
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "de", "fr", "es", "zh"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _orders(rng: np.random.Generator, n: int, n_cust: int) -> pa.Table:
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n)),
        "o_totalprice": pa.array(
            np.round(rng.uniform(1000, 500_000, n), 2)),
        "o_orderdate": _ts(
            EPOCH_1995 + rng.integers(0, ORDER_DAYS, n) * DAY_US),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n)),
    })


def _lineitem(rng: np.random.Generator, n: int, n_orders: int,
              n_parts: int) -> pa.Table:
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_parts, n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 1000, n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(
            np.round(rng.uniform(900, 105_000, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": _ts(
            EPOCH_1995 + rng.integers(1, ORDER_DAYS + 95, n) * DAY_US),
    })


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """About 10% of documents are near-duplicates of an earlier one
    (a few tokens replaced, a ``dup`` token appended) and 1% exact
    copies, so the LSH, n-gram and cluster queries find real pairs."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < 0.10:
            toks = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                toks[int(rng.integers(0, len(toks)))] = WORDS[
                    int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(toks + ["dup"]))
        elif i > 0 and r < 0.11:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(
                WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n)),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    })


def generate(out_dir: str, seed: int, *, orders: int, lineitems: int,
             documents: int) -> dict[str, int]:
    """Write the three tables under ``out_dir``; returns rows per table."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = {
        "orders": _orders(rng, orders, max(1, orders // 10)),
        "lineitem": _lineitem(rng, lineitems, orders, 20_000),
        "documents": _documents(rng, documents),
    }
    for name, t in tables.items():
        # bounded row groups: one row group is one scan task in Spark
        pq.write_table(t, out / f"{name}.parquet", row_group_size=65_536)
    return {name: t.num_rows for name, t in tables.items()}
