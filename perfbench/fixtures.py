"""Seeded benchmark inputs, generated in-process (no external data).

- ``lineitem``: TPC-H sf0.1 lineitem from DuckDB's built-in ``dbgen``
  (deterministic), given seeded times of day on ``l_shipdate`` and
  seeded CSV edge cases in ``l_comment`` (quotes, commas, NULL, empty
  string), shuffled by the seed and split into equal Parquet files.
- ``documents``: a synthetic whitespace-token corpus with a seeded
  share of near-duplicates (tokens changed per copy) and one
  exact-duplicate cluster larger than the minhash ``max_bucket``.

The same seed gives byte-identical inputs.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

LINEITEM_SCHEMA_DDL = (
    "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
    "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, "
    "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, "
    "l_linestatus STRING, l_shipdate TIMESTAMP, l_commitdate DATE, "
    "l_receiptdate DATE, l_shipinstruct STRING, l_shipmode STRING, "
    "l_comment STRING"
)
LINEITEM_COLUMNS = [c.split()[0] for c in LINEITEM_SCHEMA_DDL.split(", ")]


def _duckdb() -> duckdb.DuckDBPyConnection:
    # tpch ships inside the duckdb wheel; never fetch extensions.
    con = duckdb.connect(config={
        "autoinstall_known_extensions": "false",
        "autoload_known_extensions": "false",
        "threads": "4",
    })
    con.execute("SET enable_progress_bar = false")
    return con


def lineitem_table(seed: int) -> pa.Table:
    """TPC-H sf0.1 lineitem (600,572 rows) as one Arrow table in seeded
    row order."""
    con = _duckdb()
    try:
        con.execute("LOAD tpch")
        con.execute("CALL dbgen(sf=0.1)")
        base = con.sql(
            """
            SELECT l_orderkey, l_partkey, l_suppkey,
                   CAST(l_linenumber AS INTEGER) AS l_linenumber,
                   CAST(l_quantity AS DOUBLE) AS l_quantity,
                   CAST(l_extendedprice AS DOUBLE) AS l_extendedprice,
                   CAST(l_discount AS DOUBLE) AS l_discount,
                   CAST(l_tax AS DOUBLE) AS l_tax,
                   l_returnflag, l_linestatus,
                   CAST(l_shipdate AS TIMESTAMP) AS l_shipdate,
                   l_commitdate, l_receiptdate, l_shipinstruct,
                   l_shipmode, l_comment
            FROM lineitem
            ORDER BY l_orderkey, l_linenumber
            """
        ).arrow()
    finally:
        con.close()
    if isinstance(base, pa.RecordBatchReader):
        base = base.read_all()
    rng = np.random.default_rng(seed)
    n = base.num_rows
    # Half the ship timestamps get a time of day; half of those carry
    # microseconds, so both timestamp renderings are exercised.
    day_us = rng.integers(0, 86_400, n) * 1_000_000
    day_us = np.where(rng.random(n) < 0.5, day_us + rng.integers(1, 1_000_000, n), day_us)
    day_us = np.where(rng.random(n) < 0.5, day_us, 0)
    ship = pc.cast(base["l_shipdate"], pa.int64()).to_numpy() + day_us
    # CSV dialect edge cases in the free-text column: NULL, empty
    # string, and embedded quotes next to a comma, 1% of rows each.
    comments = base["l_comment"]
    edge = rng.random(n)
    quoted = pc.binary_join_element_wise('say "', comments, '", twice', "")
    comments = pc.if_else(
        edge < 0.01,
        pa.nulls(n, pa.string()),
        pc.if_else(edge < 0.02, "", pc.if_else(edge < 0.03, quoted, comments)),
    )
    table = base.set_column(
        base.schema.get_field_index("l_shipdate"),
        "l_shipdate",
        pa.array(ship, pa.timestamp("us")),
    ).set_column(base.schema.get_field_index("l_comment"), "l_comment", comments)
    return table.take(pa.array(rng.permutation(n)))


def write_parquet_files(table: pa.Table, out_dir: str, files: int) -> list[str]:
    """Split ``table`` into ``files`` equal, contiguous Parquet files."""
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // files)
    paths = []
    for i in range(files):
        path = os.path.join(out_dir, f"part-{i:03d}.parquet")
        pq.write_table(table.slice(i * step, step), path)
        paths.append(path)
    return paths


def _vocabulary(size: int) -> np.ndarray:
    """A fixed vocabulary of distinct lowercase words (seed-independent)."""
    rng = np.random.default_rng(0)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < size:
        length = int(rng.integers(3, 10))
        words.add("".join(rng.choice(letters, length)))
    return np.array(sorted(words))


def documents_table(n_docs: int, seed: int) -> pa.Table:
    """``(doc_id BIGINT, text STRING)`` with seeded near-duplicates and
    one exact-duplicate cluster of 1,200 docs, above the minhash
    ``max_bucket`` of 1,000.

    Unique docs draw 40-160 tokens from a Zipf-weighted vocabulary. 8%
    of docs are near-duplicates: each copies an earlier doc and
    replaces a uniform share, 1-30%, of its tokens, so candidate pairs
    fall on both sides of the verify threshold. ``doc_id`` order is shuffled
    so copies are not adjacent to their sources.
    """
    rng = np.random.default_rng(seed)
    vocab = _vocabulary(20_000)
    weights = 1.0 / np.arange(1, len(vocab) + 1) ** 0.9
    weights /= weights.sum()
    n_hot = 1_200
    n_dup = int(n_docs * 0.08)
    n_unique = n_docs - n_dup - n_hot
    lengths = rng.integers(40, 161, n_unique)
    tokens = rng.choice(len(vocab), int(lengths.sum()), p=weights)
    docs = np.split(tokens, np.cumsum(lengths)[:-1])
    for src in rng.integers(0, n_unique, n_dup):
        copy = docs[int(src)].copy()
        k = max(1, int(len(copy) * rng.uniform(0.01, 0.3)))
        copy[rng.choice(len(copy), k, replace=False)] = rng.choice(len(vocab), k, p=weights)
        docs.append(copy)
    # A fixed-length hot doc keeps the corpus size the same for every seed.
    hot = rng.choice(len(vocab), 100, p=weights)
    docs.extend([hot] * n_hot)
    texts = [" ".join(vocab[d]) for d in docs]
    ids = rng.permutation(len(texts)).astype(np.int64)
    return pa.table({"doc_id": pa.array(ids), "text": pa.array(texts, pa.string())})
