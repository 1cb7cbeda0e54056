"""Tests for sources/io_ops.py — conversion kernels, dialect, merge scan.

Mirrors the reference's implicit correctness surface (SURVEY.md §5.2
layers 1-2): CSV dialect options and parquet→csv→readback round-trips.
"""

from __future__ import annotations

import datetime as dt
import glob
import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from convert_parquet_to_csv_spark.sources import (
    convert_parquet_to_csv,
    read_csv,
    read_parquet,
    read_parquet_merged,
    write_csv,
    write_parquet,
)


def _lineitem_path(sf_small):
    return os.path.join(sf_small, "lineitem.parquet")


def test_convert_roundtrip_preserves_values(spark, sf_small, tmp_path):
    """parquet → csv → typed readback == original (modulo CSV erasure).

    The core correctness statement of a conversion engine
    (SURVEY.md §5.2 layer 2).
    """
    src = _lineitem_path(sf_small)
    dst = str(tmp_path / "lineitem_csv")
    convert_parquet_to_csv(spark, src, dst)

    orig = read_parquet(spark, src)
    back = read_csv(spark, dst, schema=orig.schema)
    assert back.count() == orig.count()
    # Order-insensitive full-content comparison.
    assert back.exceptAll(orig).count() == 0
    assert orig.exceptAll(back).count() == 0


def test_convert_sql_flavor(spark, sf_small, tmp_path):
    """The DuckDB COPY(SELECT *) flavor via the SQL front door."""
    src = _lineitem_path(sf_small)
    dst = str(tmp_path / "li_sql")
    convert_parquet_to_csv(spark, src, dst, sql_flavor=True)
    orig = read_parquet(spark, src)
    back = read_csv(spark, dst, schema=orig.schema)
    assert back.exceptAll(orig).count() == 0


def test_single_file_output(spark, sf_small, tmp_path):
    """Kernels 7-10 write one exact-named file (reference utils.py:126)."""
    src = _lineitem_path(sf_small)
    dst = str(tmp_path / "lineitem.csv")
    convert_parquet_to_csv(spark, src, dst, single_file=True)
    assert os.path.isfile(dst)
    with open(dst) as f:
        header = f.readline().strip()
    assert header.startswith("l_orderkey,")


def test_max_records_per_file_caps_outputs(spark, sf_small, tmp_path):
    """The lazy-polars PartitionMaxSize semantics (utils.py:237-240)."""
    src = _lineitem_path(sf_small)
    dst = str(tmp_path / "li_capped")
    convert_parquet_to_csv(spark, src, dst, max_records_per_file=1000)
    files = sorted(glob.glob(os.path.join(dst, "part-*.csv")))
    assert len(files) >= 6  # 6000 rows / 1000 cap
    for fp in files:
        with open(fp) as f:
            n = sum(1 for _ in f) - 1  # minus header
        assert n <= 1000


def test_with_index_contiguous(spark, sf_small, tmp_path):
    """pandas kernel's index column (utils.py:160), contiguous 0-based."""
    src = os.path.join(sf_small, "orders.parquet")
    dst = str(tmp_path / "orders_idx")
    convert_parquet_to_csv(spark, src, dst, with_index=True)
    back = read_csv(spark, dst)
    n = back.count()
    stats = back.agg(
        F.min("index").alias("mn"),
        F.max("index").alias("mx"),
        F.countDistinct("index").alias("dc"),
    ).first()
    assert stats["mn"] == 0 and stats["mx"] == n - 1 and stats["dc"] == n


def test_with_row_index_pins_shuffled_input(spark):
    """_with_row_index's offsets job and final job each evaluate the
    input plan; a plan with an Exchange must be pinned (eager
    localCheckpoint) so both jobs see identical partition contents —
    the latent misnumbering class from the r2 review."""
    from convert_parquet_to_csv_spark.sources.io_ops import _with_row_index

    df = spark.range(5000).repartition(7)  # Exchange in the plan
    out = _with_row_index(df)
    stats = out.agg(
        F.min("index").alias("mn"),
        F.max("index").alias("mx"),
        F.countDistinct("index").alias("dc"),
    ).first()
    assert stats["mn"] == 0 and stats["mx"] == 4999 and stats["dc"] == 5000
    # deterministic scans must NOT pay the checkpoint
    plain = spark.range(100)
    plan = plain._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_with_row_index_follows_source_row_order(spark):
    """The index is the row's position in partition-then-row order:
    over a multi-partition range it equals ``id``, both on a plain
    scan and behind a range Exchange (the checkpointed branch)."""
    from convert_parquet_to_csv_spark.sources.io_ops import _with_row_index

    scan = spark.range(0, 3000, 1, 7)
    ranged = (
        spark.range(3000).repartitionByRange(5, "id").sortWithinPartitions("id")
    )
    for df in (scan, ranged):
        out = _with_row_index(df)
        assert out.columns == ["index", "id"]
        assert out.filter(F.col("index") != F.col("id")).count() == 0
        assert out.count() == 3000


def test_csv_dialect_nulls_and_quotes(spark, tmp_path):
    """SURVEY.md §2.2: empty-string nulls, minimal quoting, embedded
    separators/quotes/newlines survive a round-trip."""
    df = spark.createDataFrame(
        [
            (1, 'has,comma', 1.5),
            (2, 'has"quote', None),
            (3, "has\nnewline", -0.0),
            (4, None, 2.0),
            (5, "", 3.0),
        ],
        "id INT, s STRING, v DOUBLE",
    )
    dst = str(tmp_path / "dialect")
    write_csv(df, dst)
    back = read_csv(spark, dst, schema="id INT, s STRING, v DOUBLE")
    # null round-trips to null; NOTE: empty string becomes null under
    # CSV erasure (both render as "") — the documented lossy case.
    rows = {r["id"]: r for r in back.collect()}
    assert rows[1]["s"] == "has,comma"
    assert rows[2]["s"] == 'has"quote' and rows[2]["v"] is None
    assert rows[3]["s"] == "has\nnewline"
    assert rows[4]["s"] is None
    assert rows[5]["s"] is None  # CSV erasure: "" ≡ null
    assert back.count() == 5


def test_timestamp_rendering_roundtrip(spark, tmp_path):
    """Timestamps round-trip through the pinned format incl. micros."""
    import datetime as dt

    df = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 3, 1, 12, 30, 45)),
            (2, dt.datetime(2024, 3, 1, 12, 30, 45, 123456)),
        ],
        "id INT, ts TIMESTAMP",
    )
    dst = str(tmp_path / "ts")
    write_csv(df, dst)
    back = read_csv(spark, dst, schema="id INT, ts TIMESTAMP")
    got = {r["id"]: r["ts"] for r in back.collect()}
    assert got[1] == dt.datetime(2024, 3, 1, 12, 30, 45)
    assert got[2] == dt.datetime(2024, 3, 1, 12, 30, 45, 123456)


_GOLDEN_SCHEMA = (
    "b TINYINT, s SMALLINT, i INT, l BIGINT, f FLOAT, d DOUBLE, "
    "bo BOOLEAN, str STRING, dt DATE, dec DECIMAL(28,10), ts TIMESTAMP, "
    "ntz TIMESTAMP_NTZ"
)


def _golden_rows():
    from decimal import Decimal as D

    def ts(*a):
        return dt.datetime(*a, tzinfo=dt.timezone.utc)

    ntz = dt.datetime
    return [
        (-128, -32768, -2**31, -2**63, 1.4e-45, -0.0, True, "a,b",
         dt.date(1, 1, 1), D("0E-10"),
         ts(2024, 3, 1, 12, 30, 45), ntz(2024, 3, 1, 12, 30, 45)),
        (127, 32767, 2**31 - 1, 2**63 - 1, 3.4e38, float("nan"), False,
         'say "hi"', dt.date(1582, 10, 10), D("1E-8"),
         ts(2024, 3, 1, 12, 30, 45, 123456),
         ntz(2024, 3, 1, 12, 30, 45, 123456)),
        (0, 0, 0, 0, 0.0, float("inf"), None, "line\nbreak",
         dt.date(9999, 12, 31), D("-12345678901234567.8901234567"),
         ts(1998, 12, 1, 14, 33, 3, 927490),
         ntz(1998, 12, 1, 14, 33, 3, 927490)),
        (None, None, None, None, None, float("-inf"), True, "  padded  ",
         None, None, None, None),
        (1, 1, 1, 1, 1.5, 1.0e20, False, "", dt.date(1970, 1, 1),
         D("1.5"), ts(1, 1, 1, 0, 0, 0), ntz(9999, 12, 31, 23, 59, 59, 999999)),
        (2, 2, 2, 2, -2.5, 4.9e-324, True, None, dt.date(2000, 2, 29),
         D("0"), ts(2000, 1, 1, 0, 0, 0, 100000),
         ntz(2000, 1, 1, 0, 0, 0, 100000)),
        (3, 3, 3, 3, 0.1, 1.23456789123e8, False, "naïve ☃ 日本",
         dt.date(2024, 1, 1), D("100"), ts(2024, 1, 1), ntz(2024, 1, 1)),
    ]


# TIMESTAMP pads present sub-seconds to 6 digits (.927490);
# TIMESTAMP_NTZ trims trailing zeros (.92749). Decimals keep their
# scale in plain notation (0.0000000000, not 0E-10).
_GOLDEN_CSV = (
    "b,s,i,l,f,d,bo,str,dt,dec,ts,ntz\n"
    "-128,-32768,-2147483648,-9223372036854775808,1.4E-45,-0.0,true,"
    '"a,b",0001-01-01,0.0000000000,2024-03-01 12:30:45,2024-03-01 12:30:45\n'
    "127,32767,2147483647,9223372036854775807,3.4E38,NaN,false,"
    '"say ""hi""",1582-10-10,0.0000000100,2024-03-01 12:30:45.123456,'
    "2024-03-01 12:30:45.123456\n"
    '0,0,0,0,0.0,Infinity,,"line\nbreak",9999-12-31,'
    "-12345678901234567.8901234567,1998-12-01 14:33:03.927490,"
    "1998-12-01 14:33:03.92749\n"
    ",,,,,-Infinity,true,  padded  ,,,,\n"
    '1,1,1,1,1.5,1.0E20,false,"",1970-01-01,1.5000000000,'
    "0001-01-01 00:00:00,9999-12-31 23:59:59.999999\n"
    "2,2,2,2,-2.5,4.9E-324,true,,2000-02-29,0.0000000000,"
    "2000-01-01 00:00:00.100000,2000-01-01 00:00:00.1\n"
    "3,3,3,3,0.1,1.23456789123E8,false,naïve ☃ 日本,2024-01-01,"
    "100.0000000000,2024-01-01 00:00:00,2024-01-01 00:00:00\n"
).encode()


def test_csv_dialect_golden_bytes(spark, tmp_path):
    """The dialect's exact bytes over every rendered type: integral
    extremes, float/double specials, quoting, dates at the calendar
    edges, decimal scale and both timestamp flavours."""
    df = spark.createDataFrame(_golden_rows(), _GOLDEN_SCHEMA)
    dst = str(tmp_path / "golden.csv")
    write_csv(df, dst, single_file=True)
    with open(dst, "rb") as f:
        assert f.read() == _GOLDEN_CSV


def _prerendered(df):
    """Every column rendered to text before the writer: timestamps by
    the seconds-or-micros ``date_format``, everything else by
    ``cast(string)``."""
    from pyspark.sql.types import TimestampType

    fmt = "yyyy-MM-dd HH:mm:ss"
    cols = []
    for field in df.schema.fields:
        c = F.col(field.name)
        if isinstance(field.dataType, TimestampType):
            c = F.when(
                c == F.date_trunc("second", c), F.date_format(c, fmt)
            ).otherwise(F.date_format(c, fmt + ".SSSSSS"))
        else:
            c = c.cast("string")
        cols.append(c.alias(field.name))
    return df.select(*cols)


def _maybe(strategy):
    return st.one_of(st.none(), strategy)


def _ints(bits):
    return _maybe(st.integers(-(2 ** (bits - 1)), 2 ** (bits - 1) - 1))


_golden_type_rows = st.lists(
    st.tuples(
        _ints(8), _ints(16), _ints(32), _ints(64),
        _maybe(st.floats(width=32)),
        _maybe(st.floats()),
        _maybe(st.booleans()),
        _maybe(st.text(
            alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)),
            max_size=20,
        )),
        _maybe(st.dates()),
        _maybe(st.decimals(
            min_value=-(10**18) + 1, max_value=10**18 - 1, places=10,
            allow_nan=False, allow_infinity=False,
        )),
        _maybe(st.datetimes(timezones=st.just(dt.timezone.utc))),
        _maybe(st.datetimes()),
    ),
    min_size=1,
    max_size=30,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_golden_type_rows)
def test_csv_bytes_match_prerendered_shape(spark, tmp_path_factory, rows):
    """On random rows of every golden type, ``write_csv`` writes the
    same bytes as pre-rendering every column to text (the oracle
    shape: :func:`_prerendered` + the plain :data:`CSV_DEFAULTS`
    writer)."""
    from convert_parquet_to_csv_spark.sources.io_ops import CSV_DEFAULTS

    base = tmp_path_factory.mktemp("bytes")
    df = spark.createDataFrame(rows, _GOLDEN_SCHEMA)
    got = str(base / "got.csv")
    write_csv(df, got, single_file=True)
    want = str(base / "want")
    _prerendered(df).coalesce(1).write.options(**CSV_DEFAULTS).csv(want)
    (part,) = glob.glob(os.path.join(want, "part-*.csv"))
    with open(got, "rb") as g, open(part, "rb") as w:
        assert g.read() == w.read()


def test_stringify_renders_only_what_the_writer_cannot(spark):
    """Over the lineitem schema as Spark reads the benchmark's Parquet
    files, only ``l_shipdate`` (TIMESTAMP_NTZ) is cast; every other
    column reaches the writer as the scanned attribute. A schema with
    nothing to render gets no projection at all."""
    import re

    from convert_parquet_to_csv_spark.sources.io_ops import _stringify_for_csv

    lineitem = spark.createDataFrame(
        [],
        "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
        "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, "
        "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, "
        "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ, l_commitdate DATE, "
        "l_receiptdate DATE, l_shipinstruct STRING, l_shipmode STRING, "
        "l_comment STRING",
    )
    out = _stringify_for_csv(lineitem)
    assert out.columns == lineitem.columns
    plan = out._jdf.queryExecution().analyzed().toString()
    top = plan.splitlines()[0]
    assert top.startswith("Project")
    assert re.findall(r"cast\((\w+)#", top) == ["l_shipdate"]
    assert "date_format" not in top

    plain = lineitem.drop("l_shipdate")
    assert _stringify_for_csv(plain) is plain


def test_merged_scan_schema_drift(spark, tmp_path):
    """union_by_name semantics (utils.py:104): missing cols NULL-fill,
    by-name alignment across reordered columns."""
    a = spark.createDataFrame([(1, "x", 10.0)], "id INT, name STRING, fee DOUBLE")
    b = spark.createDataFrame([("y", 2)], "name STRING, id INT")  # no fee, reordered
    pa, pb = str(tmp_path / "m1"), str(tmp_path / "m2")
    a.write.parquet(pa)
    b.write.parquet(pb)

    merged = read_parquet_merged(spark, [pa, pb], provenance_col="filename")
    assert set(merged.columns) == {"id", "name", "fee", "filename"}
    rows = {r["id"]: r for r in merged.collect()}
    assert rows[1]["fee"] == 10.0 and rows[2]["fee"] is None
    assert rows[1]["filename"] != rows[2]["filename"]
    assert all(r["filename"].endswith(".parquet") for r in rows.values())

    # mergeSchema flavor over a common parent dir
    merged2 = read_parquet(
        spark, pa, pb, merge_schema=True, provenance_col="filename"
    )
    assert set(merged2.columns) == {"id", "name", "fee", "filename"}
    assert merged2.count() == 2


def test_write_parquet_single_file(spark, sf_small, tmp_path):
    """Exact-named single parquet file (reference utils.py:72-73)."""
    df = read_parquet(spark, os.path.join(sf_small, "region.parquet"))
    dst = str(tmp_path / "region_out.parquet")
    write_parquet(df, dst, single_file=True)
    assert os.path.isfile(dst)
    back = read_parquet(spark, dst)
    assert back.count() == df.count()


def test_partitioned_write_prunes_directories(spark, sf_small, tmp_path):
    """partition_by layout: a filter on the partition column must show
    up as PartitionFilters and scan only that year's files."""
    from convert_parquet_to_csv_spark.sources.io_ops import write_parquet

    orders = read_parquet(spark, os.path.join(sf_small, "orders.parquet"))
    dst = str(tmp_path / "orders_part")
    write_parquet(
        orders.withColumn("order_year", F.year("o_orderdate").cast("int")),
        dst,
        partition_by=["order_year"],
        sort_within_by=["o_orderdate"],
    )
    back = spark.read.parquet(dst).filter(F.col("order_year") == 1996)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # only the 1996 directory is read
    files = back.select(F.input_file_name().alias("f")).distinct().collect()
    assert all("order_year=1996" in r.f for r in files)
    # values survive the partitioned roundtrip
    want = orders.filter(F.year("o_orderdate") == 1996).count()
    assert back.count() == want


def test_partition_by_single_file_conflict(spark, sf_small, tmp_path):
    from convert_parquet_to_csv_spark.sources.io_ops import write_parquet

    orders = read_parquet(spark, os.path.join(sf_small, "orders.parquet"))
    with pytest.raises(ValueError):
        write_parquet(
            orders, str(tmp_path / "x"), single_file=True,
            partition_by=["o_orderstatus"],
        )


def test_dynamic_partition_overwrite_touches_only_written_partitions(
    spark, tmp_path
):
    """partitionOverwriteMode=dynamic: rewriting one partition's data
    must leave sibling partitions intact — the incremental-landing
    pattern (static mode would truncate the whole table root)."""
    from pyspark.sql import functions as F

    dst = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "v LONG, p STRING"
    )
    base.write.partitionBy("p").mode("overwrite").parquet(dst)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        patch = spark.createDataFrame([(99, "b")], "v LONG, p STRING")
        patch.write.partitionBy("p").mode("overwrite").parquet(dst)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    got = {
        (r.v, r.p) for r in spark.read.parquet(dst).collect()
    }
    assert got == {(1, "a"), (2, "a"), (99, "b")}


def test_ignore_corrupt_files_reads_the_rest(spark, tmp_path):
    """A torn/garbage file in a landing directory must not take down
    the whole scan when ignoreCorruptFiles is on — the 100 TB reality
    where one bad upload out of a million files is routine."""
    import os

    d = str(tmp_path / "mixed")
    spark.range(10).write.mode("overwrite").parquet(d)
    with open(os.path.join(d, "part-corrupt.parquet"), "wb") as fh:
        fh.write(b"PAR1 this is not really parquet")
    prev = spark.conf.get("spark.sql.files.ignoreCorruptFiles")
    try:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
        assert spark.read.parquet(d).count() == 10
    finally:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", prev)


def test_observe_metrics_piggyback_on_the_action(spark):
    """df.observe(): pipeline metrics collected DURING the main action
    — no second scan. The curation-pipeline shape wants this for
    filter-rate dashboards."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation("filter_stats")
    df = (
        spark.range(1000)
        .observe(
            obs,
            F.count(F.lit(1)).alias("n_in"),
            F.sum(F.when(F.col("id") % 3 == 0, 1).otherwise(0)).alias(
                "n_kept"
            ),
        )
        .filter(F.col("id") % 3 == 0)
    )
    assert df.count() == 334
    assert obs.get == {"n_in": 1000, "n_kept": 334}


def test_xml_roundtrip_row_level_fidelity(spark, sf_small):
    """XML write→read preserves every documents row exactly (ids,
    lang, n_chars) — stronger than the gate's aggregate check; text
    markup-escapes and returns byte-identical for newline-free docs
    (the XML reader's whitespace handling is only exercised, not
    asserted, for multi-line text)."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from convert_parquet_to_csv_spark.plans.common import load_table

    docs = load_table(spark, sf_small, "documents")
    dst = os.path.join(tempfile.gettempdir(), "cptc_xml_fidelity")
    (
        docs.write.mode("overwrite")
        .format("xml")
        .option("rootTag", "docs")
        .option("rowTag", "doc")
        .save(dst)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "doc")
        .schema(docs.schema)
        .load(dst)
    )
    a = sorted(
        docs.select("doc_id", "lang", "n_chars", "source").collect()
    )
    b = sorted(
        back.select("doc_id", "lang", "n_chars", "source").collect()
    )
    assert a == b
    one_line = docs.filter(~F.col("text").contains("\n"))
    if one_line.count():
        ta = sorted(one_line.select("doc_id", "text").collect())
        tb = sorted(
            back.join(one_line.select("doc_id"), "doc_id")
            .select("doc_id", "text")
            .collect()
        )
        assert ta == tb


def test_dynamic_partition_pruning_fires(spark, sf_small):
    """The year-partitioned fact scan must carry a dynamicpruning
    PartitionFilter injected from the dim side at runtime."""
    from convert_parquet_to_csv_spark.plans import registry

    registry.load_all()
    df = registry.QUERIES["dynamic_partition_pruning_join"](
        spark, sf_small
    )
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()


def test_csv_nul_byte_dialect_edge(spark, tmp_path):
    """NUL bytes sit OUTSIDE the supported CSV dialect — pin exactly
    how they degrade so a parser upgrade that changes the behavior is
    caught. Writer: verbatim bytes. Reader (univocity, which uses
    '\\0' as its internal no-character sentinel): a QUOTED value's
    trailing NUL is dropped; interior and unquoted NULs survive.
    Hypothesis found the edge ('\\n\\x00'); the roundtrip property
    suite excludes \\x00 and points here."""
    src = str(tmp_path / "src.parquet")
    dst = str(tmp_path / "out_csv")
    df = spark.createDataFrame(
        [(1, "\n\x00"), (2, "a\x00b"), (3, "\x00")],
        "id LONG, s STRING",
    )
    df.write.mode("overwrite").parquet(src)
    convert_parquet_to_csv(spark, src, dst)
    raw = b"".join(
        open(f, "rb").read() for f in sorted(glob.glob(dst + "/*.csv"))
    )
    assert b"\x00" in raw  # writer emits NUL verbatim
    back = {
        r.id: r.s
        for r in read_csv(spark, dst, schema="id LONG, s STRING").collect()
    }
    assert back[1] == "\n"      # quoted trailing NUL: dropped by parser
    assert back[2] == "a\x00b"  # interior NUL: survives
    assert back[3] == "\x00"    # unquoted NUL: survives
