"""Parquet/CSV sources and sinks (SURVEY.md §2 Ops 1-2, 5-11).

Reference behaviors re-expressed Spark-first:

- multi-file merged scan with filename provenance
  (reference utils.py:97-105: ``read_parquet(union_by_name=true,
  filename=true)``) → ``mergeSchema`` + ``F.input_file_name()``;
- the five Parquet→CSV conversion kernels (reference utils.py:114-244)
  → ONE scan→sink pipeline with config presets (header,
  maxRecordsPerFile, single-file, row-index), because eager/lazy/
  chunked are engine *modes* in the reference and Spark's write path is
  always the lazy, pipelined, partition-parallel one;
- CSV dialect pinning (SURVEY.md §2.2): header on, empty-string nulls,
  a fixed timestamp format, minimal quoting.

Scale notes: the default sink is a directory of per-task files —
that is the only shape that scales; ``single_file=True`` (reference
kernels write one named file, utils.py:126, 155, 181, 207) coalesces to
one task and is explicitly the non-scalable convenience path.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# SURVEY.md §2.2 — the dialect the reference's engines agree on.
#
# TIMESTAMP text has sub-seconds only when present, always 6 digits
# (``14:33:03.927490``; DuckDB's COPY trims to ``.92749``), rendered by
# ``_stringify_for_csv``; ``[.SSSSSS]`` parses both forms on read.
# Nulls render as empty string in all five reference kernels.
CSV_TIMESTAMP_FORMAT = "yyyy-MM-dd HH:mm:ss[.SSSSSS]"
CSV_DEFAULTS: dict[str, str] = {
    "header": "true",
    "nullValue": "",
    "timestampFormat": CSV_TIMESTAMP_FORMAT,
    "dateFormat": "yyyy-MM-dd",  # the writer renders DATE columns itself
    "escape": '"',  # RFC-4180 double-quote escaping, like all 5 engines
    # Spark's CSV *writer* trims cell whitespace by default — no
    # reference engine does (found by the hypothesis roundtrip suite:
    # " " became NULL). Pin trimming off on both sides of the dialect.
    "ignoreLeadingWhiteSpace": "false",
    "ignoreTrailingWhiteSpace": "false",
}
# Dialect boundary (also hypothesis-found): NUL bytes are OUTSIDE the
# supported dialect. The writer emits them verbatim, but univocity
# (Spark's CSV parser) uses '\0' as an internal no-character sentinel
# and drops a quoted value's TRAILING NUL on readback — interior and
# unquoted NULs survive. No reader option controls this; behavior is
# pinned by tests/test_io_ops.py::test_csv_nul_byte_dialect_edge.


def read_parquet(
    spark: SparkSession,
    *paths: str,
    merge_schema: bool = False,
    provenance_col: str | None = None,
) -> DataFrame:
    """Scan one or more Parquet files/directories as a single DataFrame.

    ``merge_schema`` reconciles cross-file schema drift by column name
    (missing columns → NULL), the semantics of the reference's
    ``union_by_name=true`` (utils.py:104). ``provenance_col`` appends
    the source file path, the reference's ``filename=true``
    (utils.py:104).

    The scan is lazy; Catalyst pushes projections and predicates into
    the vectorized Parquet reader (check ``PushedFilters``/``ReadSchema``
    in ``.explain``), so callers should filter/select on the result
    freely — nothing is materialized here.
    """
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    df = reader.parquet(*paths)
    if provenance_col is not None:
        df = df.withColumn(provenance_col, F.input_file_name())
    return df


def read_parquet_merged(
    spark: SparkSession,
    paths: list[str],
    provenance_col: str | None = None,
) -> DataFrame:
    """Union-by-name merge of separately-read Parquet files.

    Equivalent to :func:`read_parquet` with ``merge_schema`` but built
    from explicit ``unionByName(allowMissingColumns=True)`` — needed
    when files disagree on column *types* (not just presence), where
    ``mergeSchema`` errors but per-file reads + union still align, the
    exact behavior of DuckDB's ``union_by_name`` (reference
    utils.py:104).
    """
    dfs = []
    for p in paths:
        df = spark.read.parquet(p)
        if provenance_col is not None:
            df = df.withColumn(provenance_col, F.input_file_name())
        dfs.append(df)
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs
    )


def read_parquet_nanos_ts(
    spark: SparkSession,
    *paths: str,
    nanos_cols: tuple[str, ...] = ("ts",),
) -> DataFrame:
    """Parquet scan tolerant of TIMESTAMP(NANOS) columns.

    Spark's reader rejects nanosecond parquet timestamps outright
    (PARQUET_TYPE_ILLEGAL); the supported path is ``nanosAsLong`` +
    explicit conversion. ``nanos_cols`` are truncated to microseconds
    (integer division — exact) and surfaced as TimestampType, matching
    DuckDB's TIMESTAMP_NS→TIMESTAMP cast semantics.

    The conversion is dtype-dispatched so the same entry point accepts
    files whose timestamps are already micro/millisecond-precision
    (read natively as TIMESTAMP/TIMESTAMP_NTZ): those are cast to
    session-zone TimestampType and otherwise left alone, so callers
    always see one stable type regardless of the writer's precision.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(*paths)
    for c in nanos_cols:
        if c not in df.columns:
            continue
        dtype = dict(df.dtypes)[c]
        if dtype == "bigint":
            df = df.withColumn(
                c, F.timestamp_micros(F.expr(f"`{c}` div 1000"))
            )
        elif dtype.startswith("timestamp"):
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def read_csv(
    spark: SparkSession,
    path: str,
    header: bool = True,
    infer_schema: bool = True,
    schema=None,
    multi_line: bool = True,
) -> DataFrame:
    """CSV source (reference main.py:14 manifest read via polars).

    ``infer_schema`` mirrors polars' type inference; pass ``schema``
    (DDL string or StructType) to skip the inference pass — at scale
    inference is a full extra scan, so production paths should always
    pin a schema.

    ``multi_line`` (default True) parses quoted fields with embedded
    newlines — required for byte-exact roundtrips of this module's own
    CSV sink. The cost: multiLine makes every file UNSPLITTABLE (one
    task per whole file), so a single large CSV input serializes onto
    one core. Callers scanning big external CSVs whose fields are known
    newline-free should pass ``multi_line=False`` to restore split
    parallelism.
    """
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    elif infer_schema:
        reader = reader.option("inferSchema", "true")
    reader = reader.option("timestampFormat", CSV_TIMESTAMP_FORMAT)
    # Match the sink's RFC-4180 double-quote escaping (Spark's default
    # escape is backslash, which no reference engine emits).
    reader = reader.option("escape", '"')
    if multi_line:
        reader = reader.option("multiLine", "true")
    return reader.csv(path)


def _single_file_collapse(directory: str, target: str, spark: SparkSession, ext: str) -> None:
    """Move the lone ``part-*`` file of ``directory`` to ``target``.

    Uses the Hadoop FileSystem API so it works on any supported
    filesystem, not just ``file:``. Only valid after a ``coalesce(1)``
    write; deliberately not offered for multi-file outputs.
    """
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    dir_path = jvm.org.apache.hadoop.fs.Path(directory)
    fs = dir_path.getFileSystem(hconf)
    target_path = jvm.org.apache.hadoop.fs.Path(target)
    part = None
    for status in fs.listStatus(dir_path):
        name = status.getPath().getName()
        if name.startswith("part-") and name.endswith(ext):
            part = status.getPath()
            break
    if part is None:  # pragma: no cover - write would have failed first
        raise FileNotFoundError(f"no part-*{ext} file under {directory}")
    if fs.exists(target_path):
        fs.delete(target_path, True)
    fs.rename(part, target_path)
    fs.delete(dir_path, True)


# The CSV writer renders these types byte-identically to cast(string).
_WRITER_RENDERED = (
    T.BooleanType, T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.StringType, T.DateType,
)


def _stringify_for_csv(df: DataFrame) -> DataFrame:
    """Render to text the columns the CSV writer would not write in the
    dialect; the writer renders the rest (``_WRITER_RENDERED``) itself.

    - TIMESTAMP: seconds, plus 6 sub-second digits only when there are
      any (the writer would print ``.000000`` on whole seconds).
    - TIMESTAMP_NTZ: ``cast(string)``, trailing zeros trimmed (the
      writer: ISO ``T``, milliseconds).
    - DECIMAL: ``cast(string)``, ``0.0000000000`` (the writer: ``0E-10``).
    - BINARY: ``cast(string)``, UTF-8 text (the writer: ``[61 62]``).
    - any other type: ``cast(string)`` (the writer rejects arrays, maps
      and structs). With nothing to render ``df`` is returned as is.
    """
    if all(isinstance(f.dataType, _WRITER_RENDERED) for f in df.schema):
        return df
    ts_fmt = "yyyy-MM-dd HH:mm:ss"
    cols = []
    for field in df.schema:
        c = F.col(field.name)
        if isinstance(field.dataType, T.TimestampType):
            c = F.when(
                c == F.date_trunc("second", c), F.date_format(c, ts_fmt)
            ).otherwise(F.date_format(c, ts_fmt + ".SSSSSS"))
        elif not isinstance(field.dataType, _WRITER_RENDERED):
            c = c.cast("string")
        cols.append(c.alias(field.name))
    return df.select(*cols)


def write_csv(
    df: DataFrame,
    path: str,
    header: bool = True,
    max_records_per_file: int | None = None,
    single_file: bool = False,
    null_value: str = "",
    mode: str = "overwrite",
    with_index: bool = False,
) -> None:
    """CSV sink with the reference's dialect surface (SURVEY.md §2.2).

    - ``header`` — all five reference kernels write one (utils.py:132,
      187; pandas/polars defaults).
    - ``max_records_per_file`` — the lazy-polars ``PartitionMaxSize``
      cap (utils.py:237-240) maps to Spark's ``maxRecordsPerFile``;
      files stay bounded regardless of partition size.
    - ``single_file`` — kernels 7-10 write one exact-named file;
      implemented as ``coalesce(1)`` + FS rename. Serializes the write
      through one task: convenience flag, never the 100 TB path.
    - ``with_index`` — the pandas kernel's leftover integer index
      column (utils.py:160, default ``index=True``); off by default as
      SURVEY.md §2.2 prescribes. Uses a zero-based contiguous id
      in source row order (:func:`_with_row_index`: per-partition
      offsets, no shuffle, no global sort).

    The writer renders numbers, booleans, strings and dates; the rest
    are rendered first by :func:`_stringify_for_csv`. The options are
    :data:`CSV_DEFAULTS` with ``header`` and ``null_value`` applied.
    """
    if with_index:
        df = _with_row_index(df)
    df = _stringify_for_csv(df)
    writer = (df.coalesce(1) if single_file else df).write.mode(mode).options(
        **{**CSV_DEFAULTS, "header": str(header).lower(), "nullValue": null_value}
    )
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    if single_file:
        tmp = path + "._spark_single_tmp"
        writer.csv(tmp)
        _single_file_collapse(tmp, path, df.sparkSession, ".csv")
    else:
        writer.csv(path)


def _with_row_index(df: DataFrame, name: str = "index") -> DataFrame:
    """Prepend a contiguous 0-based row index in partition-then-row
    order, without a shuffle or a global sort.

    ``monotonically_increasing_id`` is ``(partition << 33) + row``, so
    its low 33 bits are the row's position inside its partition. One
    small job collects the per-partition row counts (rows == number of
    partitions); their running sums become a literal offset array, and
    the index is ``offsets[spark_partition_id()] + (id & (2^33 − 1))``
    — one projection, no window, no join. Assumes < 2^33 rows per
    partition.

    CONSTRAINT: the counts job and the final job each evaluate ``df``'s
    plan, so per-partition contents must be identical across the two
    evaluations. That holds for deterministic scans (the CSV-export
    caller), but NOT after a shuffle whose runtime partitioning can
    differ between jobs (AQE coalesce, rand). Guard: any plan
    containing an Exchange is pinned with an eager ``localCheckpoint``
    first, so both jobs read the same materialized blocks in the same
    order.
    """
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "Exchange" in plan:
        df = df.localCheckpoint(eager=True)
    counts = dict(
        df.groupBy(F.spark_partition_id().alias("_pid")).count().collect()
    )
    offsets, acc = [], 0
    for pid in range(max(counts, default=0) + 1):
        offsets.append(acc)
        acc += counts.get(pid, 0)
    offset_of = F.expr("array(" + ", ".join(f"{o}L" for o in offsets) + ")")
    row_in_part = F.monotonically_increasing_id().bitwiseAND((1 << 33) - 1)
    index = offset_of[F.spark_partition_id()] + row_in_part
    return df.select(index.alias(name), *df.columns)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    single_file: bool = False,
    max_records_per_file: int | None = None,
    partition_by: list[str] | None = None,
    sort_within_by: list[str] | None = None,
) -> None:
    """Parquet sink (reference utils.py:73 sample files).

    Single-file naming (reference writes ``taxi_data_..._{n}.parquet``)
    uses the same coalesce+rename dance as the CSV sink.

    ``partition_by`` writes hive-style ``col=value`` directories —
    at 100 TB the single most important layout decision: filters on
    partition columns prune whole directories before any I/O
    (``PartitionFilters`` in the scan, vs ``PushedFilters`` which
    still opens footers). ``sort_within_by`` clusters rows inside
    each file so parquet row-group min/max statistics skip tightly —
    the poor man's Z-order for single-column locality.
    """
    if single_file and partition_by:
        raise ValueError("single_file and partition_by are exclusive")
    if sort_within_by:
        df = df.sortWithinPartitions(*sort_within_by)
    writer = (df.coalesce(1) if single_file else df).write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    if single_file:
        tmp = path + "._spark_single_tmp"
        writer.parquet(tmp)
        _single_file_collapse(tmp, path, df.sparkSession, ".parquet")
    else:
        writer.parquet(path)


def convert_parquet_to_csv(
    spark: SparkSession,
    src: str,
    dst: str,
    header: bool = True,
    max_records_per_file: int | None = None,
    single_file: bool = False,
    with_index: bool = False,
    sql_flavor: bool = False,
    repartition_to: int | None = None,
) -> None:
    """The flagship kernel: Parquet→CSV, one scan→sink pipeline.

    Unifies all five reference kernels (SURVEY.md §2 Ops 7-11) — their
    differences are presets of this function:

    - DuckDB ``COPY (SELECT *)`` (utils.py:130-133) → ``sql_flavor=True``
      (goes through ``spark.sql`` on a parquet table ref, exercising the
      SQL front door) + ``single_file``;
    - pandas chunked+index (utils.py:158-161) → ``with_index=True``
      (chunked writes are Spark's native per-partition incremental
      write);
    - pyarrow batch (utils.py:184-188) → the plain DataFrame path
      (vectorized columnar scan is Spark's default);
    - polars eager single-file (utils.py:210) → ``single_file=True``;
    - polars lazy PartitionMaxSize sink (utils.py:235-240) →
      ``max_records_per_file=500_000`` — the most Spark-native preset:
      lazy plan, pipelined execution, directory of capped files.

    The whole pipeline is ``FileSourceScanExec → WriteFiles`` with no
    exchange in between: each input split streams straight to its output
    file, bounded memory, embarrassingly parallel — exactly the shape
    that survives 100 TB.

    ``repartition_to`` inserts one round-robin exchange before the sink
    to even out writer parallelism. Worth it when the source's split
    sizes are skewed or fewer than the cluster's cores (2.6× on the
    10M-row bench at 32 cores: oversubscribing writers ~2× per core
    hides per-file close/fsync stalls); leave None when the scan already
    yields balanced splits — the exchange is pure cost then. At real
    scale prefer sizing ``spark.sql.files.maxPartitionBytes`` so the
    scan itself produces the right parallelism.
    """
    if sql_flavor:
        df = spark.sql(f"SELECT * FROM parquet.`{src}`")
    else:
        df = read_parquet(spark, src)
    if repartition_to is not None:
        # int() guard: a stray string would silently select the
        # repartition-by-COLUMN overload instead of a partition count.
        df = df.repartition(int(repartition_to))
    write_csv(
        df,
        dst,
        header=header,
        max_records_per_file=max_records_per_file,
        single_file=single_file,
        with_index=with_index,
    )
