"""The benchmark's workloads.

Each workload builds its seeded inputs, runs one op (a call into the
engine's public functions), checks the op's output, and, for the
traced run, makes extra per-layer probe calls. Op and layer calls run
inside ``spans(layer)`` so the trace can label their Spark jobs.
"""

from __future__ import annotations

import csv
import glob
import math
import os
import shutil

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

from convert_parquet_to_csv_spark import pipeline
from convert_parquet_to_csv_spark.operators import dedup
from convert_parquet_to_csv_spark.operators.sample import sample_exact_n
from convert_parquet_to_csv_spark.pivotbench import export_results
from convert_parquet_to_csv_spark.sources import io_ops, read_csv, read_parquet
from perfbench import fixtures


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _hash_sum(df):
    """(row count, order-independent sum of row hashes) of ``df``."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).first()
    return row["n"], row["h"]


def _id_checksum():
    """Aggregates: row count and an order-independent checksum of
    ``doc_id``."""
    return (
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("doc_id").cast("decimal(38,0)")).alias("h"),
    )


def _count_lines(path: str) -> int:
    n = 0
    with open(path, "rb") as fh:
        while chunk := fh.read(1 << 22):
            n += chunk.count(b"\n")
    return n


def _sample_rows_ok(path: str, columns: list[str], limit: int = 200) -> bool:
    """Header equals ``columns`` and the first ``limit`` records parse
    as RFC-4180 CSV with one field per column."""
    with open(path, newline="", encoding="utf-8") as fh:
        reader = csv.reader(fh)
        if next(reader, None) != columns:
            return False
        for i, rec in enumerate(reader):
            if i >= limit:
                break
            if len(rec) != len(columns):
                return False
    return True


class Workload:
    """Common state; subclasses set the sizes and define the op."""

    # Seconds per op + anchor run on a 4-core box; the timed phase runs
    # round(seconds / nominal_op_s) ops, at least min_ops.
    nominal_op_s: float
    min_ops: int
    trace_iterations = 3

    def __init__(self, spark, work: str, seed: int, cores: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.cores = cores
        # The same-box reference engine, on as many threads as Spark.
        self.duckdb = duckdb.connect(
            config={"threads": str(cores), "temp_directory": os.path.join(work, "tmp")}
        )

    def trace_once(self, spans) -> bool:
        """Extra traced calls made once, after the traced iterations."""
        return True


class ConvertLineitem(Workload):
    """sf0.1 lineitem (600k rows, 8 Parquet files) → CSV with the
    ``spark_chunked`` preset (files capped at 500k rows).

    Its traced run also runs the paper's whole harness program once
    (:class:`HarnessProgram`) on the same input."""

    nominal_op_s = 2.0
    min_ops = 5
    files = 8

    def build(self) -> None:
        table = fixtures.lineitem_table(self.seed)
        self.rows = table.num_rows
        self.input_dir = os.path.join(self.work, "in")
        self.source = os.path.join(self.input_dir, "lineitem.parquet")
        self.source_files = fixtures.write_parquet_files(table, self.source, self.files)
        self.ref_bytes = None

    def op(self, out, spans):
        pipeline.KERNEL_PRESETS["spark_chunked"](self.spark, "lineitem", self.input_dir, out)
        return os.path.join(out, "lineitem")

    def check(self, out, result) -> bool:
        """Line count, header, field count of the first records, and the
        byte size verified by :meth:`verify_once`."""
        files = sorted(glob.glob(os.path.join(result, "part-*.csv")))
        if not files:
            return False
        size = sum(os.path.getsize(f) for f in files)
        self.last_output = (len(files), size)
        if self.ref_bytes is not None and size != self.ref_bytes:
            return False
        lines = sum(_count_lines(f) for f in files)
        return lines == self.rows + len(files) and all(
            _sample_rows_ok(f, fixtures.LINEITEM_COLUMNS) for f in files
        )

    def verify_once(self) -> bool:
        """Convert once more, read the CSV back with the pinned schema
        and require it to equal the source; its byte size becomes the
        reference for every later op."""
        out = os.path.join(self.work, "out", "verify")
        try:
            result = self.op(out, None)
            ok = self.check(out, result)
            back = read_csv(self.spark, result, schema=fixtures.LINEITEM_SCHEMA_DDL)
            src = read_parquet(self.spark, self.source)
            src = src.select(*[
                # The dialect writes NULL and "" alike; both read back as NULL.
                F.when(F.col(c) != "", F.col(c)).alias(c) if t == "string" else F.col(c)
                for c, t in src.dtypes
            ])
            ok = ok and _hash_sum(back) == _hash_sum(src)
        finally:
            shutil.rmtree(out, ignore_errors=True)
        self.ref_bytes = self.last_output[1] if ok else -1
        return ok

    def probe(self, spans) -> None:
        with spans("probe/io_ops.scan"):
            _noop(read_parquet(self.spark, self.source))
        with spans("probe/io_ops.format"):
            _noop(io_ops._stringify_for_csv(read_parquet(self.spark, self.source)))

    def anchor(self) -> None:
        """DuckDB ``COPY`` of the same Parquet files to one CSV file."""
        out = os.path.join(self.work, "out", "duckdb.csv")
        try:
            self.duckdb.execute(
                f"COPY (SELECT * FROM read_parquet('{self.source}/*.parquet')) TO '{out}' (HEADER)"
            )
            if _count_lines(out) != self.rows + 1:
                raise RuntimeError("the DuckDB anchor wrote a wrong line count")
        finally:
            os.remove(out)

    def trace_once(self, spans) -> bool:
        self.harness = HarnessProgram(self.spark, self.work, self.seed, self.source_files)
        return self.harness.trace(spans)

    def layer_metrics(self, layers) -> dict:
        scan = layers["probe/io_ops.scan"]
        fmt = layers["probe/io_ops.format"]
        files, size = self.last_output
        return {
            "io_ops.scan_s": scan,
            "io_ops.format_s": fmt - scan,
            "io_ops.write_commit_s": layers["op"] - fmt,
            "io_ops.files_written": files,
            "io_ops.output_bytes_per_row": size / self.rows,
            **self.harness.layer_metrics(layers),
        }


class HarnessProgram:
    """The paper's whole program as one op: seeded exact-n samples →
    Parquet + manifest (``pipeline.extract_dataset``), the five-preset
    timed sweep (``pipeline.run_benchmark``) and the pivoted results
    export (``pivotbench.export_results``).

    Every sample is one file and one split, so each preset runs as a
    single task per size.
    """

    sizes = (10_000, 50_000, 200_000)

    def __init__(self, spark, work: str, seed: int, source_paths: list[str]):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.source_paths = source_paths
        self.files_written = 0

    def _kernels(self, spans):
        """The five presets, each under its own span, counting the CSV
        files each writes before the sweep deletes them."""
        def wrap(name, kernel):
            def run(spark, stem, input_dir, output_dir):
                with spans(f"harness/pipeline.preset.{name}"):
                    kernel(spark, stem, input_dir, output_dir)
                self.files_written += sum(
                    1 for f in glob.glob(os.path.join(output_dir, "**"), recursive=True)
                    if f.endswith(".csv")
                )
            return run
        return {name: wrap(name, k) for name, k in pipeline.KERNEL_PRESETS.items()}

    def run(self, out, spans):
        parquet_dir = os.path.join(out, "data", "parquet")
        manifest = os.path.join(out, "extracted_files.csv")
        with spans("harness/pipeline.extract"):
            records = pipeline.extract_dataset(
                self.spark, self.source_paths, parquet_dir, list(self.sizes),
                manifest, seed=self.seed,
            )
        with spans("harness/pipeline.sweep"):
            results = pipeline.run_benchmark(
                self.spark, manifest, parquet_dir, os.path.join(out, "data", "csv"),
                kernels=self._kernels(spans), shuffle_seed=self.seed,
            )
        with spans("harness/pivotbench.export"):
            wide = export_results(results, self.spark, os.path.join(out, "results.csv"))
        return records, results, wide

    def check(self, out, records, results, wide) -> bool:
        """Every sample has exactly n rows; the results table has one
        finite, positive cell per preset and size."""
        parquet_dir = os.path.join(out, "data", "parquet")
        if sorted(n for n, _ in records) != sorted(self.sizes):
            return False
        for n, fname in records:
            if pq.read_metadata(os.path.join(parquet_dir, fname)).num_rows != n:
                return False
        rows = wide.collect()
        cells = [row[m] for row in rows for m in pipeline.KERNEL_PRESETS]
        return (
            [row["size"] for row in rows] == sorted(self.sizes)
            and len(cells) == len(self.sizes) * len(pipeline.KERNEL_PRESETS)
            and all(c is not None and math.isfinite(c) and c > 0 for c in cells)
        )

    def trace(self, spans) -> bool:
        out = os.path.join(self.work, "out", "harness")
        try:
            records, self.results, wide = self.run(out, spans)
            ok = self.check(out, records, self.results, wide)
        finally:
            shutil.rmtree(out, ignore_errors=True)
        src = pipeline.read_parquet_merged(self.spark, self.source_paths, provenance_col="filename")
        for n in self.sizes:
            with spans("harness/sample.exact_n"):
                _noop(sample_exact_n(src, n, seed=self.seed))
        # The largest sample, scanned and formatted as the sweep converts it.
        path = os.path.join(self.work, "out", "largest.parquet")
        io_ops.write_parquet(sample_exact_n(src, max(self.sizes), seed=self.seed), path, single_file=True)
        try:
            with spans("harness/io_ops.scan"):
                _noop(read_parquet(self.spark, path))
            with spans("harness/io_ops.format"):
                _noop(io_ops._stringify_for_csv(read_parquet(self.spark, path)))
        finally:
            os.remove(path)
        return ok

    def layer_metrics(self, layers) -> dict:
        out = {
            "pipeline.extract_s": layers["harness/pipeline.extract"],
            "sample.exact_n_s": layers["harness/sample.exact_n"],
            "pivotbench.export_s": layers["harness/pivotbench.export"],
            "pipeline.files_written": self.files_written,
            # The spark_chunked preset on the largest sample, less its
            # scan + formatting run.
            "pipeline.largest.write_commit_s": (
                self.results["spark_chunked"][max(self.sizes)] - layers["harness/io_ops.format"]
            ),
            "pipeline.largest.format_s": (
                layers["harness/io_ops.format"] - layers["harness/io_ops.scan"]
            ),
        }
        for name in pipeline.KERNEL_PRESETS:
            out[f"pipeline.preset.{name}_s"] = layers[f"harness/pipeline.preset.{name}"]
        return out


class DedupMinhash(Workload):
    """``minhash_dedup`` over 10k synthetic documents with seeded
    near-duplicates and one bucket larger than ``max_bucket``, to a
    noop sink."""

    nominal_op_s = 4.6
    min_ops = 4
    n_docs = 10_000
    max_bucket = 1000

    def build(self) -> None:
        table = fixtures.documents_table(self.n_docs, self.seed)
        self.texts = dict(zip(table["doc_id"].to_pylist(), table["text"].to_pylist()))
        self.docs_dir = os.path.join(self.work, "docs")
        fixtures.write_parquet_files(table, self.docs_dir, self.cores)

    def _docs(self):
        return read_parquet(self.spark, self.docs_dir)

    def op(self, out, spans):
        obs = Observation("survivors")
        survivors = dedup.minhash_dedup(self._docs(), max_bucket=self.max_bucket)
        _noop(survivors.observe(obs, *_id_checksum()))
        return obs.get["n"], obs.get["h"]

    def anchor(self) -> None:
        """A DuckDB minhash-signature pass over the same documents:
        3-token shingles, 32 seeded hashes, min per doc."""
        perms = ", ".join(f"min(hash(h, {i})) AS h{i}" for i in range(32))
        cols = ", ".join(f"h{i}" for i in range(32))
        n, _ = self.duckdb.execute(f"""
            WITH tk AS (
                SELECT doc_id, string_split(trim(text), ' ') AS t
                FROM read_parquet('{self.docs_dir}/*.parquet')),
            sh AS (
                SELECT doc_id, hash(t[i:i + 2]) AS h FROM (
                    SELECT doc_id, t, unnest(range(1, greatest(len(t) - 1, 2))) AS i FROM tk))
            SELECT count(*), sum(hash({cols})) FROM (SELECT doc_id, {perms} FROM sh GROUP BY doc_id)
        """).fetchone()
        if n != self.n_docs:
            raise RuntimeError("the DuckDB anchor saw a wrong document count")

    def verify_once(self) -> bool:
        """The expected survivors, computed without the operator's
        verify and drop phases: exact Jaccard over word 3-gram sets, in
        Python, for every LSH candidate pair; the greater id of each
        pair at or over the threshold is removed. Every op must match
        this answer."""
        cand = dedup.lsh_candidate_pairs(
            dedup.minhash_signatures(self._docs()), max_bucket=self.max_bucket
        ).collect()

        def grams(doc_id):
            t = self.texts[doc_id].split()
            return {" ".join(t[i:i + 3]) for i in range(max(len(t) - 2, 1))}

        removed, self.verified_pairs = set(), 0
        for a, b in ((r["id_a"], r["id_b"]) for r in cand):
            sa, sb = grams(a), grams(b)
            if len(sa & sb) / len(sa | sb) >= 0.5:
                self.verified_pairs += 1
                removed.add(b)
        kept = self._docs().filter(~F.col("doc_id").isin(sorted(removed)))
        row = kept.agg(*_id_checksum()).first()
        self.reference = (row["n"], row["h"])
        return 0 < row["n"] < self.n_docs

    def check(self, out, result) -> bool:
        """Survivor count and survivor-id checksum equal the answer of
        :meth:`verify_once`."""
        return result == self.reference

    def probe(self, spans) -> None:
        """Times the signature and candidate phases on their own."""
        docs = self._docs()
        with spans("probe/dedup.signatures"):
            _noop(dedup.minhash_signatures(docs))
        sigs = dedup.minhash_signatures(docs).persist()
        try:
            sigs.count()
            with spans("probe/dedup.candidates"):
                self.candidate_pairs = dedup.lsh_candidate_pairs(
                    sigs, max_bucket=self.max_bucket
                ).count()
        finally:
            sigs.unpersist()

    def layer_metrics(self, layers) -> dict:
        sig = layers["probe/dedup.signatures"]
        cand = layers["probe/dedup.candidates"]
        return {
            "dedup.signatures_s": sig,
            "dedup.candidates_s": cand,
            "dedup.verify_s": layers["op"] - sig - cand,
            "dedup.candidate_pairs": self.candidate_pairs,
            "dedup.verified_pairs": self.verified_pairs,
            "dedup.survivors": self.reference[0],
            "dedup.verify_yield": self.verified_pairs / self.candidate_pairs,
        }


WORKLOADS = {
    "convert_lineitem": ConvertLineitem,
    "dedup_minhash": DedupMinhash,
}
