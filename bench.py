"""Benchmark entry point: two JSON lines on stdout.

Headline: seconds to convert a 10,000,000-row Parquet table to CSV, the
workload BASELINE.md publishes numbers for (polars lazy 1.2 s, DuckDB
1.7 s on an M4; target <= 2x polars), next to DuckDB converting the same
input on the same box. The 10M-row input is $SPARK_GRAFT_SF_DIR's
lineitem (default sf0.1) replicated, cached under /tmp. Also timed: the
engine's headline registered queries at $SPARK_GRAFT_SF_DIR and two
operators over a 500k-document corpus. Every number is warm job time:
the baseline engines are in-process libraries with no JVM start-up
(BASELINE.md comparison note).

Every timed key is one row of ``TABLE``: the action it times and its
protocol (untimed runs, timed runs, cache clearing, interleaving, spread
key); ``_passes`` runs every row. A key reports the min of its timed
runs, and ``<key>_spread_pct`` their (max - min) / min in percent, so a
later delta smaller than the spread reads as noise, not code.

The session is ``get_spark()``'s: ``local[$SPARK_GRAFT_CPUS]`` (else
every core) with a ``$SPARK_GRAFT_DRIVER_MEMORY`` heap. stdout carries
the full record, then a small line with the headline keys only, which
parses on its own when a reader keeps just the tail of stdout.

    SPARK_GRAFT_CPUS=4 SPARK_GRAFT_DRIVER_MEMORY=8g python bench.py
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
import shutil
import sys
import time
from collections.abc import Callable
from typing import NamedTuple

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from convert_parquet_to_csv_spark import get_spark  # noqa: E402
from convert_parquet_to_csv_spark.operators import curation as C  # noqa: E402
from convert_parquet_to_csv_spark.operators import dedup as D  # noqa: E402
from convert_parquet_to_csv_spark.operators import similarity as S  # noqa: E402
from convert_parquet_to_csv_spark.plans import registry  # noqa: E402
from convert_parquet_to_csv_spark.sources import (  # noqa: E402
    convert_parquet_to_csv,
    read_parquet,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPO_DIR = os.path.dirname(os.path.abspath(__file__))
# Everything the timed actions write; removed when the table is done.
OUT_DIR = "/tmp/cptc_bench_out"


def _current_round() -> int:
    """$SPARK_GRAFT_ROUND if set, else one past the newest driver record
    ``BENCH_r{N}.json``: the driver writes round N's record after its
    bench run, so during that run the newest record is round N-1. A
    manual run after the record lands therefore writes round N+1's name
    early; round N+1's own run overwrites it."""
    env = os.environ.get("SPARK_GRAFT_ROUND")
    if env:
        return int(env)
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(REPO_DIR, "BENCH_r*.json"))
        if (m := re.match(r"BENCH_r0*(\d+)\.json$", os.path.basename(p)))
    ]
    return max(rounds, default=0) + 1


def _write_local_record(payload: dict) -> str:
    """Write the full record to ``BENCH_LOCAL_r{N}.json``: the driver
    keeps only a ~2000-character tail of stdout, far less than the full
    line. Only a run with ``SPARK_GRAFT_BENCH_COMMIT=1`` writes that
    committed name; any other run, the driver's included, writes the
    gitignored ``BENCH_LOCAL_r{N}.driver.json``, so it cannot overwrite
    the committed record."""
    suffix = "" if os.environ.get("SPARK_GRAFT_BENCH_COMMIT") == "1" else ".driver"
    path = os.path.join(
        REPO_DIR, f"BENCH_LOCAL_r{_current_round()}{suffix}.json"
    )
    with open(path, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
        f.write("\n")
    return path


def sf_keyed_path(name: str) -> str:
    """A /tmp path for data built from SF_DIR. It is keyed by SF_DIR, so
    a copy built from another scale factor is never served."""
    key = hashlib.md5(SF_DIR.encode()).hexdigest()[:8]
    return f"/tmp/cptc_{name}_{key}.parquet"


TENM_PATH = sf_keyed_path("bench_10m")
DOCS_500K_PATH = sf_keyed_path("bench_docs500k")


def replicate(spark: SparkSession, table: str, n: int, path: str) -> int:
    """Write SF_DIR's ``table`` replicated to at least ``n`` rows at
    ``path`` and return its row count; a complete copy that an earlier
    run left at ``path`` is reused.

    Copies of ``documents`` get a renumbered ``doc_id`` and every token
    suffixed with the copy number, so copies are not near-duplicates of
    each other and duplicate clusters stay as small as in the base
    corpus. Unmangled, every document would be a ``copies``-way cluster
    and a dedup operator's candidate set quadratic: the bench would time
    the pathology instead of the operator."""
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        have = read_parquet(spark, path).count()
        if have >= n:
            return have
    shutil.rmtree(path, ignore_errors=True)
    base = read_parquet(spark, os.path.join(SF_DIR, f"{table}.parquet"))
    base_n = base.count()
    copies = max(1, -(-n // base_n))  # ceil
    # A broadcast cross join with a tiny range fans out without a
    # shuffle, far cheaper than a union of `copies` scans.
    rep = spark.range(copies).select(F.col("id").alias("_copy"))
    big = base.crossJoin(F.broadcast(rep))
    if table == "documents":
        big = big.select(
            (F.col("doc_id") * copies + F.col("_copy")).alias("doc_id"),
            F.regexp_replace(
                F.col("text"),
                F.lit(r"(\S+)"),
                F.concat(F.lit("$1x"), F.col("_copy").cast("string")),
            ).alias("text"),
        )
    else:
        big = big.drop("_copy")
    big.repartition(spark.sparkContext.defaultParallelism).write.mode(
        "overwrite"
    ).parquet(path)
    return base_n * copies


def _passes(
    actions: dict[str, Callable[[], object]],
    warmup: int,
    timed: int,
    clear: Callable[[], None] | None,
) -> dict[str, list[float]]:
    """Seconds of each timed run, per key.

    Runs ``warmup`` untimed passes, then ``timed`` timed ones. A pass
    runs every action once in key order, so the keys of one call are
    interleaved and a slow spell on the box lands on all of them.
    ``clear``, when given, runs untimed before every run. An action that
    raises is reported as ``<key> failed: <error>`` on stderr and
    dropped: it runs no more and its key is left out of the result."""
    samples: dict[str, list[float]] = {key: [] for key in actions}
    for i in range(warmup + timed):
        for key in list(samples):
            if clear is not None:
                clear()
            t0 = time.perf_counter()
            try:
                actions[key]()
            except Exception as ex:  # noqa: BLE001 — a failed key must not end the run
                print(f"{key} failed: {ex}", file=sys.stderr)
                del samples[key]
                continue
            if i >= warmup:
                samples[key].append(time.perf_counter() - t0)
    return samples


def _spread_pct(samples: list[float]) -> float:
    return round((max(samples) - min(samples)) / min(samples) * 100, 1)


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def noop_runs(
    spark: SparkSession,
    plans: dict[str, Callable[[], DataFrame]],
    warmup: int,
    timed: int,
) -> dict[str, list[float]]:
    """``_passes`` over each plan written to Spark's noop sink, the
    cache cleared before every run; building the plan is timed with its
    run."""
    return _passes(
        {key: (lambda p=p: _noop(p())) for key, p in plans.items()},
        warmup,
        timed,
        spark.catalog.clearCache,
    )


# A function of the session that does the untimed setup and returns
# the callable to time.
Action = Callable[[SparkSession], Callable[[], object]]


class Entry(NamedTuple):
    """One row of the protocol table. ``actions`` maps each emitted key
    to its action; the keys of one entry are interleaved. ``clear`` is
    "each" (clear the cache before every run), "once" (before the first
    run only, so later runs reuse what earlier ones persisted) or None.
    ``spread`` adds ``<key>_spread_pct``."""

    actions: dict[str, Action]
    warmup: int
    timed: int
    clear: str | None = None
    spread: bool = False


class Query(NamedTuple):
    """A registered query built at SF_DIR and written to the noop sink;
    ``plan`` replaces the registered function where the bench times the
    raw operator."""

    name: str
    plan: Callable[[SparkSession, str], DataFrame] | None = None

    def __call__(self, spark: SparkSession) -> Callable[[], None]:
        build = self.plan or registry.QUERIES[self.name]
        return lambda: _noop(build(spark, SF_DIR))


def _query(q: str | Query) -> Query:
    return q if isinstance(q, Query) else Query(q)


def _alone(*queries: str | Query) -> list[Entry]:
    """Each query on its own: one untimed run, then two timed runs, the
    cache cleared before each, so a timed run never reads what the
    previous run persisted."""
    return [Entry({q.name: q}, 1, 2, "each") for q in map(_query, queries)]


def _warm(query: str | Query) -> Entry:
    """``<name>_warm``: the cache cleared once, then one untimed and two
    timed runs, which reuse the subtrees the returned plan persisted.
    Only for plans that keep such a cache for their caller;
    dedup_minhash's keeps none, so its ``_warm`` is a second full
    recompute."""
    q = _query(query)
    return Entry({f"{q.name}_warm": q}, 1, 2, "once")


# Raw operator plans timed under a registered name. The registry entries
# are property gates (the similarity top-k ones also run the exact
# baseline) or md5 flavors that DuckDB can replay bit for bit; the bench
# times the production operator.
def _embeddings(spark, sf_dir):
    vecs = read_parquet(spark, os.path.join(sf_dir, "embeddings.parquet"))
    return vecs, vecs.filter(F.col("vec_id") < 5)


def _topk_lsh_plan(spark, sf_dir):
    vecs, queries = _embeddings(spark, sf_dir)
    return S.topk_lsh(vecs, queries, dim=64, k=3, nbits=5, n_tables=32)


def _topk_ivf_plan(spark, sf_dir):
    vecs, queries = _embeddings(spark, sf_dir)
    return S.topk_ivf(vecs, queries, k=3, n_centroids=16, nprobe=8)


def _topk_pq_plan(spark, sf_dir):
    vecs, queries = _embeddings(spark, sf_dir)
    return S.topk_pq_adc(
        vecs, queries, dim=64, k=3, m=32, codes=64, kmeans_iters=1
    )


def _dsir_plan(spark, sf_dir):
    docs = read_parquet(spark, os.path.join(sf_dir, "documents.parquet"))
    return C.dsir_importance_weights(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        num_buckets=4096,
        hash_fn="xxhash64",
    )


def _winnow_plan(spark, sf_dir):
    docs = read_parquet(spark, os.path.join(sf_dir, "documents.parquet"))
    return D.winnow_fingerprints(docs, k=5, window=4, hash_fn="xxhash64")


def _convert(src: str, out: str, repartition: bool = False) -> Action:
    """Parquet -> CSV of ``src`` into OUT_DIR/``out``, in 500k-row files;
    ``repartition`` adds a round-robin exchange to twice the core count."""

    def make(spark):
        dst = os.path.join(OUT_DIR, out)
        width = 2 * spark.sparkContext.defaultParallelism if repartition else None

        def run():
            shutil.rmtree(dst, ignore_errors=True)
            convert_parquet_to_csv(
                spark, src, dst, max_records_per_file=500_000,
                repartition_to=width,
            )

        return run

    return make


def _duckdb_convert_10m(spark):
    import duckdb

    sql = (
        f"COPY (SELECT * FROM read_parquet('{TENM_PATH}/*.parquet')) "
        f"TO '{OUT_DIR}/duck10m.csv' (HEADER, DELIMITER ',')"
    )
    return lambda: duckdb.connect().execute(sql)


def _duckdb_q1_agg(spark):
    """A CPU-shaped anchor beside the IO-shaped conversion: q1's
    aggregation over the 10M-row input, no write. One run is five
    queries, since one takes about 0.2 s, too short to time robustly;
    only ratios of this key are compared."""
    import duckdb

    sql = (
        "SELECT l_returnflag, l_linestatus, "
        "sum(l_quantity), sum(l_extendedprice), "
        "sum(l_extendedprice * (1 - l_discount)), count(*) "
        f"FROM read_parquet('{TENM_PATH}/*.parquet') "
        "WHERE l_shipdate <= DATE '1998-09-02' "
        "GROUP BY 1, 2 ORDER BY 1, 2"
    )

    def run():
        con = duckdb.connect()
        for _ in range(5):
            con.execute(sql).fetchall()

    return run


def _minhash_500k(spark):
    docs = read_parquet(spark, DOCS_500K_PATH)
    return lambda: _noop(
        D.minhash_dedup(docs, num_perm=32, bands=8, threshold=0.5)
    )


def _span_500k(spark):
    docs = read_parquet(spark, DOCS_500K_PATH)
    return lambda: _noop(C.remove_duplicated_spans(docs, n=4, max_docs=2))


def _pq_index(vecs):
    books = S.pq_train(vecs, 64, m=32, codes=64, kmeans_iters=1)
    books = books.localCheckpoint()  # eager: training runs here
    return books, S.pq_encode(vecs, books, 64, m=32).localCheckpoint()


def _pq_train(spark):
    vecs, _ = _embeddings(spark, SF_DIR)
    return lambda: _pq_index(vecs)


def _pq_probe(spark):
    vecs, queries = _embeddings(spark, SF_DIR)
    books, codes = _pq_index(vecs)
    return lambda: _noop(S.pq_probe(codes, books, queries, 64, k=3, m=32))


_DSIR = Query("dsir_importance_weights", _dsir_plan)

TABLE: list[Entry] = [
    # The two 10M strategies trade places with the box's IO/CPU balance:
    # the round-robin exchange hides per-file close stalls on slow disks
    # and is pure shuffle cost on fast ones. The headline is the faster.
    # JIT needs several runs to compile the scan -> CSV loop (measured
    # 10.9 s cold, 8.6 s after one run, 1.2-1.3 s steady), hence three
    # untimed runs for the first.
    Entry(
        {"convert_10m_rows_rr": _convert(TENM_PATH, "10m_csv", repartition=True)},
        3, 3, spread=True,
    ),
    # DuckDB on the same input and box makes the headline comparable
    # across boxes; interleaving puts a slow spell on both engines.
    Entry(
        {
            "convert_10m_rows_natural": _convert(TENM_PATH, "10m_csv"),
            "baseline_duckdb_convert_10m": _duckdb_convert_10m,
        },
        1, 3, spread=True,
    ),
    Entry({"baseline_duckdb_q1_agg": _duckdb_q1_agg}, 1, 3, spread=True),
    Entry(
        {
            "convert_lineitem_sf": _convert(
                os.path.join(SF_DIR, "lineitem.parquet"), "sf_csv"
            )
        },
        0, 3,
    ),
    *_alone(
        "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
        "dedup_exact", "text_quality_stats", "windowed_agg",
        "hll_distinct_customers",
    ),
    _warm("hll_distinct_customers"),
    *_alone(
        "curation_pipeline", "events_daily_gapfill", "embedding_centroids",
        "promo_revenue_ratio", "salted_join_revenue",
        Query("similarity_topk_lsh", _topk_lsh_plan), "dedup_minhash",
    ),
    _warm("dedup_minhash"),
    *_alone("arrow_vector_checksum", "sparse_cosine_topk_pairs"),
    _warm("sparse_cosine_topk_pairs"),
    *_alone(
        "moment_stats_exact", "ewma_trailing_value", "zscore_anomaly_events",
        "graph_triangle_copurchase", "kcore_copurchase",
        "embedding_power_iteration_pc1",
    ),
    _warm("embedding_power_iteration_pc1"),
    *_alone(
        "oov_rate_vs_topk_vocab", "char_trigram_familiarity",
        "gopher_repetition_signals",
        Query("dedup_winnow_fingerprints", _winnow_plan),
        "dedup_span_extents", Query("similarity_topk_pq", _topk_pq_plan),
        "dedup_maximal_extents", "unigram_lm_encode",
        "quality_classifier_train", "paragraph_dedup_boilerplate",
        "ngram_lm_perplexity", "wordpiece_encode", "source_js_divergence",
        "bm25_topk_docs", "dedup_minhash_incremental", "bm25_rerank_topk",
        "dedup_maximal_extents_c3", "decontaminate_exact_substr",
        "langid_line_segments", "cross_modal_consistency",
        "decontaminate_exact_substr_incremental",
    ),
    # The noise floor: short queries whose deltas between records sat
    # within the box's run-to-run swing. Interleaved, so a slow spell
    # hits all of them, with a spread key to judge a delta against.
    Entry(
        {
            q.name: q
            for q in map(_query, [
                "q6_revenue_filter", "similarity_topk_bruteforce",
                "asof_click_attribution", "range_layout_scan",
                "kafka_roundtrip_events",
                Query("similarity_topk_ivf", _topk_ivf_plan),
                "decontaminate_ngram_overlap",
                "decontaminate_ngram_overlap_hashed",
                "distinctive_terms_tfidf", "span_dedup_c4", _DSIR,
            ])
        },
        1, 3, "each", spread=True,
    ),
    _warm(_DSIR),
    # The returned plan keeps no cache, so `_warm` is a second full
    # recompute with a warmer JVM, not a cache hit.
    Entry({"dedup_minhash_500k_docs": _minhash_500k}, 0, 1, "each"),
    Entry({"dedup_minhash_500k_docs_warm": _minhash_500k}, 0, 1),
    # PQ split: the codebook training and encoding (index build), then
    # the ADC probe against a prebuilt index, the part whose cost grows
    # with the corpus.
    Entry({"similarity_topk_pq_train": _pq_train}, 0, 2, "each"),
    Entry({"similarity_topk_pq_probe": _pq_probe}, 1, 3, spread=True),
    Entry({"span_dedup_c4_500k_docs": _span_500k}, 0, 2, "each"),
]

# Repeated in a small `headline` block at the end of the full line and
# as the whole compact line, so a kept tail of stdout always has them.
HEADLINE_KEYS = (
    "convert_10m_rows",
    "convert_10m_rows_spread_pct",
    "convert_10m_rows_rr",
    "convert_10m_rows_rr_spread_pct",
    "convert_10m_rows_natural",
    "convert_10m_rows_natural_spread_pct",
    "baseline_duckdb_convert_10m",
    "baseline_duckdb_convert_10m_spread_pct",
    "calibration_ratio_vs_duckdb",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q6_revenue_filter",
)

TIMING_METHODOLOGY = (
    "min-of-2-warm-runs-since-r03; "
    "cache-cleared-per-run-since-r04; "
    "dual-keys-since-r05 (`<name>` = cache-cleared "
    "full recompute, `<name>_warm` = persisted "
    "subtrees cached by a prior run; `_warm` only "
    "for DUAL_METHODOLOGY_NAMES, whose RETURNED "
    "plans retain persisted subtrees — r6 dropped "
    "span_dedup's inverted `_warm` and pruned the "
    "names that release their caches internally; "
    "dedup_minhash's plan keeps no cache, so its "
    "`_warm` keys are a second full recompute); "
    "noise-floor-since-r06 (NOISE_FLOOR_NAMES: "
    "min-of-3 interleaved cache-cleared runs + "
    "`<name>_spread_pct` dispersion — deltas below "
    "the spread are VM noise, not code)"
)


def _run_table(
    spark: SparkSession, table: list[Entry]
) -> tuple[dict[str, float], dict[str, list[float]]]:
    """Run every entry: the emitted keys, and the samples behind them."""
    queries: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    for entry in table:
        actions = {}
        for key, make in entry.actions.items():
            try:
                actions[key] = make(spark)
            except Exception as ex:  # noqa: BLE001 — as in _passes
                print(f"{key} failed: {ex}", file=sys.stderr)
        if entry.clear == "once":
            spark.catalog.clearCache()
        clear = spark.catalog.clearCache if entry.clear == "each" else None
        got = _passes(actions, entry.warmup, entry.timed, clear)
        for key, runs in got.items():
            queries[key] = round(min(runs), 4)
            if entry.spread:
                queries[f"{key}_spread_pct"] = _spread_pct(runs)
        samples.update(got)
    return queries, samples


def _records(
    queries: dict[str, float],
    samples: dict[str, list[float]],
    rows_10m: int,
    n_docs: int,
) -> tuple[dict, dict]:
    """The full record and the compact one. The headline is the faster
    10M strategy, with that strategy's spread; a run without both
    strategies has no headline and raises."""
    best = min(
        ("convert_10m_rows_rr", "convert_10m_rows_natural"),
        key=lambda k: min(samples[k]),
    )
    headline = min(samples[best])
    queries["convert_10m_rows"] = round(headline, 4)
    queries["convert_10m_rows_spread_pct"] = _spread_pct(samples[best])
    if "baseline_duckdb_convert_10m" in samples:
        # < 1.0: Spark beats DuckDB on the same input and box.
        queries["calibration_ratio_vs_duckdb"] = round(
            headline / min(samples["baseline_duckdb_convert_10m"]), 4
        )
    queries["_n_docs_500k"] = n_docs
    summary = {k: queries[k] for k in HEADLINE_KEYS if k in queries}
    sf = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "")
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    head = {
        "metric": "parquet_to_csv_10m_rows_job_sec",
        "value": round(headline, 4),
        "unit": "sec",
        "sf": sf_val,
        "rows_10m": rows_10m,
    }
    # Prose ahead of the per-query map: a truncated line loses it first.
    full = {
        **head,
        "timing_methodology": TIMING_METHODOLOGY,
        "queries": queries,
        "headline": summary,
    }
    compact = {
        **head,
        "queries": summary,
        "headline": summary,
        "note": (
            "compact re-emit of the headline keys; the full "
            "per-query map is the previous stdout line"
        ),
    }
    return full, compact


def main() -> None:
    spark = get_spark(app_name="cptc-bench")
    registry.load_all()
    os.makedirs(OUT_DIR, exist_ok=True)
    # JVM and codegen warm-up before anything is timed.
    convert_parquet_to_csv(
        spark,
        os.path.join(SF_DIR, "region.parquet"),
        os.path.join(OUT_DIR, "warm"),
    )
    rows_10m = replicate(spark, "lineitem", 10_000_000, TENM_PATH)
    n_docs = replicate(spark, "documents", 500_000, DOCS_500K_PATH)
    queries, samples = _run_table(spark, TABLE)
    shutil.rmtree(OUT_DIR, ignore_errors=True)
    full, compact = _records(queries, samples, rows_10m, n_docs)
    print(json.dumps(full))
    try:
        print(
            f"full per-query record: {_write_local_record(full)}",
            file=sys.stderr,
        )
    except OSError as ex:  # never let the durable write kill stdout
        print(f"BENCH_LOCAL write failed: {ex}", file=sys.stderr)
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
