"""Equivalence pins + mechanized plan claims for the r13 optimization
round (VERDICT r12 'Next round' items 1, 4, 6, 7).

1. ``cosine_similarity(a, b, dim)``: the unrolled codegen path must be
   bit-identical to the HOF path on length-``dim`` vectors, including
   the NULL-vector and all-zero guards; the documented divergences
   (short inputs) are pinned AS divergences so they cannot silently
   change meaning.
2. ``maximal_duplicated_extents(count_partitions=...)``: the in-plan
   hot-count width knob must not change a single output row at any
   width combination.
3. ``remove_duplicated_spans``: the candidate-gram cache is released
   in-operator — a fresh DataFrame over the same plan is not served
   from a cache after the action — and the result is unchanged.
4. ``_gopher_gram_masses(_consolidate=False)``: the A/B-only legacy
   exchange shape computes identical masses (so the r13 dup-heavy
   measurement compares equals).
5. Plan-claim mechanization (VERDICT r12 item 4): every node-count
   delta the r13 ledger claims is asserted against the committed
   ``plans/r13`` dumps via ``plans/r13/claims.json`` — an overstated
   claim fails the suite.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from convert_parquet_to_csv_spark.functions.vectors import (
    cosine_similarity,
)
from convert_parquet_to_csv_spark.operators.curation import (
    _gopher_gram_masses,
    remove_duplicated_spans,
)
from convert_parquet_to_csv_spark.operators.dedup import (
    maximal_duplicated_extents,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_VEC_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("a", ArrayType(FloatType())),
        StructField("b", ArrayType(FloatType())),
    ]
)

COS_ROWS = [
    (1, [1.0, 2.0, 3.0, 4.0], [0.5, -1.5, 2.5, -3.5]),
    (2, [0.0, 0.0, 0.0, 0.0], [1.0, 1.0, 1.0, 1.0]),  # zero vector
    (3, [1e30, -1e30, 1e-30, 7.0], [2.0, 2.0, 2.0, 2.0]),
    (4, [1.0, None, 3.0, 4.0], [1.0, 1.0, 1.0, 1.0]),  # NULL element
    (5, [1.0, 2.0], [1.0, 1.0, 1.0, 1.0]),  # short LEFT side
    (6, None, [1.0, 1.0, 1.0, 1.0]),  # NULL array
    (7, [-0.0, 0.0, -0.0, 0.0], [1.0, 1.0, 1.0, 1.0]),  # signed zeros
    (8, [1.0, 2.0], [3.0, 4.0]),  # BOTH sides short
]


def test_cosine_dim_bitwise_matches_hof_on_exact_length(spark):
    df = spark.createDataFrame(COS_ROWS, _VEC_SCHEMA)
    rows = {
        r.id: r
        for r in df.select(
            "id",
            cosine_similarity("a", "b").alias("hof"),
            cosine_similarity("a", "b", 4).alias("fixed"),
        ).collect()
    }
    # Exact-length rows (incl. zero-vector, NULL-element, NULL-array,
    # signed-zero guards): bit-identical.
    for i in (1, 2, 3, 4, 6, 7):
        r = rows[i]
        assert (r.hof is None) == (r.fixed is None), r
        if r.hof is not None:
            assert r.hof == r.fixed, r
    # Documented divergences (functions/vectors NOTE): short inputs.
    # One side short: HOF's NULL-padded dot is NULL but its finite
    # norms pass the guard -> NULL; the fixed form's NULL denom falls
    # through the guard -> 0.0.
    assert rows[5].hof is None and rows[5].fixed == 0.0
    # Both sides short: HOF computes the finite partial cosine, the
    # fixed form yields the guard fallback.
    assert rows[8].hof is not None and rows[8].fixed == 0.0


EXTENT_DOCS = [
    (1, "a b c d e f g a b c d e f g"),  # within-doc repeat
    (2, "x a b c d e f g y"),  # cross-doc repeat of the same run
    (3, "a b c d e f g"),  # exactly the shared run
    (4, ""),  # empty
    (5, None),  # NULL text
    (6, "one two three"),  # shorter than k
    (7, "p q r s t u v w"),  # no duplicated grams
]

_DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ]
)


def _rows(df):
    return sorted(
        tuple(r) for r in df.collect()
    )


def test_extents_count_partitions_result_invariant(spark):
    df = spark.createDataFrame(EXTENT_DOCS, _DOC_SCHEMA)
    base = _rows(maximal_duplicated_extents(df, k=3, w_cap=6))
    assert base, "fixture must produce extents"
    for kwargs in (
        {"count_partitions": 1},
        {"count_partitions": 5},
        {"sort_partitions": 3, "count_partitions": 4},
    ):
        got = _rows(maximal_duplicated_extents(df, k=3, w_cap=6, **kwargs))
        assert got == base, kwargs
    # generic min_count path too (two-window variant)
    base3 = _rows(
        maximal_duplicated_extents(df, k=3, w_cap=6, min_count=3)
    )
    got3 = _rows(
        maximal_duplicated_extents(
            df, k=3, w_cap=6, min_count=3, count_partitions=3
        )
    )
    assert got3 == base3


SPAN_DOCS = [
    (1, "the same old footer text here and unique alpha words"),
    (2, "other page body the same old footer text here trailing"),
    (3, "third page the same old footer text here more stuff"),
    (4, "totally unrelated content nothing shared at all"),
    (5, ""),
    (6, None),
]


def _span_candidate_grams(df, n, max_docs):
    """A fresh DataFrame with the same plan as the candidate-gram join
    ``remove_duplicated_spans`` persists internally: if that cache
    outlived the call, this plan would be answered from it."""
    arr = df.select("doc_id", F.split(F.col("text"), " ").alias("_a"))
    starts = F.when(
        F.size("_a") >= n, F.sequence(F.lit(0), F.size("_a") - n)
    ).otherwise(F.array().cast("array<int>"))
    grams = arr.select(
        "doc_id", F.explode(starts).alias("pos"), F.col("_a")
    ).select(
        "doc_id",
        "pos",
        F.xxhash64(F.expr(f"slice(_a, pos + 1, {n})")).alias("gram"),
    )
    cand = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("_ct"))
        .filter(F.col("_ct") > max_docs)
        .select("gram")
    )
    return grams.join(cand, "gram")


def test_span_dedup_releases_cache_in_operator(spark, capsys):
    df = spark.createDataFrame(SPAN_DOCS, _DOC_SCHEMA)
    spark.catalog.clearCache()
    out = remove_duplicated_spans(df, n=3, max_docs=2)
    rows = {r.doc_id: r for r in out.collect()}
    # the shared footer span is removed from all three carriers
    for i in (1, 2, 3):
        assert "same old footer text here" not in (rows[i].clean_text or "")
        assert rows[i].n_removed > 0
    assert rows[4].clean_text == SPAN_DOCS[3][1]
    assert rows[5].clean_text == "" and rows[5].n_removed == 0
    assert rows[6].clean_text is None and rows[6].n_kept == 0
    # no InMemoryRelation outlives the call: a fresh DataFrame over
    # the operator's candidate-gram plan is not served from a cache
    probe = _span_candidate_grams(df, n=3, max_docs=2)
    capsys.readouterr()
    probe.explain()
    assert "InMemoryRelation" not in capsys.readouterr().out
    # ...and the probe does see such a cache when one exists
    pinned = _span_candidate_grams(df, n=3, max_docs=2).persist()
    try:
        _span_candidate_grams(df, n=3, max_docs=2).explain()
        assert "InMemoryRelation" in capsys.readouterr().out
    finally:
        pinned.unpersist()
    # the returned plan stays re-runnable after the internal unpersist
    assert {r.doc_id: r.n_removed for r in out.collect()} == {
        i: rows[i].n_removed for i in rows
    }


GOPHER_DOCS = [
    (1, "spam spam spam spam spam ham"),  # dup-heavy
    (2, "the quick brown fox jumps over the lazy dog"),
    (3, "a b a b a b a b a b a b"),  # alternating bigram repeats
    (4, "one-token"),
    (5, ""),
    (6, None),
]


def test_gopher_masses_legacy_exchange_shape_identical(spark):
    df = spark.createDataFrame(GOPHER_DOCS, _DOC_SCHEMA)
    new = _rows(_gopher_gram_masses(df, "doc_id", "text"))
    old = _rows(
        _gopher_gram_masses(df, "doc_id", "text", _consolidate=False)
    )
    assert new == old and new, "consolidated vs legacy masses differ"


def test_consolidate_exchanges_param_result_invariant(spark):
    """The public corpus-shape switch (r13, VERDICT r12 item 3) must
    not change a value anywhere it is exposed."""
    from convert_parquet_to_csv_spark.operators.curation import (
        dsir_importance_weights,
        gopher_quality_filter,
        gopher_repetition_signals,
        train_linear_classifier,
    )

    df = spark.createDataFrame(GOPHER_DOCS, _DOC_SCHEMA)
    for fn in (gopher_repetition_signals, gopher_quality_filter):
        a = _rows(fn(df))
        b = _rows(fn(df, consolidate_exchanges=False))
        assert a == b and a, fn.__name__
    raw = df.filter(F.col("doc_id") >= 3)
    tgt = df.filter(F.col("doc_id") < 3)
    a = _rows(dsir_importance_weights(raw, tgt, persist=False))
    b = _rows(
        dsir_importance_weights(
            raw, tgt, persist=False, consolidate_exchanges=False
        )
    )
    assert a == b and a
    labels = df.select(
        "doc_id", (F.col("doc_id") % 2 * 1_000_000).alias("y_micro")
    )
    a = _rows(train_linear_classifier(df, labels, num_buckets=64, epochs=1))
    spark.catalog.clearCache()
    b = _rows(
        train_linear_classifier(
            df, labels, num_buckets=64, epochs=1,
            consolidate_exchanges=False,
        )
    )
    spark.catalog.clearCache()
    assert a == b and a


def _count_nodes(path: str, pattern: str) -> int:
    with open(path, encoding="utf-8") as fh:
        return fh.read().count(pattern)


def test_plan_claim_deltas():
    """VERDICT r12 item 4: plan claims are mechanically checkable.

    ``plans/r13/claims.json`` lists every node-count delta the r13
    ledger asserts about its committed before/after dumps; this test
    recounts them so an overstated claim fails the suite instead of
    surviving until a judge recounts by hand."""
    claims_path = os.path.join(REPO, "plans", "r13", "claims.json")
    assert os.path.exists(claims_path), "r13 plan-claims manifest missing"
    with open(claims_path, encoding="utf-8") as fh:
        claims = json.load(fh)
    assert claims, "claims.json must not be empty"
    for c in claims:
        before = os.path.join(REPO, "plans", "r13", c["before"])
        after = os.path.join(REPO, "plans", "r13", c["after"])
        got_before = _count_nodes(before, c["pattern"])
        got_after = _count_nodes(after, c["pattern"])
        assert got_before == c["count_before"], (
            f"{c['before']}: pattern {c['pattern']!r} expected "
            f"{c['count_before']}, counted {got_before}"
        )
        assert got_after == c["count_after"], (
            f"{c['after']}: pattern {c['pattern']!r} expected "
            f"{c['count_after']}, counted {got_after}"
        )
