"""operators/dedup.maximal_duplicated_extents vs a brute-force
pure-Python suffix reference: for random small corpora, every
reported extent must be a TRUE maximal duplicated substring (>= 2
occurrences corpus-wide counting within-doc repeats, not left- or
right-extendable, capped at k + w_cap tokens) — the Lee et al. 2022
suffix-array guarantee the k-gram-union islands can't give."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from convert_parquet_to_csv_spark.operators import dedup as D


def _ref_maximal(docs, k, w_cap, c=2):
    """Brute force, generalized to occurrence count >= c (r10):
    L_c(p) = longest l such that the l-prefix of the (k+w_cap)-
    truncated suffix at p occurs at >= c suffix positions corpus-wide
    (p itself included — c=2 is exactly "shares a prefix with some
    OTHER position", the r9 reference); report (doc, p, p+L(p)) iff
    L(p) >= k and L(p-1) <= L(p)."""
    cap = k + w_cap
    sufs = []  # (doc, p, tuple of tokens)
    for i, text in docs:
        if text is None:
            continue
        ts = text.split()
        for p in range(max(len(ts) - k + 1, 0)):
            sufs.append((i, p, tuple(ts[p : p + cap])))

    L = {}
    for i, p, s in sufs:
        best = 0
        for l in range(1, len(s) + 1):
            pref = s[:l]
            cnt = sum(1 for _, _, t in sufs if t[:l] == pref)
            if cnt >= c:
                best = l
            else:
                break  # prefix counts are non-increasing in l
        L[(i, p)] = best
    out = set()
    for (i, p), l in L.items():
        if l >= k and L.get((i, p - 1), 0) <= l:
            out.add((i, p, p + l, l))
    return out


# "b\x01z" pins the array-vs-joined-string ordering divergence
# (review r9): \x01 is non-whitespace (survives \s+ tokenization)
# but sorts BELOW space, so a space-joined sort key would misorder
# suffixes and under-compute LCPs for neighbors like [b] vs [b\x01z].
_WORDS = ["a", "b", "c", "b\x01z"]
_docs_strategy = st.lists(
    st.one_of(
        st.none(),
        st.lists(st.sampled_from(_WORDS), min_size=0, max_size=14),
    ),
    min_size=1,
    max_size=4,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=_docs_strategy, k=st.integers(2, 3))
def test_maximal_extents_match_bruteforce_suffix_reference(
    spark, docs, k
):
    rows = [
        (i, None if ts is None else " ".join(ts))
        for i, ts in enumerate(docs)
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_toks"])
        for r in D.maximal_duplicated_extents(
            df, k=k, w_cap=4
        ).collect()
    }
    assert got == _ref_maximal(rows, k=k, w_cap=4)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=_docs_strategy, k=st.integers(2, 3), c=st.integers(3, 4))
def test_maximal_extents_min_count_matches_bruteforce(
    spark, docs, k, c
):
    """The windowed-c generalization (r10, VERDICT r9 item 4) vs the
    brute-force >= c-occurrence suffix reference."""
    rows = [
        (i, None if ts is None else " ".join(ts))
        for i, ts in enumerate(docs)
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_toks"])
        for r in D.maximal_duplicated_extents(
            df, k=k, w_cap=4, min_count=c
        ).collect()
    }
    assert got == _ref_maximal(rows, k=k, w_cap=4, c=c)


def test_maximal_extents_min_count_validation(spark):
    import pytest as _pytest

    df = spark.createDataFrame([(1, "a b c")], "doc_id LONG, text STRING")
    with _pytest.raises(ValueError, match="min_count"):
        D.maximal_duplicated_extents(df, min_count=1)


def test_c3_semantics_triple_vs_double(spark):
    """A 6-gram occurring exactly twice reports at c=2 but NOT at
    c=3; one occurring three times reports at both, and c=3's L
    never exceeds c=2's at the same position (L_c is non-increasing
    in c)."""
    df = spark.createDataFrame(
        [
            (1, "a b c d e f tail1"),
            (2, "a b c d e f tail2"),       # pair-only 6-gram
            (3, "p q r s t u m1"),
            (4, "p q r s t u m2"),
            (5, "p q r s t u m3"),          # triple 6-gram
        ],
        "doc_id LONG, text STRING",
    )
    c2 = {
        (r["doc_id"], r["span_start"]): r["span_toks"]
        for r in D.maximal_duplicated_extents(df, k=6).collect()
    }
    c3 = {
        (r["doc_id"], r["span_start"]): r["span_toks"]
        for r in D.maximal_duplicated_extents(
            df, k=6, min_count=3
        ).collect()
    }
    assert (1, 0) in c2 and (2, 0) in c2  # the pair reports at c=2
    assert (1, 0) not in c3 and (2, 0) not in c3  # but not at c=3
    assert {(3, 0), (4, 0), (5, 0)} <= set(c3)  # the triple does
    for key, l3 in c3.items():
        assert l3 <= c2[key]  # L_3 <= L_2 pointwise


def test_islands_subset_of_maximal_extents_coverage(spark):
    """Consistency gate tying the REMOVAL artifact to the AUDIT
    artifact (r10, VERDICT r9 item 4): on the sf0.001 documents
    fixture, every duplicated_span_extents island position is
    covered by the union of maximal extents at c=2 (any duplicated
    k-gram lies inside some maximal duplicated substring), and every
    c=3 extent is covered by the c=2 coverage (>= 3 occurrences
    implies >= 2)."""
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    k = 6
    islands = D.duplicated_span_extents(docs, k=k).collect()
    spark.catalog.clearCache()
    c2 = D.maximal_duplicated_extents(docs, k=k).collect()
    c3 = D.maximal_duplicated_extents(docs, k=k, min_count=3).collect()
    cover: dict[int, set[int]] = {}
    for r in c2:
        cover.setdefault(r["doc_id"], set()).update(
            range(r["span_start"], r["span_end"])
        )
    assert islands, "fixture must exercise the invariant"
    for r in islands:
        got = cover.get(r["doc_id"], set())
        missing = set(range(r["span_start"], r["span_end"])) - got
        assert not missing, (r, sorted(missing)[:5])
    assert c3, "fixture must contain a >=3-occurrence span"
    for r in c3:
        got = cover.get(r["doc_id"], set())
        assert set(range(r["span_start"], r["span_end"])) <= got, r


def test_maximal_vs_islands_semantics(spark):
    """The refinement's point, pinned: two distinct duplicated
    6-grams overlapping in one doc make ONE island (union of covered
    positions) but TWO maximal extents — and neither reported extent
    over-claims text that isn't actually repeated."""
    df = spark.createDataFrame(
        [
            (1, "p1 p2 a b c d e f g h t1 t2"),
            (2, "a b c d e f x y"),          # left 6-gram source
            (3, "u v c d e f g h"),          # right 6-gram source
        ],
        "doc_id LONG, text STRING",
    )
    islands = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in D.duplicated_span_extents(df, k=6).collect()
        if r["doc_id"] == 1
    }
    spark.catalog.clearCache()  # islands persists its gram table
    maximal = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in D.maximal_duplicated_extents(df, k=6).collect()
        if r[0] == 1
    }
    assert islands == {(1, 2, 10)}  # one fused 8-token island
    assert maximal == {(1, 2, 8), (1, 4, 10)}  # two true 6-token runs


def test_lcp_identical_slices_full_cap(spark):
    """Two docs sharing MORE than k + w_cap tokens: every position in
    the long run must report the cap-clipped L = k + w_cap — the
    array_position-returns-0-on-absent trap (identical truncated
    suffixes have no `false` in the zipped equality array; without
    nullif the lcp came out -1 and every full-cap match vanished —
    caught by the sf0.01 gate, pinned here)."""
    run = " ".join(f"t{i}" for i in range(12))  # 12 shared tokens
    df = spark.createDataFrame(
        [(1, run + " endone"), (2, run + " endtwo")],
        "doc_id LONG, text STRING",
    )
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_toks"])
        for r in D.maximal_duplicated_extents(
            df, k=3, w_cap=5  # cap = 8 < 12-token shared run
        ).collect()
    }
    ref = _ref_maximal(
        [(1, run + " endone"), (2, run + " endtwo")], k=3, w_cap=5
    )
    assert got == ref
    # positions 0..4 of both docs are cap-clipped 8-token extents
    assert (1, 0, 8, 8) in got and (2, 0, 8, 8) in got


def _ref_cross_set(corpus, bench, k, w_cap):
    """Brute force for shared_extent_contamination: per corpus doc,
    the longest capped LCP between any of its suffixes and any
    benchmark suffix, plus the count of corpus positions whose
    >= k-prefix appears verbatim in the benchmark."""
    cap = k + w_cap

    def sufs(docs):
        out = []
        for i, text in docs:
            if text is None:
                continue
            ts = text.split()
            for p in range(max(len(ts) - k + 1, 0)):
                out.append((i, tuple(ts[p : p + cap])))
        return out

    cs, bs = sufs(corpus), sufs(bench)

    def lcp(a, b):
        n = 0
        for x, y in zip(a, b):
            if x != y:
                break
            n += 1
        return n

    per_doc = {}
    for i, s in cs:
        best = max((lcp(s, t) for _, t in bs), default=0)
        if best >= k:
            mx, hits = per_doc.get(i, (0, 0))
            per_doc[i] = (max(mx, best), hits + 1)
    return per_doc


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    corpus=_docs_strategy, bench=_docs_strategy, k=st.integers(2, 3)
)
def test_shared_extent_contamination_matches_bruteforce(
    spark, corpus, bench, k
):
    """max_shared_toks and n_hit_positions match the brute force
    exactly; the reported bench_id ACHIEVES the max (the nearest-
    neighbor construction picks one deterministic witness among
    potentially many)."""
    crows = [
        (i, None if ts is None else " ".join(ts))
        for i, ts in enumerate(corpus)
    ]
    brows = [
        (100 + i, None if ts is None else " ".join(ts))
        for i, ts in enumerate(bench)
    ]
    cdf = spark.createDataFrame(crows, "doc_id LONG, text STRING")
    bdf = spark.createDataFrame(brows, "doc_id LONG, text STRING")
    got = {
        r["doc_id"]: (
            r["max_shared_toks"],
            r["n_hit_positions"],
            r["bench_id"],
        )
        for r in D.shared_extent_contamination(
            cdf, bdf, k=k, w_cap=4
        ).collect()
    }
    want = _ref_cross_set(crows, brows, k=k, w_cap=4)
    assert {i: v[:2] for i, v in got.items()} == want
    # the witness achieves the max
    cap = k + 4
    btoks = {
        i: (t or "").split() for i, t in brows if t is not None
    }
    for i, (mx, _, bid) in got.items():
        ts = dict(crows)[i].split()
        bts = btoks[bid]
        achieved = 0
        for p in range(len(ts)):
            for q in range(len(bts)):
                a, b = tuple(ts[p : p + cap]), tuple(bts[q : q + cap])
                n = 0
                for x, y in zip(a, b):
                    if x != y:
                        break
                    n += 1
                achieved = max(achieved, n)
        assert achieved == mx, (i, bid, mx, achieved)


def test_shared_extent_contamination_semantics(spark):
    """An 8-token verbatim benchmark span reports length 8 at k=6
    with the right partner; a doc sharing nothing is absent; on a
    max-length tie the witness is the NEAREST suffix-order neighbor
    (a deterministic pick, not the globally smallest id)."""
    corpus = spark.createDataFrame(
        [
            (1, "x1 x2 a b c d e f g h y1 y2"),  # 8-token span
            (2, "no overlap with anything here at all"),
            (3, "p q r s t u"),                   # exact 6 in 2 benches
        ],
        "doc_id LONG, text STRING",
    )
    bench = spark.createDataFrame(
        [
            (100, "zz a b c d e f g h zz"),
            (101, "p q r s t u tail"),
            (102, "p q r s t u other"),
        ],
        "doc_id LONG, text STRING",
    )
    got = {
        r["doc_id"]: (
            r["max_shared_toks"],
            r["bench_id"],
            r["n_hit_positions"],
        )
        for r in D.shared_extent_contamination(
            corpus, bench, k=6, w_cap=18
        ).collect()
    }
    assert set(got) == {1, 3}
    assert got[1] == (8, 100, 3)  # positions 2,3,4 hit with 8/7/6
    # 101 and 102 both achieve 6; the witness is the nearest
    # FOLLOWING suffix-order neighbor: "...u other" (102) sorts
    # before "...u tail" (101), so 102 wins deterministically.
    assert got[3] == (6, 102, 1)


def _xset_rows(df):
    return sorted(
        (
            r["doc_id"],
            r["max_shared_toks"],
            r["bench_id"],
            r["n_hit_positions"],
        )
        for r in df.collect()
    )


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    corpus=_docs_strategy, bench=_docs_strategy, k=st.integers(2, 3)
)
def test_incremental_contamination_equals_from_scratch(
    spark, corpus, bench, k
):
    """The r11 incremental path — persisted old-position table +
    delta-only window pass + merge — must reproduce the from-scratch
    union report EXACTLY, witness ids included (the per-position
    nearest-neighbor identity: union neighbors are the slice-order
    extremes of the per-set neighbors)."""
    crows = [
        (i, None if ts is None else " ".join(ts))
        for i, ts in enumerate(corpus)
    ]
    brows = [
        (100 + i, None if ts is None else " ".join(ts))
        for i, ts in enumerate(bench)
    ]
    cdf = spark.createDataFrame(crows, "doc_id LONG, text STRING")
    bdf = spark.createDataFrame(brows, "doc_id LONG, text STRING")
    bench_old = bdf.filter(F.col("doc_id") % 2 == 0)
    bench_delta = bdf.filter(F.col("doc_id") % 2 == 1)
    scratch = D.shared_extent_contamination(cdf, bdf, k=k, w_cap=4)
    old_pos = D.contamination_hit_positions(
        cdf, bench_old, k=k, w_cap=4
    )
    inc = D.shared_extent_contamination_incremental(
        cdf, bench_delta, old_pos, k=k, w_cap=4
    )
    assert _xset_rows(inc) == _xset_rows(scratch)


def test_incremental_positions_survive_parquet_roundtrip(
    spark, tmp_path
):
    """The old-position table is a PERSISTED artifact in production:
    write it to parquet, read it back, and the incremental result
    must still equal from-scratch — pins the schema (arrays + the
    two neighbor structs) through the storage boundary, not just
    in-flight lineage."""
    corpus = spark.createDataFrame(
        [
            (1, "x1 x2 a b c d e f g h y1 y2"),
            (2, "m n o p q r"),
        ],
        "doc_id LONG, text STRING",
    )
    bench_old = spark.createDataFrame(
        [(100, "zz a b c d e f zz")], "doc_id LONG, text STRING"
    )
    bench_delta = spark.createDataFrame(
        [(200, "a b c d e f g h tail"), (201, "m n o p q r")],
        "doc_id LONG, text STRING",
    )
    p = str(tmp_path / "oldpos.parquet")
    D.contamination_hit_positions(
        corpus, bench_old, k=4, w_cap=18
    ).write.parquet(p)
    inc = D.shared_extent_contamination_incremental(
        corpus, bench_delta, spark.read.parquet(p), k=4, w_cap=18
    )
    scratch = D.shared_extent_contamination(
        corpus, bench_old.unionByName(bench_delta), k=4, w_cap=18
    )
    assert _xset_rows(inc) == _xset_rows(scratch)


def test_incremental_contamination_merge_semantics(spark):
    """Directed cases: a delta that lengthens an old doc's best
    match updates max + witness; a doc hit only by the delta
    appears; a doc hit only by the old set survives the merge;
    shared positions are not double-counted."""
    corpus = spark.createDataFrame(
        [
            (1, "x1 x2 a b c d e f g h y1 y2"),
            (2, "m n o p q r"),
            (3, "only old hits this doc here"),
        ],
        "doc_id LONG, text STRING",
    )
    bench_old = spark.createDataFrame(
        [(100, "zz a b c d e f zz"), (101, "only old hits this")],
        "doc_id LONG, text STRING",
    )
    bench_delta = spark.createDataFrame(
        [(200, "a b c d e f g h tail"), (201, "m n o p q r")],
        "doc_id LONG, text STRING",
    )
    union = bench_old.unionByName(bench_delta)
    scratch = D.shared_extent_contamination(
        corpus, union, k=4, w_cap=18
    )
    old_pos = D.contamination_hit_positions(
        corpus, bench_old, k=4, w_cap=18
    )
    inc = D.shared_extent_contamination_incremental(
        corpus, bench_delta, old_pos, k=4, w_cap=18
    )
    got = {r[0]: r[1:] for r in _xset_rows(inc)}
    assert _xset_rows(inc) == _xset_rows(scratch)
    # doc 1: old best was 6 ("a b c d e f"), delta lengthens to 8
    assert got[1][0] == 8 and got[1][1] == 200
    # doc 2: delta-only hit
    assert got[2][0] == 6 and got[2][1] == 201
    # doc 3: old-only hit survives
    assert got[3][1] == 101


def test_extents_identical_at_128_shuffle_partitions(spark, sf_small):
    """Raising ``spark.sql.shuffle.partitions`` to 128 around the
    action (the width every exchange of the default plan follows)
    must leave the extents BIT-identical."""
    import os

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    docs = spark.read.parquet(
        os.path.join(sf_small, "documents.parquet")
    )
    base = sorted(
        map(tuple, D.maximal_duplicated_extents(docs).collect())
    )
    spark.conf.set(key, "128")
    try:
        wide = sorted(
            map(tuple, D.maximal_duplicated_extents(docs).collect())
        )
    finally:
        spark.conf.set(key, before)
    assert wide == base


EXTENT_DOCS = [
    (1, "a b c d e f g a b c d e f g"),  # within-doc repeat
    (2, "x a b c d e f g y"),  # cross-doc repeat of the same run
    (3, "a b c d e f g"),  # exactly the shared run
    (4, ""),  # empty
    (5, None),  # NULL text
    (6, "one two three"),  # shorter than k
    (7, "p q r s t u v w"),  # no duplicated grams
]


def test_extents_count_partitions_result_invariant(spark):
    df = spark.createDataFrame(EXTENT_DOCS, "doc_id long, text string")

    def rows(out):
        return sorted(tuple(r) for r in out.collect())

    base = rows(D.maximal_duplicated_extents(df, k=3, w_cap=6))
    assert base, "fixture must produce extents"
    for n in (1, 5):
        got = rows(
            D.maximal_duplicated_extents(
                df, k=3, w_cap=6, count_partitions=n
            )
        )
        assert got == base, n
    # generic min_count path too (two-window variant)
    base3 = rows(
        D.maximal_duplicated_extents(df, k=3, w_cap=6, min_count=3)
    )
    got3 = rows(
        D.maximal_duplicated_extents(
            df, k=3, w_cap=6, min_count=3, count_partitions=3
        )
    )
    assert got3 == base3
