"""Dedup operator tests on a corpus with *known* duplicate structure."""

from __future__ import annotations

import random
from collections import Counter

import pytest
from pyspark.sql import functions as F

from convert_parquet_to_csv_spark.functions.text import tokens
from convert_parquet_to_csv_spark.operators import dedup as D

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside"
)
NEAR = BASE.replace("warm", "cold")  # one-token edit → high jaccard
OTHER = (
    "completely different text about spark dataframes shuffles and "
    "catalyst optimizer plans running on large clusters every day"
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, BASE),
        (1, BASE),               # exact dup of 0
        (2, "  " + BASE + "  "),  # whitespace-variant dup of 0
        (3, NEAR),               # near dup of 0
        (4, OTHER),
        (5, ""),                 # empty doc
    ]
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def test_exact_dedup_min_id_survivor(spark, corpus):
    kept = sorted(r["doc_id"] for r in D.exact_dedup(corpus).collect())
    # 1 and 2 collapse into 0 (normalization); near-dup 3 survives
    assert kept == [0, 3, 4, 5]


def test_ngram_jaccard_pairs(spark, corpus):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(corpus, threshold=0.3).collect()
    }
    assert pairs[(0, 1)] == 1.0 and pairs[(0, 2)] == 1.0 and pairs[(1, 2)] == 1.0
    assert 0.3 < pairs[(0, 3)] < 1.0   # near dup: high but not 1
    assert (0, 4) not in pairs and (4, 5) not in pairs


def test_containment_pairs_finds_excerpt_jaccard_misses(spark):
    """A short excerpt quoted inside a long page has near-1.0
    containment but tiny Jaccard — the asymmetric detector must flag
    it (contained side first) while the symmetric one stays silent,
    and unrelated docs must not pair."""
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(120))
    excerpt = "alpha beta gamma delta epsilon zeta eta theta"
    page = f"{filler} {excerpt}"
    df = spark.createDataFrame(
        [(0, page), (1, excerpt), (2, "totally unrelated words here")],
        "doc_id LONG, text STRING",
    )
    out = {
        (r["contained_id"], r["container_id"]): r["containment"]
        for r in D.containment_pairs(df, k=3, threshold=0.8).collect()
    }
    assert (1, 0) in out and out[(1, 0)] == 1.0
    assert (0, 1) not in out  # page is NOT contained in the excerpt
    assert not any(2 in pair for pair in out)
    # symmetric Jaccard misses the same pair at any useful threshold
    jac = {
        (r["id_a"], r["id_b"])
        for r in D.ngram_jaccard_pairs(df, k=3, threshold=0.3).collect()
    }
    assert (0, 1) not in jac and (1, 0) not in jac


def test_containment_threshold_and_direction(spark):
    """Half-contained doc sits below a 0.8 threshold but above 0.4;
    both ordered directions carry their own denominators."""
    a = "p1 p2 p3 p4 p5 p6"            # 4 3-shingles
    b = "p1 p2 p3 p4 q5 q6 q7 q8"     # shares shingles of 'p1 p2 p3 p4'
    df = spark.createDataFrame(
        [(0, a), (1, b)], "doc_id LONG, text STRING"
    )
    out = {
        (r["contained_id"], r["container_id"]): r["containment"]
        for r in D.containment_pairs(df, k=3, threshold=0.4).collect()
    }
    # S(a)={p123,p234,p345,p456}, S(b)={p123,p234,p34q5,...}: i=2
    assert out[(0, 1)] == 0.5          # 2/4 ≥ 0.4: contained dir in
    assert (1, 0) not in out           # 2/6 ≈ 0.33 < 0.4: other dir out
    out_hi = {
        (r["contained_id"], r["container_id"])
        for r in D.containment_pairs(df, k=3, threshold=0.8).collect()
    }
    assert out_hi == set()


def test_winnow_guarantee_shared_run_shares_fingerprint(spark):
    """The winnowing guarantee: two docs sharing a token run of
    length >= window + k - 1 MUST share at least one fingerprint
    value, regardless of surrounding text."""
    k, w = 5, 4
    run = " ".join(f"r{i}" for i in range(k + w - 1))  # exactly w+k-1
    df = spark.createDataFrame(
        [
            (0, f"aa bb cc {run} dd ee"),
            (1, f"zz yy {run} xx ww vv uu"),
            (2, "nothing in common with the others at all even once"),
        ],
        "doc_id LONG, text STRING",
    )
    fps = D.winnow_fingerprints(df, k=k, window=w)
    pairs = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in D.winnow_candidate_pairs(fps, min_shared=1).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] >= 1
    assert not any(2 in p for p in pairs)


def test_winnow_selection_validity_and_density(spark):
    """Every fingerprint is a real gram hash at a real position; the
    selected count is far below the gram count (the ~2/(w+1) density
    claim, loosely bounded); a sub-(k+w-1)-token doc still yields its
    single overall-min gram; sub-k docs yield nothing."""
    k, w = 5, 4
    words = " ".join(f"t{i * 17 % 101}" for i in range(300))
    df = spark.createDataFrame(
        [(0, words), (1, "only six little words right here"),
         (2, "too short")],
        "doc_id LONG, text STRING",
    )
    fps = D.winnow_fingerprints(df, k=k, window=w)
    rows = fps.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append((r["pos"], r["fp"]))
    n_grams_0 = 300 - k + 1
    assert 0 < len(by_doc[0]) < n_grams_0 / 2  # well under half
    assert all(0 <= p < n_grams_0 for p, _ in by_doc[0])
    # doc 1 has 7 tokens → 3 grams < window → exactly one fingerprint
    assert len(by_doc.get(1, [])) == 1
    assert 2 not in by_doc


def test_winnow_md5_flavor_same_guarantee(spark):
    """The md5 (oracle-replayable) flavor keeps the guarantee and
    yields positive longs parseable by both engines."""
    k, w = 3, 3
    run = " ".join(f"m{i}" for i in range(k + w - 1))
    df = spark.createDataFrame(
        [(0, f"pre {run} post"), (1, f"{run} tail words")],
        "doc_id LONG, text STRING",
    )
    fps = D.winnow_fingerprints(df, k=k, window=w, hash_fn="md5")
    assert fps.filter(F.col("fp") < 0).count() == 0
    pairs = D.winnow_candidate_pairs(fps, min_shared=1)
    assert {(r["id_a"], r["id_b"]) for r in pairs.collect()} == {(0, 1)}


def test_minhash_signatures_shape_and_determinism(spark, corpus):
    s1 = D.minhash_signatures(corpus, num_perm=16)
    assert len(s1.columns) == 17
    assert s1.count() == 5  # empty doc has no signature
    sig0 = s1.filter(F.col("doc_id") == 0).first()
    sig1 = s1.filter(F.col("doc_id") == 1).first()
    assert [sig0[f"h{i}"] for i in range(16)] == [sig1[f"h{i}"] for i in range(16)]


def test_minhash_dedup_finds_near_dup(spark, corpus):
    kept = sorted(
        r["doc_id"] for r in D.minhash_dedup(corpus, threshold=0.5).collect()
    )
    # 1,2 exact dups of 0; 3 near-dup (jaccard ~0.77) also dropped
    assert kept == [0, 4, 5]


def _seeded_neardup_corpus(spark, n_unique=240, n_near=60, n_hot=60):
    """Seeded docs: unique docs, near-duplicates that replace 2-40% of
    an earlier doc's words (so pairs fall on both sides of a 0.5
    threshold), one exact-duplicate cluster of ``n_hot`` docs and one
    empty doc, with shuffled ids."""
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(400)]
    texts = [
        [rng.choice(vocab) for _ in range(rng.randint(20, 60))]
        for _ in range(n_unique)
    ]
    for _ in range(n_near):
        copy = list(rng.choice(texts[:n_unique]))
        n_edit = max(1, int(len(copy) * rng.uniform(0.02, 0.4)))
        for j in rng.sample(range(len(copy)), n_edit):
            copy[j] = rng.choice(vocab)
        texts.append(copy)
    hot = [rng.choice(vocab) for _ in range(30)]
    texts += [hot] * n_hot + [[]]
    ids = list(range(len(texts)))
    rng.shuffle(ids)
    rows = [(i, " ".join(t)) for i, t in zip(ids, texts)]
    return spark.createDataFrame(rows, "doc_id LONG, text STRING"), dict(rows)


def test_minhash_dedup_matches_python_replay(spark):
    """Survivors equal a Python replay of the verify rule: exact
    Jaccard over word 3-gram sets for every lsh_candidate_pairs pair,
    dropping the greater id of each pair at or over the threshold.
    The hot cluster's buckets exceed max_bucket, so its docs are never
    candidates and all survive."""
    df, text = _seeded_neardup_corpus(spark)
    max_bucket = 50
    cand = D.lsh_candidate_pairs(
        D.minhash_signatures(df), max_bucket=max_bucket
    ).collect()

    def grams(i):
        t = text[i].split()
        return {" ".join(t[j:j + 3]) for j in range(max(len(t) - 2, 1))}

    removed = set()
    for a, b in ((r["id_a"], r["id_b"]) for r in cand):
        if len(grams(a) & grams(b)) / len(grams(a) | grams(b)) >= 0.5:
            removed.add(b)
    got = {
        r["doc_id"]
        for r in D.minhash_dedup(df, max_bucket=max_bucket).collect()
    }
    assert got == set(text) - removed
    assert removed, "fixture must produce verified near-duplicates"
    assert len(removed) < len(cand), "fixture must reject some candidates"
    (hot, n_hot), = Counter(text.values()).most_common(1)
    assert n_hot > max_bucket
    assert {i for i, t in text.items() if t == hot} <= got


def _explain(df, capsys) -> str:
    capsys.readouterr()
    df.explain()
    return capsys.readouterr().out


@pytest.mark.parametrize(
    "dedup_op",
    [
        lambda df: D.minhash_dedup(df, max_bucket=50),
        lambda df: D.minhash_dedup_incremental(
            df, (F.col("doc_id") % 3) == 0, max_bucket=50
        ),
    ],
    ids=["minhash_dedup", "minhash_dedup_incremental"],
)
def test_minhash_pipeline_keeps_no_cache(spark, capsys, dedup_op):
    """Neither the returned plan nor anything left after an action on
    it holds a cache: a fresh DataFrame over the same input (the
    operator again, and its signature and candidate phases) explains
    without an InMemoryRelation."""
    df, _ = _seeded_neardup_corpus(spark)
    spark.catalog.clearCache()
    out = dedup_op(df)
    assert "InMemoryRelation" not in _explain(out, capsys)
    out.collect()
    sigs = D.minhash_signatures(df)
    cand = D.lsh_candidate_pairs(sigs, max_bucket=50)
    for probe in (dedup_op(df), sigs, cand):
        assert "InMemoryRelation" not in _explain(probe, capsys)
    # ...and the probe does show a cache when one exists
    pinned = D.minhash_signatures(df).persist()
    try:
        assert "InMemoryRelation" in _explain(D.minhash_signatures(df), capsys)
    finally:
        pinned.unpersist()


def test_lsh_candidates_subset_verified(spark, corpus):
    sigs = D.minhash_signatures(corpus)
    cand = D.lsh_candidate_pairs(sigs)
    cand_set = {(r["id_a"], r["id_b"]) for r in cand.collect()}
    assert (0, 1) in cand_set and (0, 2) in cand_set
    # verification prunes candidates to true near-dups
    verified = D.ngram_jaccard_pairs(
        corpus, threshold=0.5, candidates=cand
    )
    vset = {(r["id_a"], r["id_b"]) for r in verified.collect()}
    assert vset <= cand_set and (0, 3) in vset


def test_simhash_near_dup_small_hamming(spark, corpus):
    sigs = D.simhash_signatures(corpus)
    assert sigs.count() == 5
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in D.simhash_pairs(sigs, max_hamming=10).collect()
    }
    assert pairs[(0, 1)] == 0 and pairs[(0, 2)] == 0
    assert 0 < pairs[(0, 3)] <= 10  # near dup: few bits differ
    kept = sorted(r["doc_id"] for r in D.simhash_dedup(corpus).collect())
    assert 0 in kept and 4 in kept and 1 not in kept and 2 not in kept


def test_max_bucket_guard(spark, corpus):
    sigs = D.minhash_signatures(corpus)
    # bucket cap of 1 drops every shared band bucket → no candidates
    cand = D.lsh_candidate_pairs(sigs, max_bucket=1)
    assert cand.count() == 0


N_HOT, N_COLD = 150, 350


def _hot_cluster_corpus(spark):
    """30% of the corpus is one identical document, so every band,
    chunk or hash bucket funnels 30% of all docs into one bucket."""
    rows = [(i, "the exact same viral chain letter forwarded everywhere "
                "again and again with identical words") for i in range(N_HOT)]
    rows += [
        (N_HOT + i,
         f"distinct article number {i} covering topic {i * 7} with "
         f"unique tokens {i * 13} and {i * 31} nothing shared")
        for i in range(N_COLD)
    ]
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def _lsh_pairs(corpus, max_bucket):
    sigs = D.minhash_signatures(corpus, num_perm=16)
    return D.lsh_candidate_pairs(
        sigs, num_perm=16, bands=4, max_bucket=max_bucket
    ).collect()


def _simhash_pairs(corpus, max_bucket):
    sigs = D.simhash_signatures(corpus)
    return D.simhash_pairs(sigs, max_bucket=max_bucket).collect()


def _incremental_pairs(corpus, max_bucket):
    """(matched_id, id) for every new doc the admission drops; all
    docs are new, so a hot doc pairs with the smallest hot id."""
    rows = D.minhash_dedup_incremental(
        corpus, F.lit(True), num_perm=16, bands=4, max_bucket=max_bucket
    ).collect()
    return [(r["matched_id"], r["doc_id"]) for r in rows if not r["kept"]]


def _ahash_pairs(corpus, max_bucket):
    """49-bit hashes of the text: the hot cluster shares one hash."""
    from convert_parquet_to_csv_spark.operators.multimodal import (
        ahash_neardup_pairs,
    )

    hashes = corpus.select(
        F.col("doc_id").alias("media_id"),
        F.xxhash64("text").bitwiseAND(F.lit((1 << 49) - 1)).alias("ahash"),
    )
    return ahash_neardup_pairs(
        hashes, grid=7, bands=7, max_hamming=2, max_bucket=max_bucket
    ).collect()


_ALL_HOT_PAIRS = {(a, b) for a in range(N_HOT) for b in range(a + 1, N_HOT)}


@pytest.mark.parametrize(
    "pairs, hot_pairs",
    [
        (_lsh_pairs, _ALL_HOT_PAIRS),
        (_simhash_pairs, _ALL_HOT_PAIRS),
        (_incremental_pairs, {(0, b) for b in range(1, N_HOT)}),
        (_ahash_pairs, _ALL_HOT_PAIRS),
    ],
    ids=["lsh_candidate_pairs", "simhash_pairs",
         "minhash_dedup_incremental", "ahash_neardup_pairs"],
)
def test_hot_bucket_stress(spark, pairs, hot_pairs):
    """Pathological skew: uncapped, the hot bucket
    alone yields C(150,2) = 11 175 pairs; ``max_bucket`` must drop
    every one of them so the quadratic blowup never reaches verify."""
    corpus = _hot_cluster_corpus(spark)

    def as_set(rows):
        return {(r[0], r[1]) for r in rows}

    unguarded = as_set(pairs(corpus, None))
    assert hot_pairs <= unguarded  # uncapped: the full hot set
    guarded = as_set(pairs(corpus, 50))
    # no pair inside the hot cluster survives the cap; only
    # cold-corpus collisions (rare) remain
    assert all(b >= N_HOT for _, b in guarded)
    assert len(guarded) <= len(unguarded) - len(hot_pairs)
    assert len(guarded) < N_COLD  # candidate work is linear-ish, not n²


def test_hot_shingle_guard_jaccard(spark):
    """ngram_jaccard_pairs(max_bucket=...) drops stop-shingles from
    candidate generation: docs sharing ONLY a ubiquitous phrase stop
    pairing, while genuinely similar docs still pair."""
    common = "as seen on every page header today"
    rows = [(i, f"{common} article {i} about topic {i * 11}")
            for i in range(40)]
    rows.append((100, "two documents that are truly almost identical twins"))
    rows.append((101, "two documents that are truly almost identical tins"))
    corpus = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    guarded = {
        (r["id_a"], r["id_b"])
        for r in D.ngram_jaccard_pairs(
            corpus, threshold=0.3, max_bucket=10, persist=False
        ).collect()
    }
    assert (100, 101) in guarded
    # no pair among the header-only docs
    assert all(a >= 100 for a, _ in guarded)


def test_hot_shingle_guard_containment(spark):
    """containment_pairs(max_bucket=...): guard-on == guard-off minus
    every pair whose overlap is carried ONLY by hot (stop-)shingles
    (VERDICT r6 item 4 — the minhash hot-bucket device applied to the
    containment family, where stop-shingle skew is WORSE than
    Jaccard's: a short doc's denominator lets common shingles alone
    clear the threshold)."""
    # 30 boilerplate docs sharing one ubiquitous header phrase, plus a
    # genuine excerpt/container pair that shares nothing with it. The
    # short header-only docs hit containment 1.0 against each other
    # unguarded (their whole shingle set IS the hot phrase).
    header = "all rights reserved terms of service apply"
    rows = [(i, header) for i in range(30)]
    rows.append((100, "the quick brown fox jumps over the lazy dog tonight"))
    rows.append((101, "opening words then the quick brown fox jumps over "
                      "the lazy dog tonight and much more trailing text "
                      "follows here"))
    corpus = spark.createDataFrame(rows, "doc_id LONG, text STRING")

    def pairs(max_bucket):
        return {
            (r["contained_id"], r["container_id"])
            for r in D.containment_pairs(
                corpus, threshold=0.8, max_bucket=max_bucket,
                persist=False,
            ).collect()
        }

    unguarded = pairs(None)
    guarded = pairs(10)
    # the blowup is real: 30 identical boilerplate docs pair both ways
    hot_pairs = {
        (a, b) for a in range(30) for b in range(30) if a != b
    }
    assert hot_pairs <= unguarded
    # guard-on == guard-off minus exactly the hot-shingle-only pairs:
    # the excerpt pair (100 ⊂ 101) survives, boilerplate pairs vanish
    assert guarded == unguarded - hot_pairs
    assert (100, 101) in guarded
    # denominator is NOT guarded: with every shingle of the
    # boilerplate docs hot, their intersection is 0, not undefined
    assert all(a >= 100 for a, _ in guarded)


def test_duplicated_span_extents_islands(spark):
    """ExactSubstr extents vs a pure-Python reference: total-count
    hotness (within-doc repeats count, Lee et al.'s rule) and
    gaps-and-islands merging into maximal [start, end) extents."""
    # doc 0 repeats its own 3-gram "a b c" twice (within-doc dup);
    # docs 1 and 2 share "x y z" once each (cross-doc dup); doc 3 is
    # clean. k=3, min_count=2.
    rows = [
        (0, "a b c q r s t a b c"),
        (1, "p p p x y z q q q"),
        (2, "m m m m x y z"),
        (3, "u v w unique only here"),
    ]
    corpus = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_toks"])
        for r in D.duplicated_span_extents(
            corpus, k=3, min_count=2
        ).collect()
    }

    def ref(rows, k, min_count):
        toks = {i: t.split() for i, t in rows}
        from collections import Counter
        cnt = Counter()
        for i, tk in toks.items():
            for p in range(len(tk) - k + 1):
                cnt[tuple(tk[p:p + k])] += 1
        out = set()
        for i, tk in toks.items():
            cov = sorted({
                p + c
                for p in range(len(tk) - k + 1)
                if cnt[tuple(tk[p:p + k])] >= min_count
                for c in range(k)
            })
            start = None
            prev = None
            for pos in cov + [None]:
                if start is None:
                    start, prev = pos, pos
                elif pos is not None and pos == prev + 1:
                    prev = pos
                else:
                    out.add((i, start, prev + 1, prev + 1 - start))
                    start, prev = pos, pos
        return out

    expect = ref(rows, 3, 2)
    assert got == expect
    # doc 0: both "a b c" occurrences covered (within-doc rule) as
    # two separate extents; doc 3 clean; "p p p" in doc 1 and
    # "m m m" runs in doc 2 ARE hot (total-count >= 2 via overlap
    # counting within the run) — the reference encodes the truth.
    assert (0, 0, 3, 3) in got and (0, 7, 10, 3) in got
    assert not any(d == 3 for d, *_ in got)


def test_keep_best_per_cluster_argmax(spark):
    """Survivor = max quality, ties -> min id; singletons survive."""
    docs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (4, 7)],
        "doc_id LONG, n_chars INT",
    )
    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4)],
        "doc_id LONG, component LONG",
    )
    got = {
        (r["component"], r["survivor_id"], r["quality"], r["n_members"])
        for r in D.keep_best_per_cluster(
            docs, comps, "n_chars"
        ).collect()
    }
    # cluster 1: quality tie 30/30 between ids 2 and 3 -> min id 2
    assert got == {(1, 2, 30, 3), (4, 4, 7, 1)}


def test_keep_best_per_cluster_float_quality(spark):
    """Fractional model scores must elect correctly (no silent
    integer truncation — 0.97 beats 0.13)."""
    docs = spark.createDataFrame(
        [(1, 0.13), (2, 0.97), (3, 0.5)],
        "doc_id LONG, score DOUBLE",
    )
    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "doc_id LONG, component LONG"
    )
    got = D.keep_best_per_cluster(docs, comps, "score").collect()
    assert len(got) == 1
    assert got[0]["survivor_id"] == 2
    assert abs(got[0]["quality"] - 0.97) < 1e-12


# --------------------------------------------------------------------------
# r8 wave 2: within-doc repeated-span removal + the LSH S-curve table
# --------------------------------------------------------------------------


def test_remove_within_doc_repeats_keep_first(spark):
    """Keep-first semantics: the first occurrence of every k-gram
    survives, later occurrences' covered positions are removed;
    unique docs pass through byte-identical; sub-k and empty docs
    emit (whole text, n, 0)."""
    from convert_parquet_to_csv_spark.operators.dedup import (
        remove_within_doc_repeats,
    )

    rows = [
        # 'a b' repeats at positions 0, 2 and 5 → positions 2,3,5,6
        # are covered by non-first occurrences
        (1, "a b a b x a b"),
        (2, "all words unique in here"),
        (3, "x"),            # sub-k
        (4, ""),             # empty
        # overlapping repeat of 'a a': positions 0..3; first occ at
        # 0 keeps (0,1); occs at 1,2 are non-first → covered 1,2,3
        (5, "a a a a"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {
        r["doc_id"]: (r["clean_text"], r["n_kept"], r["n_removed"])
        for r in remove_within_doc_repeats(df, k=2).collect()
    }

    def ref(text, k=2):
        toks = text.split()
        first: dict[tuple, int] = {}
        covered = set()
        for p in range(max(len(toks) - k + 1, 0)):
            g = tuple(toks[p : p + k])
            if g in first:
                covered.update(range(p, p + k))
            else:
                first[g] = p
        kept = [w for i, w in enumerate(toks) if i not in covered]
        return (" ".join(kept), len(kept), len(toks) - len(kept))

    for i, text in rows:
        assert got[i] == ref(text), (i, got[i], ref(text))
    # the unique doc is untouched, the loop doc is gutted
    assert got[2][2] == 0
    assert got[5] == ("a", 1, 3)


def test_minhash_s_curve_values(spark):
    """1−(1−s^r)^b on the lattice, bit-equal to python float math
    with the same association; monotone; 0.5-crossing near the
    (1/b)^(1/r) rule of thumb for the repo defaults."""
    from convert_parquet_to_csv_spark.operators.dedup import (
        minhash_s_curve,
    )

    b, r, grid = 8, 4, 20
    got = {
        row["s"]: (row["p_band"], row["p_candidate"])
        for row in minhash_s_curve(
            spark, bands=b, rows_per_band=r, grid=grid
        ).collect()
    }
    assert len(got) == grid - 1
    prev = -1.0
    for i in range(1, grid):
        s = i / float(grid)
        p_band = s
        for _ in range(r - 1):
            p_band = p_band * s
        miss = 1.0 - p_band
        p_all = miss
        for _ in range(b - 1):
            p_all = p_all * miss
        want = (p_band, 1.0 - p_all)
        assert got[s] == want, (s, got[s], want)
        assert want[1] >= prev
        prev = want[1]
    # exact 0.5-crossing: s^4 = 1 − 0.5^(1/8) → s ≈ 0.537 (the
    # (1/b)^(1/r) ≈ 0.595 rule of thumb overshoots — it solves
    # b·s^r = 1, not the exact curve)
    assert got[0.50][1] < 0.5 < got[0.55][1]


def test_dedup_remap_stage_and_chain(spark):
    """Remap rows = (dropped -> min-id survivor) per key group;
    chaining a second stage over the survivors never remaps a doc
    twice and unions cleanly."""
    from convert_parquet_to_csv_spark.operators.dedup import dedup_remap

    rows = [
        (1, "k1", "u1"),
        (2, "k1", "u2"),   # exact-dropped -> 1
        (3, "k2", "u3"),
        (4, "k3", "u3"),   # url-dup of 3 (survives stage 1)
        (5, "k4", "u4"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, k STRING, u STRING")
    s1 = dedup_remap(df, F.col("k"), method="m1")
    got1 = {(r["dropped_id"], r["kept_id"], r["method"])
            for r in s1.collect()}
    assert got1 == {(2, 1, "m1")}
    survivors = df.join(
        s1.select(F.col("dropped_id").alias("doc_id")), "doc_id",
        "left_anti",
    )
    s2 = dedup_remap(survivors, F.col("u"), method="m2")
    got2 = {(r["dropped_id"], r["kept_id"], r["method"])
            for r in s2.collect()}
    assert got2 == {(4, 3, "m2")}
    both = s1.unionByName(s2)
    dropped = [r["dropped_id"] for r in both.collect()]
    assert sorted(dropped) == [2, 4]  # no doc remapped twice


def test_remove_within_doc_repeats_null_and_blank(spark):
    """NULL contract (r8 review): every input doc gets a row — NULL
    text -> (NULL, 0, 0) per the span-dedup contract, whitespace-only
    -> ('', 0, 0), never a missing row or NULL counts."""
    from convert_parquet_to_csv_spark.operators.dedup import (
        remove_within_doc_repeats,
    )

    df = spark.createDataFrame(
        [(1, None), (2, "   "), (3, "a b a b")],
        "doc_id LONG, text STRING",
    )
    got = {
        r["doc_id"]: (r["clean_text"], r["n_kept"], r["n_removed"])
        for r in remove_within_doc_repeats(df, k=2).collect()
    }
    assert got == {
        1: (None, 0, 0),
        2: ("", 0, 0),
        3: ("a b", 2, 2),
    }


def test_remove_duplicated_lines_keep_global_first(spark):
    """Line-level boilerplate removal: every occurrence of a
    duplicated line is removed except the globally first by
    (doc_id, line_pos); unique and blank lines survive; NULL text
    follows the (NULL, 0, 0) contract. Pinned against a pure-Python
    replay of the same rule."""
    from convert_parquet_to_csv_spark.operators.dedup import (
        remove_duplicated_lines,
    )

    rows = [
        (1, "footer text\nunique alpha\nfooter text"),  # in-doc dup too
        (2, "unique beta\nfooter text\ncookie banner"),
        (3, "cookie banner\n\nunique gamma"),            # blank kept
        (4, "   \nunique delta"),                        # ws-only kept
        (5, None),
        (6, ""),                                         # one blank line
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {
        r["doc_id"]: (
            r["clean_text"], r["n_lines_kept"], r["n_lines_removed"]
        )
        for r in remove_duplicated_lines(df).collect()
    }

    # pure-Python replay
    occ = []
    for i, text in rows:
        if text is None:
            continue
        for p, line in enumerate(text.split("\n")):
            occ.append((i, p, line))
    first: dict[str, tuple] = {}
    for i, p, line in occ:  # rows already in (doc, pos) order
        if line.strip() and line not in first:
            first[line] = (i, p)
    counts: dict[str, int] = {}
    for _, _, line in occ:
        if line.strip():
            counts[line] = counts.get(line, 0) + 1
    want = {}
    for i, text in rows:
        if text is None:
            want[i] = (None, 0, 0)
            continue
        lines = text.split("\n")
        kept = [
            ln
            for p, ln in enumerate(lines)
            if not ln.strip()
            or counts[ln] == 1
            or first[ln] == (i, p)
        ]
        want[i] = ("\n".join(kept), len(kept), len(lines) - len(kept))
    assert got == want, (got, want)
    # spot-pin the semantics: doc1 keeps the first global 'footer
    # text' only; doc2 loses it but keeps the first global 'cookie
    # banner' (doc2 pos 2 < doc3 pos 0 by doc order); doc3's blank
    # line survives
    assert got[1] == ("footer text\nunique alpha", 2, 1)
    assert got[2] == ("unique beta\ncookie banner", 2, 1)
    assert got[3] == ("\nunique gamma", 2, 1)
    assert got[6] == ("", 1, 0)


def test_dedup_remap_null_keys_group_together(spark):
    """NULL dedup keys form ONE group (r8 review): the join-back is
    null-safe, so NULL-key duplicates keep their lineage rows instead
    of silently posing as survivors — parity with the oracle's
    PARTITION BY, which groups NULLs."""
    from convert_parquet_to_csv_spark.operators.dedup import dedup_remap

    df = spark.createDataFrame(
        [(10, None), (11, None), (12, "t"), (13, "t")],
        "doc_id LONG, text STRING",
    )
    got = {
        (r["dropped_id"], r["kept_id"])
        for r in dedup_remap(df, F.md5("text"), method="x").collect()
    }
    assert got == {(11, 10), (13, 12)}


# --- incremental MinHash admission (r9) --------------------------------------

def test_minhash_incremental_admission_rule(spark):
    """New docs (id % 7 == 3): an exact copy of a HISTORY doc drops
    with matched_id = that doc even when the history id is LARGER;
    a copy of an EARLIER new doc drops against it; a unique new doc
    keeps. History rows are never re-adjudicated (absent from the
    output)."""
    from convert_parquet_to_csv_spark.operators.dedup import (
        minhash_dedup_incremental,
    )
    from pyspark.sql import functions as F

    base = "alpha beta gamma delta epsilon zeta eta theta"
    uniq = "one two three four five six seven eight nine"
    rows = [
        (3, base),            # new: dup of history 20 -> dropped
        (11, uniq + " x"),    # history (11 % 7 == 4)
        (17, base + " tail"), # new: near-dup of 3? shares most grams
        (20, base),           # history twin of 3 (larger id)
        (24, "solo unique words nothing shared here at all ok"),
        (31, base),           # new: dup of 3 (earlier new) and 20
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {
        r["doc_id"]: (r["kept"], r["matched_id"])
        for r in minhash_dedup_incremental(
            df, F.col("doc_id") % 7 == F.lit(3)
        ).collect()
    }
    # output covers exactly the new ids
    assert set(got) == {3, 17, 24, 31}
    # 3 matches history 20 (larger id than 3 — history always counts)
    assert got[3] == (False, 20)
    # 31 matches 3 (earlier new) before 20: min partner = 3
    assert got[31] == (False, 3)
    # 24 is unique
    assert got[24] == (True, None)
    # 17 shares an 8-gram prefix with base docs; with k=3 shingles
    # jaccard("base", "base tail") = 6/7 >= 0.5 -> dropped, min
    # partner is history 20?? partners: history 20 (J>=0.5) and new 3
    # (3 < 17, J>=0.5) -> min = 3
    assert got[17] == (False, 3)


def test_minhash_incremental_rejects_indivisible_bands(spark):
    """Contract parity with lsh_candidate_pairs (dedup.py:484):
    num_perm % bands != 0 raises instead of silently dropping the
    trailing permutations from banding (ADVICE r9 #2)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from convert_parquet_to_csv_spark.operators.dedup import (
        minhash_dedup_incremental,
    )

    df = spark.createDataFrame(
        [(3, "a b c"), (4, "a b c")], "doc_id LONG, text STRING"
    )
    with _pytest.raises(ValueError, match="divisible"):
        minhash_dedup_incremental(
            df, F.col("doc_id") % 7 == F.lit(3), num_perm=30, bands=8
        )


# --- bucket pairing: operators vs a Python replay over collected buckets ----

LSH_DOCS = [
    # two exact-duplicate clusters + singletons: deterministic buckets
    (1, "alpha beta gamma delta epsilon zeta"),
    (2, "alpha beta gamma delta epsilon zeta"),
    (3, "alpha beta gamma delta epsilon zeta"),
    (4, "one two three four five six seven"),
    (5, "one two three four five six seven"),
    (6, "totally different content here now"),
    (7, "yet another unrelated document body"),
]


def _band_buckets(sigs, num_perm, bands):
    """{(band, band hash): [doc ids]} from the same banding exprs the
    operators use (the hash family is pinned by the recall gates)."""
    r = num_perm // bands
    band_cols = F.array(*[
        F.struct(
            F.lit(j).alias("band"),
            F.xxhash64(*[F.col(f"h{j * r + i}") for i in range(r)]).alias("bh"),
        )
        for j in range(bands)
    ])
    banded = sigs.select(
        F.col("doc_id"), F.explode(band_cols).alias("_b")
    ).select("doc_id", "_b.band", "_b.bh")
    buckets: dict = {}
    for row in banded.collect():
        buckets.setdefault((row.band, row.bh), []).append(row.doc_id)
    return buckets


def _capped(buckets, max_bucket):
    return [
        sorted(ids) for ids in buckets.values()
        if 2 <= len(ids) and (max_bucket is None or len(ids) <= max_bucket)
    ]


def test_lsh_bucket_explode_matches_reference(spark):
    """The lsh_candidate_pairs pair set must equal reference pair
    generation (all a<b pairs from buckets of size in [2, max_bucket])
    at every guard value, including guards small enough to DROP the
    3-doc cluster's buckets, and with no cap at all."""
    df = spark.createDataFrame(LSH_DOCS, "doc_id LONG, text STRING")
    sigs = D.minhash_signatures(df, id_col="doc_id", k=2, num_perm=8)
    buckets = _band_buckets(sigs, num_perm=8, bands=4)
    for mb in (1, 2, 3, 1000, None):
        want = {
            (ids[i], ids[j])
            for ids in _capped(buckets, mb)
            for i in range(len(ids))
            for j in range(i + 1, len(ids))
        }
        got = {
            (row.id_a, row.id_b)
            for row in D.lsh_candidate_pairs(
                sigs, id_col="doc_id", num_perm=8, bands=4, max_bucket=mb
            ).collect()
        }
        assert got == want, f"max_bucket={mb}"
    assert want, "fixture must produce candidate pairs uncapped"


def test_minhash_incremental_bucket_matches_join_form(spark):
    """The incremental admission must equal a Python replay of its rule
    over the collected band buckets: buckets of size in [2,
    max_bucket] holding a new doc yield pairs (a, b) with b new and
    (a old or a < b); a pair verifies at word-2-gram Jaccard >= 0.5;
    matched_id is the smallest verified partner. The fixture has
    old-only dup clusters (the has-new bucket filter), new-vs-history
    matches, and new-vs-new ordering."""
    docs = [
        (1, "alpha beta gamma delta epsilon zeta"),   # history
        (2, "alpha beta gamma delta epsilon zeta"),   # history dup (old-only pair)
        (7, "alpha beta gamma delta epsilon zeta"),   # new, matches history
        (14, "one two three four five six seven"),    # new
        (21, "one two three four five six seven"),    # new, matches 14
        (3, "totally different content here now"),    # history singleton
        (28, "fresh unmatched new document body"),    # new singleton
    ]
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    is_new = (F.col("doc_id") % 7) == 0
    text = dict(docs)
    new = {i for i in text if i % 7 == 0}
    sigs = D.minhash_signatures(df, id_col="doc_id", k=2, num_perm=8)
    buckets = _band_buckets(sigs, num_perm=8, bands=4)

    def grams(i):
        t = text[i].split()
        return {tuple(t[j:j + 2]) for j in range(len(t) - 1)}

    def replay(mb):
        matched: dict = {}
        for ids in _capped(buckets, mb):
            for a in ids:
                for b in ids:
                    if (b in new and a != b and (a not in new or a < b)
                            and len(grams(a) & grams(b))
                            / len(grams(a) | grams(b)) >= 0.5):
                        matched[b] = min(matched.get(b, a), a)
        return {(i, i not in matched, matched.get(i)) for i in new}

    def run(mb):
        return {
            tuple(r)
            for r in D.minhash_dedup_incremental(
                df, is_new, k=2, num_perm=8, bands=4, max_bucket=mb
            ).collect()
        }

    for mb in (1, 2, 3, 1000, None):
        assert run(mb) == replay(mb), f"max_bucket={mb}"
    guarded = run(1000)
    by_id = {r[0]: r for r in guarded}
    assert by_id[7][1] is False and by_id[7][2] in (1, 2)  # history match
    assert by_id[14][1] is True  # smallest of the new pair survives
    assert by_id[21] == (21, False, 14)
    assert by_id[28][1] is True
    # a guard of 1 drops every bucket (all pair-productive buckets
    # have >= 2 members) => every new doc is kept
    assert run(1) == {(7, True, None), (14, True, None),
                      (21, True, None), (28, True, None)}


def test_simhash_bucket_explode_matches_reference(spark):
    """simhash_pairs' pair set + hamming values must equal reference
    generation from collected chunk buckets at every guard value,
    with no cap at all too."""
    df = spark.createDataFrame(LSH_DOCS, "doc_id LONG, text STRING")
    sigs = D.simhash_signatures(df, id_col="doc_id")
    width = 64 // 4
    mask = (1 << width) - 1
    u64 = (1 << 64) - 1
    buckets: dict = {}
    for row in sigs.collect():
        # Spark longs arrive signed: emulate shiftrightunsigned /
        # bit_count over the unsigned 64-bit view.
        for c in range(4):
            cv = ((row.simhash & u64) >> (c * width)) & mask
            buckets.setdefault((c, cv), []).append((row.doc_id, row.simhash))
    for mb in (1, 2, 3, 1000, None):
        want = set()
        for ms in _capped(buckets, mb):
            for i in range(len(ms)):
                for j in range(i + 1, len(ms)):
                    h = bin((ms[i][1] ^ ms[j][1]) & u64).count("1")
                    if h <= 3:
                        want.add((ms[i][0], ms[j][0], h))
        got = {
            (row.id_a, row.id_b, row.hamming)
            for row in D.simhash_pairs(
                sigs, id_col="doc_id", max_bucket=mb
            ).collect()
        }
        assert got == want, f"max_bucket={mb}"
    assert want, "fixture must produce simhash pairs uncapped"


def test_lsh_builders_stay_within_round_trip_budget(spark, corpus, monkeypatch):
    """Building (not running) each LSH dedup plan makes at most 1,000
    py4j round trips from the calling thread: its wide expression lists
    are SQL text, not one ``pyspark.sql.functions`` call per term.
    Calls from py4j's finalizer thread (object release) are not
    counted."""
    import threading

    from py4j.clientserver import ClientServerConnection

    builders = {
        "minhash_dedup": lambda: D.minhash_dedup(corpus),
        "minhash_dedup_incremental": lambda: D.minhash_dedup_incremental(
            corpus, F.col("doc_id") > 2
        ),
        "simhash_dedup": lambda: D.simhash_dedup(corpus),
    }
    caller = threading.current_thread()
    calls = [0]
    send = ClientServerConnection.send_command

    def counting(self, command):
        if threading.current_thread() is caller:
            calls[0] += 1
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    counts = {}
    for name, build in builders.items():
        build()
        calls[0] = 0
        build()
        counts[name] = calls[0]
    assert all(0 < n <= 1000 for n in counts.values()), counts


def test_lsh_dedups_quote_column_names(spark):
    """The SQL-text builders quote the id and text columns, so names
    with a space or a backquote give the same survivors as plain ones."""
    df, _ = _seeded_neardup_corpus(spark)
    odd = df.withColumnRenamed("doc_id", "doc id").withColumnRenamed(
        "text", "te`xt"
    )
    def build(d, id_col, text_col):
        kw = {"id_col": id_col, "text_col": text_col}
        is_new = (F.col(f"`{id_col}`") % 3) == 0
        return [
            D.minhash_dedup(d, max_bucket=50, **kw),
            D.minhash_dedup_incremental(d, is_new, max_bucket=50, **kw),
            D.simhash_dedup(d, **kw),
        ]

    n = df.count()
    for plain, quoted in zip(
        build(df, "doc_id", "text"), build(odd, "doc id", "te`xt")
    ):
        want = sorted(tuple(r) for r in plain.collect())
        assert quoted.columns[0] == "doc id"
        assert sorted(tuple(r) for r in quoted.collect()) == want
        assert 0 < len(want) < n


def test_text_dedups_quote_column_names(spark):
    """The token-window operators read the text column through
    ``tokens()``, which takes a ``str`` as one verbatim column name, so
    columns named ``doc id`` and ``te`xt`` give the same output as
    ``doc_id`` and ``text``."""
    df, _ = _seeded_neardup_corpus(spark)
    odd = df.withColumnRenamed("doc_id", "doc id").withColumnRenamed(
        "text", "te`xt"
    )

    def build(d, id_col, text_col):
        kw = {"id_col": id_col, "text_col": text_col}
        return [
            D.exact_dedup(d, **kw),
            D.ngram_jaccard_pairs(d, persist=False, **kw),
            D.containment_pairs(d, persist=False, **kw),
            D.winnow_fingerprints(d, **kw),
            D.duplicated_span_extents(d, **kw),
            D.remove_within_doc_repeats(d, k=2, **kw),
        ]

    for plain, quoted in zip(
        build(df, "doc_id", "text"), build(odd, "doc id", "te`xt")
    ):
        want = sorted(tuple(r) for r in plain.collect())
        assert want
        assert sorted(tuple(r) for r in quoted.collect()) == want


def test_token_windows_enumerate_every_fitting_start(spark):
    """``_token_windows`` yields exactly ``range(len(toks) - k + 1)``
    per row: nothing for rows with fewer than k tokens, whitespace-only
    text or NULL text, where ``sequence(0, size - k)`` would count
    downward."""
    k = 3
    texts = {
        0: "",
        1: "a b",  # k - 1 tokens
        2: "a b c",  # k
        3: "a b c d",  # k + 1
        4: "  \t ",
        5: None,
        6: " x  y z w v ",
    }
    df = spark.createDataFrame(
        list(texts.items()), "doc_id LONG, text STRING"
    )
    got = sorted(
        (r["doc_id"], r["_p"], tuple(r["_tk"]))
        for r in D._token_windows(
            df, ["doc_id"], tokens("text"), k
        ).collect()
    )
    want = sorted(
        (i, p, tuple(t.split()))
        for i, t in texts.items()
        if t is not None
        for p in range(len(t.split()) - k + 1)
    )
    assert got == want
    assert {i for i, _, _ in got} == {2, 3, 6}


def test_covered_spans_exactly_k_positions(spark):
    df = spark.createDataFrame([(0,), (5,)], "_p INT")
    for k in (1, 2, 4):
        got = sorted(
            (r["_p"], r["pos"])
            for r in df.select("_p", D._covered("_p", k).alias("pos"))
            .collect()
        )
        assert got == [(p, p + d) for p in (0, 5) for d in range(k)]
