"""Tests for operators/curation.py and functions.vectors.arrow_vector_stats."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from convert_parquet_to_csv_spark.functions.text import ngrams
from convert_parquet_to_csv_spark.functions.vectors import (
    arrow_vector_stats,
)
from convert_parquet_to_csv_spark.operators import curation as C


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id LONG, text STRING, source STRING, n_chars LONG"
    )


def test_ngrams_short_doc_empty(spark):
    df = spark.createDataFrame([("a b",)], "text STRING")
    assert df.select(ngrams("text", n=3).alias("g")).first()["g"] == []


def test_ngrams_positional_and_lowercased(spark):
    df = spark.createDataFrame([("The cat Sat on",)], "text STRING")
    got = df.select(ngrams("text", n=3).alias("g")).first()["g"]
    assert got == ["the cat sat", "cat sat on"]


def test_flag_contaminated_finds_verbatim_copy(spark):
    bench = _docs(spark, [(100, "alpha beta gamma delta", "b", 22)])
    train = _docs(
        spark,
        [
            # contains "alpha beta gamma" verbatim
            (1, "x alpha beta gamma y", "t", 20),
            # shares words but no 3-gram window
            (2, "alpha x beta y gamma", "t", 20),
            (3, "unrelated text entirely here", "t", 28),
        ],
    )
    got = C.flag_contaminated(train, bench, n=3).collect()
    assert {(r.doc_id, r.n_overlap) for r in got} == {(1, 1)}


def test_flag_contaminated_counts_distinct_grams(spark):
    bench = _docs(spark, [(100, "a b c d e", "b", 9)])
    # contains "a b c", "b c d", "c d e" (3 distinct benchmark grams),
    # one of them twice — count must be distinct grams, not hits.
    train = _docs(spark, [(1, "a b c d e z a b c", "t", 17)])
    got = C.flag_contaminated(train, bench, n=3).collect()
    assert {(r.doc_id, r.n_overlap) for r in got} == {(1, 3)}


def test_distinctive_terms_ranks_rare_terms_first(spark):
    docs = _docs(
        spark,
        [
            (1, "common zebra common", "s", 19),
            (2, "common yak", "s", 10),
            (3, "common common", "s", 13),
        ],
    )
    got = C.distinctive_terms(docs, top_k=1).collect()
    top = {r.doc_id: r.term for r in got}
    # 'zebra'/'yak' appear in one doc each (df=1) → beat 'common' (df=3)
    assert top[1] == "zebra"
    assert top[2] == "yak"
    assert top[3] == "common"  # only term present


def test_mix_sources_temperature_targets(spark):
    rows = []
    # source A: 90 docs of 100 chars; source B: 10 docs of 100 chars
    for i in range(90):
        rows.append((i, "t", "A", 100))
    for i in range(90, 100):
        rows.append((i, "t", "B", 100))
    docs = _docs(spark, rows)
    got = C.mix_sources_temperature(docs, total=40, alpha=0.5)
    by_src = {
        r.source: r.n
        for r in got.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    # weights sqrt(9000)=94.87, sqrt(1000)=31.62 → exact shares are
    # 30.0/10.0, but the operator routes Σw through DECIMAL(24,6)
    # (order-independence), so the ratio lands a hair below the
    # integer boundary and floor gives 29/9 — replicate that here.
    from decimal import ROUND_HALF_UP, Decimal

    wa, wb = math.sqrt(9000), math.sqrt(1000)
    wsum = float(
        sum(
            Decimal(repr(w)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
            for w in (wa, wb)
        )
    )
    assert by_src["A"] == math.floor(40 * wa / wsum) == 29
    assert by_src["B"] == math.floor(40 * wb / wsum) == 9
    # alpha=1 (natural proportions) skews further toward A
    nat = C.mix_sources_temperature(docs, total=40, alpha=1.0)
    nat_by = {
        r.source: r.n
        for r in nat.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert nat_by["A"] > by_src["A"]


def test_mix_deterministic_across_runs(spark):
    rows = [(i, "t", f"s{i % 3}", 50 + i) for i in range(60)]
    docs = _docs(spark, rows)
    a = sorted(
        r.doc_id
        for r in C.mix_sources_temperature(docs, total=30).collect()
    )
    b = sorted(
        r.doc_id
        for r in C.mix_sources_temperature(docs, total=30).collect()
    )
    assert a == b and len(a) > 0


def test_arrow_vector_stats_matches_reference(spark):
    df = spark.createDataFrame(
        [
            (1, [1.0, 2.5, -0.75]),
            (2, []),
            (3, [0.0004999, -0.0005]),
            # batch-FINAL empty vector: reduceat would see an index ==
            # len(values) without the clamp (review finding)
            (4, []),
        ],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    ).coalesce(1)
    got = {
        r.vec_id: (r.dim, r.checksum)
        for r in arrow_vector_stats(df).collect()
    }

    def ref(vals):
        return sum(
            int(math.floor(float(np32(v)) * 1000.0 + 0.5)) for v in vals
        )

    import numpy as np

    def np32(v):
        return np.float32(v)

    assert got[1] == (3, ref([1.0, 2.5, -0.75]))
    assert got[2] == (0, 0)
    assert got[3] == (2, ref([0.0004999, -0.0005]))
    assert got[4] == (0, 0)


def test_arrow_vector_stats_null_vs_empty(spark):
    """A NULL embedding must yield NULL dim/checksum — NOT the empty
    vector's (0, 0). NULL list entries share offsets with empties, so
    without validity propagation the two are indistinguishable (review
    finding); SQL len/list_sum of NULL is NULL and the oracle would
    diverge."""
    df = spark.createDataFrame(
        [
            (1, [1.0, 2.0]),
            (2, None),
            (3, []),
            (4, None),  # batch-final NULL
        ],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    ).coalesce(1)
    got = {
        r.vec_id: (r.dim, r.checksum)
        for r in arrow_vector_stats(df).collect()
    }
    assert got[1] == (2, 3000)
    assert got[2] == (None, None)
    assert got[3] == (0, 0)
    assert got[4] == (None, None)


def test_remove_duplicated_spans_seeded_boilerplate(spark):
    """A 4-gram shared by 3 documents must vanish from all of them,
    position-exactly; unique text and sub-n docs pass through."""
    boiler = "alpha beta gamma delta"
    df = spark.createDataFrame(
        [
            (1, f"one two {boiler} three"),
            (2, f"{boiler} four five six"),
            (3, f"seven {boiler}"),
            (4, "unique words only here indeed"),
            (5, "tiny doc"),
        ],
        "doc_id LONG, text STRING",
    )
    out = {
        r.doc_id: (r.clean_text, r.n_kept, r.n_removed)
        for r in C.remove_duplicated_spans(df, n=4, max_docs=2).collect()
    }
    assert out[1] == ("one two three", 3, 4)
    assert out[2] == ("four five six", 3, 4)
    assert out[3] == ("seven", 1, 4)
    assert out[4] == ("unique words only here indeed", 5, 0)
    assert out[5] == ("tiny doc", 2, 0)  # shorter than n: no shingles


def test_remove_duplicated_spans_overlapping_hot_grams(spark):
    """Overlapping hot grams must union their coverage, not
    double-remove or truncate (the DISTINCT on (doc, pos))."""
    # 5-word run shared by 3 docs → two overlapping hot 4-grams
    run = "a1 a2 a3 a4 a5"
    df = spark.createDataFrame(
        [(i, f"pre{i} {run} post{i}") for i in (1, 2, 3)],
        "doc_id LONG, text STRING",
    )
    out = {
        r.doc_id: (r.clean_text, r.n_removed)
        for r in C.remove_duplicated_spans(df, n=4, max_docs=2).collect()
    }
    for i in (1, 2, 3):
        assert out[i] == (f"pre{i} post{i}", 5)


def test_remove_duplicated_spans_fully_boilerplate_doc(spark):
    """A doc whose every word is covered must still come back — with
    clean_text='' and n_kept=0 (docstring contract; the array-native
    reassembly must not drop it on the coverage join)."""
    boiler = "b1 b2 b3 b4"
    df = spark.createDataFrame(
        [(1, boiler), (2, boiler), (3, boiler), (4, f"solo {boiler} tail")],
        "doc_id LONG, text STRING",
    )
    out = {
        r.doc_id: (r.clean_text, r.n_kept, r.n_removed)
        for r in C.remove_duplicated_spans(df, n=4, max_docs=2).collect()
    }
    assert len(out) == 4
    for i in (1, 2, 3):
        assert out[i] == ("", 0, 4)
    assert out[4] == ("solo tail", 2, 4)


def test_remove_duplicated_spans_null_text_passthrough(spark):
    """NULL-text docs pass through as clean_text=NULL with zero
    counts (ADVICE r5: split(NULL) is NULL — without the guards the
    row came back as '' with NULL counts, matching neither the
    pass-through contract nor the fully-boilerplate one)."""
    boiler = "b1 b2 b3 b4"
    df = spark.createDataFrame(
        [(1, boiler), (2, boiler), (3, boiler), (4, None)],
        "doc_id LONG, text STRING",
    )
    out = {
        r.doc_id: (r.clean_text, r.n_kept, r.n_removed)
        for r in C.remove_duplicated_spans(df, n=4, max_docs=2).collect()
    }
    assert len(out) == 4
    assert out[4] == (None, 0, 0)
    for i in (1, 2, 3):
        assert out[i] == ("", 0, 4)


def test_flag_contaminated_hashed_matches_string_path(spark, sf_small):
    """The 100 TB form (xxhash64 gram keys) must agree with the exact
    string-key path on real corpus data."""
    import os

    docs = spark.read.parquet(os.path.join(sf_small, "documents.parquet"))
    is_bench = F.col("doc_id") % 97 == 0
    train, bench = docs.filter(~is_bench), docs.filter(is_bench)
    a = C.flag_contaminated(train, bench, n=3, hash_grams=False)
    b = C.flag_contaminated(train, bench, n=3, hash_grams=True)
    rows_a = {(r.doc_id, r.n_overlap) for r in a.collect()}
    rows_b = {(r.doc_id, r.n_overlap) for r in b.collect()}
    assert rows_a == rows_b and len(rows_a) > 0


def test_apply_in_arrow_grouped_agg(spark):
    """groupBy().applyInArrow — the grouped zero-copy Arrow path
    (complement of mapInArrow): per-source token totals computed on
    pyarrow Tables, checked against the plain aggregate."""
    import pyarrow as pa

    docs = _docs(
        spark,
        [(i, "t", f"s{i % 3}", 10 + i) for i in range(30)],
    )

    def totals(table: pa.Table) -> pa.Table:
        import pyarrow.compute as pc

        return pa.table(
            {
                "source": [table.column("source")[0].as_py()],
                "total_chars": [
                    pc.sum(table.column("n_chars")).as_py()
                ],
            }
        )

    got = {
        r.source: r.total_chars
        for r in docs.groupBy("source")
        .applyInArrow(totals, schema="source STRING, total_chars LONG")
        .collect()
    }
    want = {
        r.source: r.t
        for r in docs.groupBy("source")
        .agg(F.sum("n_chars").alias("t"))
        .collect()
    }
    assert got == want


def test_epoch_resample_replication_shape(spark, sf_small):
    """Output is ~epochs x corpus; per-doc copies differ by at most 1
    within a source (div/mod dealing); copy_idx is 1..copies dense."""
    from pyspark.sql import functions as F

    from convert_parquet_to_csv_spark.plans import registry
    from convert_parquet_to_csv_spark.plans.common import load_table

    registry.load_all()
    out = registry.QUERIES["epoch_resample_replacement"](spark, sf_small)
    rows = out.collect()
    n_corpus = load_table(spark, sf_small, "documents").count()
    n_sources = (
        load_table(spark, sf_small, "documents")
        .select("source")
        .distinct()
        .count()
    )
    # Sigma floor(target) loses < 1 per source
    assert 3 * n_corpus - n_sources <= len(rows) <= 3 * n_corpus
    per_doc: dict[tuple, list[int]] = {}
    for r in rows:
        per_doc.setdefault((r["doc_id"], r["source"]), []).append(
            r["copy_idx"]
        )
    per_source_counts: dict[str, set[int]] = {}
    for (doc, src), idxs in per_doc.items():
        assert sorted(idxs) == list(range(1, len(idxs) + 1))
        per_source_counts.setdefault(src, set()).add(len(idxs))
    for src, counts in per_source_counts.items():
        assert len(counts) <= 2 and max(counts) - min(counts) <= 1, (
            src,
            counts,
        )


# --------------------------------------------------------------------------
# Gopher repetition signals + quality filter
# --------------------------------------------------------------------------

def _py_gopher_signals(text: str) -> dict[str, float]:
    """Pure-Python reference for gopher_repetition_signals."""
    toks = [t for t in text.split() if t]
    chars = sum(len(t) for t in toks) + max(len(toks) - 1, 0)
    out: dict[str, float] = {}
    for n in range(2, 11):
        counts: dict[str, int] = {}
        for i in range(0, max(len(toks) - n + 1, 0)):
            g = " ".join(toks[i : i + n])
            counts[g] = counts.get(g, 0) + 1
        # paper-literal (Rae et al. Table A1): the char mass of the
        # single MOST FREQUENT gram — argmax by count, longer gram
        # breaking count ties (matches the engine's integer encode)
        top_c, top_l = max(
            ((c, len(g)) for g, c in counts.items()), default=(0, 0)
        )
        top = top_c * top_l
        dup = sum(c * len(g) for g, c in counts.items() if c >= 2)
        key = (
            f"top_{n}gram_char_frac" if n <= 4 else f"dup_{n}gram_char_frac"
        )
        mass = top if n <= 4 else dup
        out[key] = mass / chars if chars > 0 else 0.0
    return out


def test_gopher_repetition_signals_match_python_reference(spark):
    texts = [
        (1, "a b a b a b a b c d e f g h i j"),          # heavy 2-gram loop
        (2, "one two three four five six seven eight nine ten eleven"),
        (3, "solo"),                                       # sub-2-gram doc
        (4, ""),                                           # empty doc
        (5, "x " * 40),                                    # pathological loop
        # ADVICE r7 (medium): leading/trailing TABS/NEWLINES — Spark's
        # trim strips only ' ', so the r7 trim-first char denominator
        # counted a residual edge space here (9 chars for '\tfoo
        # bar\n' instead of the tokenizer-consistent 7), deflating
        # every fraction. Collapse-first makes this row exact.
        (6, "\ta b a b\n"),
        (7, "  a b \t a b a b \n\n"),
    ]
    df = spark.createDataFrame(texts, "doc_id LONG, text STRING")
    got = {
        r["doc_id"]: r.asDict()
        for r in C.gopher_repetition_signals(df).collect()
    }
    assert set(got) == {1, 2, 3, 4, 5, 6, 7}
    for doc_id, text in texts:
        want = _py_gopher_signals(text)
        for k, v in want.items():
            assert got[doc_id][k] == v, (doc_id, k, got[doc_id][k], v)
    # the loop doc trips the dup thresholds the clean doc doesn't
    assert got[5]["dup_10gram_char_frac"] > 0.9
    assert got[2]["dup_5gram_char_frac"] == 0.0


def test_gopher_quality_filter_rules(spark):
    good = "the " + " ".join(f"word{i:03d}" for i in range(60))
    loop = "the " + "spam ham " * 40
    short = "the tiny doc"
    numeric = "the " + " ".join(str(i) * 4 for i in range(60))
    df = spark.createDataFrame(
        [(1, good), (2, loop), (3, short), (4, numeric)],
        "doc_id LONG, text STRING",
    )
    rows = {
        r.doc_id: r.asDict()
        for r in C.gopher_quality_filter(df, min_stopword_hits=1).collect()
    }
    assert rows[1]["passes_all"] is True
    assert rows[2]["top_2gram_ok"] is False and not rows[2]["passes_all"]
    assert rows[3]["word_count_ok"] is False and not rows[3]["passes_all"]
    assert rows[4]["alpha_word_frac_ok"] is False
    # flag set is the documented deck: 4 scalar + 9 repetition + conj
    assert len([c for c in rows[1] if c != "doc_id"]) == 14


# --------------------------------------------------------------------------
# DSIR importance weights
# --------------------------------------------------------------------------

def _py_dsir(raw: dict[int, str], target: list[str], B: int = 64):
    """Pure-Python reference (md5-bucket flavor) for
    dsir_importance_weights."""
    import hashlib
    import math

    def bucket(g: str) -> int:
        return int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % B

    def grams(text: str) -> list[str]:
        t = [x for x in text.lower().split() if x]
        return t + [" ".join(t[i : i + 2]) for i in range(len(t) - 1)]

    q: dict[int, int] = {}
    dc: dict[int, dict[int, int]] = {}
    for did, text in raw.items():
        d = dc.setdefault(did, {})
        for g in grams(text):
            b = bucket(g)
            d[b] = d.get(b, 0) + 1
            q[b] = q.get(b, 0) + 1
    p: dict[int, int] = {}
    for text in target:
        for g in grams(text):
            b = bucket(g)
            p[b] = p.get(b, 0) + 1
    pt, qt = sum(p.values()), sum(q.values())
    l = {
        b: round(
            (
                math.log((p.get(b, 0) + 1) / (pt + B))
                - math.log((qc + 1) / (qt + B))
            )
            * 1e6
        )
        for b, qc in q.items()
    }
    # featureless (empty) docs produce no score row
    return {
        did: sum(c * l[b] for b, c in d.items())
        for did, d in dc.items()
        if d
    }


def test_dsir_importance_weights_match_python_reference(spark):
    raw = {
        1: "spark shuffle join agg window",
        2: "cat dog bird fish lizard cat dog",
        3: "spark window agg cat",
        4: "",
    }
    target = ["spark agg window shuffle", "spark join window"]
    raw_df = spark.createDataFrame(
        list(raw.items()), "doc_id LONG, text STRING"
    )
    tgt_df = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(target)],
        "doc_id LONG, text STRING",
    )
    got = {
        r.doc_id: r.score_micro
        for r in C.dsir_importance_weights(
            raw_df, tgt_df, num_buckets=64, hash_fn="md5"
        ).collect()
    }
    want = _py_dsir(raw, target, B=64)
    assert got == want
    # the target-vocabulary doc outranks the off-domain doc
    assert got[1] > got[3] > got[2]
    # empty doc has no features, hence no score row
    assert 4 not in got


def test_dsir_select_topk_xxhash_flavor(spark):
    raw_df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "epsilon zeta eta theta"),
            (3, "alpha beta gamma epsilon"),
        ],
        "doc_id LONG, text STRING",
    )
    tgt_df = spark.createDataFrame(
        [(9, "alpha beta gamma")], "doc_id LONG, text STRING"
    )
    top = C.dsir_select_topk(raw_df, tgt_df, k=2, num_buckets=128)
    rows = top.collect()
    assert len(rows) == 2
    assert {r.doc_id for r in rows} == {1, 3}
    assert set(top.columns) >= {"doc_id", "text", "score_micro"}


# --------------------------------------------------------------------------
# Bloom-filter decontamination
# --------------------------------------------------------------------------

def test_bloom_decontamination_no_false_negatives_and_superset(spark):
    """At a deliberately tiny bitset (64 bits, forcing false
    positives) the Bloom screen must still flag EVERY truly
    contaminated doc (no false negatives — the Bloom guarantee), and
    its flag set must be a superset of the exact screen's. At a
    roomy bitset it must equal the exact screen."""
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")],
        "doc_id LONG, text STRING",
    )
    train = spark.createDataFrame(
        [
            (1, "x alpha beta gamma y"),        # contaminated (1 gram)
            (2, "alpha x beta y gamma"),        # shares words, no 3-gram
            (3, "unrelated words entirely here"),
            (4, "beta gamma delta then gamma delta epsilon"),  # 2 grams
        ],
        "doc_id LONG, text STRING",
    )
    exact = {
        r.doc_id: r.n_overlap
        for r in C.flag_contaminated(train, bench, n=3).collect()
    }
    assert exact == {1: 1, 4: 2}
    for hash_fn in ("xxhash64", "md5"):
        tiny = {
            r.doc_id: r.n_overlap
            for r in C.flag_contaminated_bloom(
                train, bench, n=3, num_bits=64, num_hashes=2,
                hash_fn=hash_fn,
            ).collect()
        }
        # superset: every exact hit flagged with at least its count
        for k, v in exact.items():
            assert tiny.get(k, 0) >= v, (hash_fn, k, tiny)
        roomy = {
            r.doc_id: r.n_overlap
            for r in C.flag_contaminated_bloom(
                train, bench, n=3, num_bits=1 << 20, num_hashes=4,
                hash_fn=hash_fn,
            ).collect()
        }
        assert roomy == exact, hash_fn


# --------------------------------------------------------------------------
# Token-budget greedy selection
# --------------------------------------------------------------------------

def test_select_to_token_budget_matches_naive_prefix(spark):
    """The two-level (binned) plan must return exactly the naive
    global-prefix answer: docs in (score desc, id asc) order kept
    while the running token total fits — including score ties, a
    boundary doc that exactly fills the budget, and zero-token docs
    (kept for free)."""
    rows = [
        # (id, text, score)
        (1, "a b c", 900),        # 3 tokens
        (2, "d e", 900),          # tie with 1 → id order
        (3, "f g h i", 800),      # 4 tokens
        (4, "", 700),             # 0 tokens
        (5, "j k l m n", 600),    # 5 tokens
        (6, "o", 500),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING, score_micro LONG")

    def naive(budget):
        total, kept = 0, []
        for did, text, score in sorted(rows, key=lambda r: (-r[2], r[0])):
            nt = len(text.split())
            if total + nt <= budget:
                total += nt
                kept.append(did)
            else:
                break  # maximal PREFIX: stop at first overflow
        return sorted(kept)

    for budget in (0, 3, 5, 9, 9 + 5, 100):
        got = sorted(
            r.doc_id
            for r in C.select_to_token_budget(
                df, budget_tokens=budget, num_bins=4
            ).collect()
        )
        assert got == naive(budget), (budget, got, naive(budget))
    # columns carry score and token count for the selection report
    out = C.select_to_token_budget(df, budget_tokens=9, num_bins=4)
    assert set(out.columns) == {"doc_id", "score_micro", "n_tokens"}


def test_select_to_token_budget_per_group_caps_each_group(spark):
    """Each group's kept prefix fits the budget independently; groups
    don't steal from each other; ties break on id."""
    rows = [
        (1, "A", "a b c", 900),
        (2, "A", "d e f g", 800),     # A: 3+4=7 > 5 → only doc 1
        (3, "B", "h i", 900),
        (4, "B", "j k", 900),         # tie → id order; 2+2=4 ≤ 5
        (5, "B", "l m n o p", 100),   # would overflow B
    ]
    df = spark.createDataFrame(
        rows, "doc_id LONG, source STRING, text STRING, score_micro LONG"
    )
    got = {
        r.doc_id: (r.source, r.n_tokens)
        for r in C.select_to_token_budget_per_group(
            df, budget_tokens=5
        ).collect()
    }
    assert set(got) == {1, 3, 4}
    assert got[1] == ("A", 3)
    assert got[3] == ("B", 2) and got[4] == ("B", 2)


# --------------------------------------------------------------------------
# Mixture law (source_mixture_plan)
# --------------------------------------------------------------------------

def test_source_mixture_plan_matches_python_reference(spark):
    """Exact-rational geometric decay vs a pure-Python replay on a
    skewed corpus covering all regimes: sub-epoch (k=0), repetition
    (k>=1), and the epoch cap."""
    import math

    rows = []
    # big: ~40 tokens x 50 docs; small: 5 tokens x 2 docs (repeats);
    # tiny: 1 token x 1 doc (hits the cap under a generous budget)
    for i in range(50):
        rows.append((i, "big", "alpha beta " * 20))
    for i in range(50, 52):
        rows.append((i, "small", "a b c d e"))
    rows.append((52, "tiny", "z"))
    df = spark.createDataFrame(rows, "doc_id LONG, source STRING, text STRING")
    budget, emax = 1500, 20
    got = {
        r["source"]: r.asDict()
        for r in C.source_mixture_plan(
            df, budget_tokens=budget, max_epochs=emax
        ).collect()
    }

    nts = {"big": 50 * 40, "small": 2 * 5, "tiny": 1}
    sqm = {s: math.floor(math.sqrt(nts[s]) * 1_000_000) for s in nts}
    tot = sum(sqm.values())
    for s in nts:
        nt = nts[s]
        target = (budget * sqm[s]) // tot
        k = min(target // nt, emax)
        r_ = target % nt if target // nt <= emax else 0
        p5, p4 = 5**k, 4**k
        eff = (nt * 5 * (p5 - p4) + r_ * p4) / p5
        row = got[s]
        assert row["natural_tokens"] == nt, s
        assert row["target_tokens"] == target, s
        assert row["epochs_full"] == k, s
        assert row["share"] == sqm[s] / tot, s
        assert row["effective_tokens"] == eff, s
        if target > 0:
            assert row["value_retention"] == (
                nt * 5 * (p5 - p4) + r_ * p4
            ) / (p5 * target), s
    # regime coverage: big stays sub-epoch, small repeats, tiny caps
    assert got["big"]["epochs_full"] == 0
    assert got["small"]["epochs_full"] >= 1
    assert got["tiny"]["epochs_full"] == 20
    # diminishing returns: retention strictly decays with repetition
    assert (
        got["big"]["value_retention"]
        > got["small"]["value_retention"]
        > got["tiny"]["value_retention"]
    )


def test_source_ngram_overlap_matrix(spark):
    """Known-overlap corpus: shared grams counted distinct, Jaccard
    exact, non-overlapping pair absent, hot-gram cap drops the
    ubiquitous gram from pair generation but not set sizes."""
    boiler = "one two three"
    rows = [
        (1, f"{boiler} alpha beta gamma", "s1", 0),
        (2, f"{boiler} delta epsilon zeta", "s2", 0),
        (3, f"{boiler} eta theta iota", "s3", 0),
        (4, "totally different words here", "s4", 0),
    ]
    docs = _docs(spark, rows)
    got = {
        (r["source_a"], r["source_b"]): (r["n_shared"], r["jaccard"])
        for r in C.source_ngram_overlap_matrix(docs, n=3).collect()
    }
    # each s1/s2/s3 doc has 4 grams; only "one two three" is shared
    assert got[("s1", "s2")] == (1, 1 / 7)
    assert got[("s1", "s3")] == (1, 1 / 7)
    assert got[("s2", "s3")] == (1, 1 / 7)
    assert not any("s4" in k for k in got)
    # cap=2: the gram lives in 3 sources -> leaves pair generation
    capped = C.source_ngram_overlap_matrix(
        docs, n=3, max_gram_sources=2
    ).collect()
    assert capped == []


def test_ccnet_lm_buckets(spark):
    """CCNet bucketing: per-lang totals conserved, head holds the
    most-familiar docs, a language absent from the sample goes
    'unsampled' (the md5-bit sample is deterministic, so the test
    can pick ids on either side of it)."""
    import hashlib

    def sampled(i):  # mirrors the operator's md5-bit sample
        return ord(hashlib.md5(str(i).encode()).hexdigest()[0]) % 2 == 0

    in_ids = [i for i in range(200) if sampled(i)]
    out_ids = [i for i in range(200) if not sampled(i)]
    # 'en': 9 docs in-sample (3 per tercile by construction: repeated
    # trigrams score high) + 3 out-of-sample; 'zz': 2 docs, both
    # OUTSIDE the sample -> no cutoffs -> 'unsampled'.
    rows = []
    texts = [
        "aaaaaaaaaaaa", "aaaaaaaaaaab", "aaaaaaaaaaba",  # high fam
        "abcabcabcabc", "bcabcabcabca", "cabcabcabcab",  # mid fam
        "qwxrtyzpvmnu", "zpqvmxwrtynu", "mnpqrvwxyztu",  # low fam
    ]
    for i, t in zip(in_ids[:9], texts):
        rows.append((i, "en", t))
    for i in out_ids[:3]:
        rows.append((i, "en", "aaaaaaaaaaaa"))  # assigned, not sampled
    for i in out_ids[3:5]:
        rows.append((i, "zz", "hello world hello"))
    docs = spark.createDataFrame(rows, "doc_id LONG, lang STRING, text STRING")
    got = {
        (r["lang"], r["bucket"]): (r["n_docs"], r["mean_score"])
        for r in C.ccnet_lm_buckets(docs).collect()
    }
    assert got[("zz", "unsampled")][0] == 2
    en_total = sum(n for (l, b), (n, _) in got.items() if l == "en")
    assert en_total == 12
    # the out-of-sample high-familiarity 'en' docs land in head: head
    # count = 3 sampled + 3 assigned
    assert got[("en", "head")][0] == 6
    # mean scores are monotone head > middle > tail
    assert (
        got[("en", "head")][1]
        > got[("en", "middle")][1]
        > got[("en", "tail")][1]
    )


def test_exact_substring_removal_consistent_with_extents(spark):
    """The removal flavor (remove_duplicated_spans(min_total=...))
    and the audit flavor (duplicated_span_extents) must agree: per
    doc, n_removed == Σ span_toks, and clean_text is the token
    sequence minus exactly the extent ranges. Short docs (< k
    tokens) pass through unchanged."""
    from convert_parquet_to_csv_spark.operators.dedup import (
        duplicated_span_extents,
    )

    rows = [
        (0, "a b c q r s t a b c"),
        (1, "p p p x y z q q q"),
        (2, "m m m m x y z"),
        (3, "u v w unique only here"),
        (4, "too short"),
    ]
    corpus = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    removed = {
        r["doc_id"]: (r["clean_text"], r["n_kept"], r["n_removed"])
        for r in C.remove_duplicated_spans(
            corpus, n=3, min_total=2
        ).collect()
    }
    extents = {}
    for r in duplicated_span_extents(corpus, k=3, min_count=2).collect():
        extents.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_end"], r["span_toks"])
        )
    for i, text in rows:
        toks = text.split()
        spans = extents.get(i, [])
        cov = {p for s, e, _ in spans for p in range(s, e)}
        expect_clean = " ".join(
            w for p, w in enumerate(toks) if p not in cov
        )
        clean, kept, nrem = removed[i]
        assert clean == expect_clean, i
        assert nrem == sum(t for _, _, t in spans), i
        assert kept == len(toks) - nrem, i
    assert removed[4] == ("too short", 2, 0)


# --------------------------------------------------------------------------
# r8: license deck / lexical diversity / gopher cap / mixture overflow
# --------------------------------------------------------------------------


def test_license_signals_precedence(spark):
    rows = [
        (1, "plain text with no markers at all"),
        (2, "shared under Creative Commons CC BY-SA terms"),
        (3, "Licensed under the Apache License, Version 2.0"),
        (4, "Copyright 2023 Example Corp"),
        (5, "All Rights Reserved."),
        # restricted beats permissive (the precedence edge)
        (6, "MIT License. All rights reserved by the author"),
        # permissive beats copyright_only
        (7, "copyright 2021, licensed under GPL v3"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    from convert_parquet_to_csv_spark.operators.curation import (
        license_signals,
    )

    got = {
        r["doc_id"]: r.asDict() for r in license_signals(df).collect()
    }
    assert got[1]["license_class"] == "unmarked"
    assert got[2]["license_class"] == "permissive" and got[2]["cc_license"]
    assert got[3]["license_class"] == "permissive" and got[3]["open_license"]
    assert got[4]["license_class"] == "copyright_only"
    assert got[5]["license_class"] == "restricted"
    assert got[6]["license_class"] == "restricted"  # precedence
    assert got[6]["open_license"] and got[6]["rights_reserved"]
    assert got[7]["license_class"] == "permissive"


def test_lexical_diversity_matches_python(spark):
    rows = [
        (1, "a b c a b a"),        # n=6, types=3, top=3, hapax=1 (c)
        (2, "x x x x"),            # n=4, types=1, top=4, hapax=0
        (3, "u v w"),              # all hapax
        (4, ""),                   # empty → zeros, not NULL
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    from convert_parquet_to_csv_spark.operators.curation import (
        lexical_diversity,
    )

    got = {r["doc_id"]: r.asDict() for r in lexical_diversity(df).collect()}
    for i, text in rows:
        toks = text.split()
        from collections import Counter

        c = Counter(toks)
        n, ty = len(toks), len(c)
        want = dict(
            n_tokens=n,
            n_types=ty,
            type_token_ratio=ty / n if n else 0.0,
            top_token_frac=max(c.values()) / n if n else 0.0,
            hapax_frac=(
                sum(1 for v in c.values() if v == 1) / ty if ty else 0.0
            ),
        )
        for k, v in want.items():
            assert got[i][k] == v, (i, k, got[i][k], v)


def test_gopher_cap_equals_pretruncated_corpus(spark):
    """gopher_repetition_signals(max_tokens_per_doc=k) must equal the
    uncapped kernel on a corpus truncated to k tokens in Python —
    numerator AND denominator see the same truncated doc."""
    texts = [
        (1, "a b " * 30),              # truncates
        (2, "one two three"),           # shorter than the cap
        (3, ""),                        # empty
        (4, "\tx y x y x y\n"),        # whitespace edges + cap
    ]
    df = spark.createDataFrame(texts, "doc_id LONG, text STRING")
    cap = 5
    capped = {
        r["doc_id"]: r.asDict()
        for r in C.gopher_repetition_signals(
            df, max_tokens_per_doc=cap
        ).collect()
    }
    pre = spark.createDataFrame(
        [(i, " ".join(t.split()[:cap])) for i, t in texts],
        "doc_id LONG, text STRING",
    )
    want = {
        r["doc_id"]: r.asDict()
        for r in C.gopher_repetition_signals(pre).collect()
    }
    assert capped == want
    # and the cap actually bit: doc 1 differs from its uncapped run
    full = {
        r["doc_id"]: r.asDict()
        for r in C.gopher_repetition_signals(df).collect()
    }
    assert capped[1] != full[1]


def test_mixture_value_retention_overflow_regime(spark):
    """ADVICE r7 + review r8: the CLOSING mixture math must survive
    BOTH int64-overflow regimes at the k = 20 cap —

    - denominator: 5^20 · target > 2^63 once target > ~9.6e4 (the
      original ADVICE finding; src_tiny reaches it), and
    - numerator: nt · 5 · (5^20 − 4^20) > 2^63 once nt > ~1.96e4
      (the review r8 finding — the first fix had only moved the
      denominator to double; src_big reaches it).

    Pin the all-DOUBLE tree against pure-Python float math with the
    SAME association ((nt·5)·(p5−p4)) + (r·p4) — bit-equality, both
    regimes, k capped in each."""
    docs = spark.createDataFrame(
        [
            (0, "w " * 30_000, "src_big"),   # numerator regime
            (1, "w " * 10, "src_tiny"),      # denominator regime
        ],
        "doc_id LONG, text STRING, source STRING",
    )
    budget = 20_000_000
    got = {
        r["source"]: r.asDict()
        for r in C.source_mixture_plan(
            docs, budget_tokens=budget, max_epochs=20
        ).collect()
    }
    import math

    nts = {"src_big": 30_000, "src_tiny": 10}
    sqm = {s: math.floor(math.sqrt(float(n)) * 1_000_000) for s, n in nts.items()}
    tot = sum(sqm.values())
    p5, p4 = 5**20, 4**20
    overflow_seen = {"num": False, "den": False}
    for src, nt in nts.items():
        row = got[src]
        target = (budget * sqm[src]) // tot
        assert row["target_tokens"] == target, src
        assert min(target // nt, 20) == 20, "epoch cap must engage"
        r_ = target % nt if target // nt <= 20 else 0
        if nt * 5 * (p5 - p4) + r_ * p4 > 2**63:
            overflow_seen["num"] = True
        if p5 * target > 2**63:
            overflow_seen["den"] = True
        # pure-Python replay of the double tree, same association
        num = (float(nt) * 5.0) * (float(p5) - float(p4)) + float(
            r_
        ) * float(p4)
        assert row["effective_tokens"] == num / float(p5), src
        assert row["value_retention"] == num / (
            float(p5) * float(target)
        ), src
        assert row["value_retention"] > 0, src
    assert overflow_seen["num"], "src_big must reach numerator overflow"
    assert overflow_seen["den"], "src_tiny must reach denominator overflow"


def test_corpus_datacard_rollup(spark):
    rows = [
        # src A: 3 docs, one global dup pair with src B; langs en/en/de
        (1, "alpha beta gamma", "A", 0),
        (2, "alpha beta gamma", "A", 0),
        (3, "unique one here", "A", 0),
        # src B: 2 docs; one copies doc 1's content (cross-source dup)
        (4, "Alpha  beta   GAMMA", "B", 0),   # same normalized fp
        (5, "totally different", "B", 0),
    ]
    docs = spark.createDataFrame(
        [(i, t, s) for i, t, s, _ in rows],
        "doc_id LONG, text STRING, source STRING",
    ).withColumn(
        "lang",
        F.when(F.col("doc_id") == 3, F.lit("de")).otherwise(F.lit("en")),
    )
    got = {
        r["source"]: r.asDict()
        for r in C.corpus_datacard(docs).collect()
    }
    a, b = got["A"], got["B"]
    assert (a["n_docs"], a["n_tokens"]) == (3, 9)
    assert a["exact_dup_frac"] == 2 / 3          # docs 1 and 2
    assert (a["n_langs"], a["top_lang"]) == (2, "en")
    assert a["top_lang_frac"] == 2 / 3
    assert a["mean_doc_tokens"] == 3.0
    assert (b["n_docs"], b["exact_dup_frac"]) == (2, 1 / 2)  # doc 4
    assert (b["n_langs"], b["top_lang"], b["top_lang_frac"]) == (
        1,
        "en",
        1.0,
    )


def test_corpus_datacard_null_text_counts(spark):
    """ADVICE r8: NULL-text docs (NULL fingerprint) must stay in
    every denominator — the null-unsafe fingerprint join dropped
    them from n_docs/n_tokens while lang_counts kept them, letting
    top_lang_frac exceed 1.0. Two NULL-text rows are one fingerprint
    group (groupBy semantics), so they count as mutual duplicates."""
    docs = spark.createDataFrame(
        [
            (1, "real content here", "S", "en"),
            (2, None, "S", "en"),
            (3, None, "S", "en"),
        ],
        "doc_id LONG, text STRING, source STRING, lang STRING",
    )
    row = C.corpus_datacard(docs).collect()[0]
    assert row["n_docs"] == 3 and row["n_tokens"] == 3
    assert row["exact_dup_frac"] == 2 / 3  # the two NULL-text rows
    assert row["top_lang_frac"] == 1.0  # never > 1 again
    assert row["mean_doc_tokens"] == 1.0


def test_corpus_datacard_top_lang_tiebreak(spark):
    docs = spark.createDataFrame(
        [(1, "x y", "S", "zh"), (2, "x y", "S", "de")],
        "doc_id LONG, text STRING, source STRING, lang STRING",
    )
    row = C.corpus_datacard(docs).collect()[0]
    # 1-1 tie → alphabetically first language
    assert row["top_lang"] == "de" and row["top_lang_frac"] == 0.5


def test_gopher_funnel_monotone_and_marginal(spark):
    """Funnel invariants on a designed corpus: stage 0 = input size,
    survival monotone non-increasing, every stage equals a direct
    recomputation from the flags, and generic quality_funnel handles
    an arbitrary flag table."""
    good = "the " + " ".join(f"w{i:03d}" for i in range(60))
    loop = "the " + "spam ham " * 40
    short = "the tiny doc"
    df = spark.createDataFrame(
        [(1, good), (2, loop), (3, short), (4, good + " extra")],
        "doc_id LONG, text STRING",
    )
    from convert_parquet_to_csv_spark.plans.curation_queries import (
        _FUNNEL_STAGES,
    )

    flags_df = C.gopher_quality_filter(df, min_stopword_hits=1)
    flags = {r["doc_id"]: r.asDict() for r in flags_df.collect()}
    got = {
        r["stage"]: (r["rule"], r["n_surviving"])
        for r in C.quality_funnel(flags_df, _FUNNEL_STAGES).collect()
    }
    assert got[0] == ("all", 4)
    for i, nm in enumerate(_FUNNEL_STAGES, 1):
        want = sum(
            1
            for d in flags.values()
            if all(d[s] for s in _FUNNEL_STAGES[:i])
        )
        assert got[i] == (nm, want), (i, got[i], (nm, want))
        assert got[i][1] <= got[i - 1][1]
    # designed: three docs clear word_count (the 81-token loop doc
    # included), the loop doc dies at the repetition rules, so the
    # funnel ends at exactly the two clean docs
    assert got[1][1] == 3
    assert got[len(_FUNNEL_STAGES)][1] == 2


def test_linear_classifier_matches_python_reference(spark):
    """Exact-integer logits vs a pure-Python replay (same md5
    buckets, same md5-derived weights); every input doc gets a row —
    feature-less docs score the bias alone."""
    import hashlib

    from pyspark.sql import functions as F

    B, BIAS, THR = 64, 7, 100
    rows = [
        (1, "the quick brown fox jumps"),
        (2, "the quick quick"),
        (3, ""),          # no features -> bias row
        (4, None),        # NULL text -> bias row
        (5, "Mixed CASE tokens here"),  # lowercasing pinned
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    weights = spark.range(B).select(
        F.col("id").cast("long").alias("_b"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("qw_"), F.col("id").cast("string"))),
                    1, 15,
                ), 16, 10,
            ).cast("long") % 1000001 - 500000
        ).alias("weight_micro"),
    )
    got = {
        r["doc_id"]: (r["n_grams"], r["logit_micro"], r["passes"])
        for r in C.linear_text_classifier(
            df, weights, num_buckets=B, hash_fn="md5",
            bias_micro=BIAS, threshold_micro=THR,
        ).collect()
    }

    def h15(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def wm(b: int) -> int:
        return h15(f"qw_{b}") % 1000001 - 500000

    for i, text in rows:
        if text is None:
            toks = None
        else:
            toks = text.lower().split()
        if not toks:
            want = (0, BIAS, BIAS >= THR)
        else:
            grams = toks + [
                " ".join(toks[j : j + 2]) for j in range(len(toks) - 1)
            ]
            logit = BIAS + sum(wm(h15(g) % B) for g in grams)
            want = (len(grams), logit, logit >= THR)
        assert got[i] == want, (i, got[i], want)


def test_linear_classifier_group_by_semantics(spark):
    """Output is one row per DISTINCT id with pooled features
    (SQL GROUP BY semantics, r8 review 2nd pass): duplicate ids and
    the NULL-id group each yield ONE row whose logit covers all
    colliding docs — never a pooled score fanned onto every input
    row."""
    from pyspark.sql import functions as F

    B = 64
    weights = spark.range(B).select(
        F.col("id").cast("long").alias("_b"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("qw_"), F.col("id").cast("string"))),
                    1, 15,
                ), 16, 10,
            ).cast("long") % 1000001 - 500000
        ).alias("weight_micro"),
    )

    def score(rows):
        df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
        return {
            r["doc_id"]: (r["n_grams"], r["logit_micro"])
            for r in C.linear_text_classifier(
                df, weights, num_buckets=B, hash_fn="md5"
            ).collect()
        }

    a, b = "alpha beta", "gamma delta epsilon"
    pooled = score([(9, a), (9, b), (None, a), (None, b), (1, a)])
    assert len(pooled) == 3  # distinct ids: 9, NULL, 1
    solo_a = score([(1, a)])[1]
    solo_b = score([(2, b)])[2]
    both = (
        solo_a[0] + solo_b[0],
        solo_a[1] + solo_b[1],  # bias 0, so logits add
    )
    assert pooled[9] == both
    assert pooled[None] == both
    assert pooled[1] == solo_a


def _ref_train_linear(docs, labels, B, epochs, lr_num, lr_den):
    """Pure-Python replica of train_linear_classifier (md5 flavor):
    exact integers, trunc-toward-zero division."""
    import hashlib
    from collections import defaultdict

    def buck(g):
        return int(
            hashlib.md5(g.encode()).hexdigest()[:15], 16
        ) % B

    counts: dict = defaultdict(int)
    for i, text in docs:
        if i is None or text is None:
            continue
        toks = [t for t in text.strip().lower().split() if t]
        grams = toks + [
            f"{a} {b}" for a, b in zip(toks, toks[1:])
        ]
        for g in grams:
            counts[(i, buck(g))] += 1
    lab = {i: y for i, y in labels if i is not None}
    n = len(lab)
    w = [0] * B
    for _ in range(epochs):
        logit: dict = defaultdict(int)
        for (i, b), c in counts.items():
            logit[i] += c * w[b]
        resid = {
            i: lg - lab[i] for i, lg in logit.items() if i in lab
        }
        grad: dict = defaultdict(int)
        for (i, b), c in counts.items():
            if i in resid:
                grad[b] += c * resid[i]
        for b in range(B):
            num = grad[b] * lr_num
            den = n * lr_den
            step = (abs(num) // den) * (1 if num >= 0 else -1)
            w[b] -= step
    return w


def test_train_linear_classifier_matches_python_reference(spark):
    """Bit-exact GD replica: Spark's trained (bucket, weight_micro)
    table must equal the pure-Python integer reference — including
    trunc-toward-zero division on NEGATIVE gradients (epoch 2 has
    residuals of both signs) — and training must actually learn:
    squared loss after two epochs < loss at w=0, and the learned
    weights must separate the planted good/bad vocabulary."""
    B, EPOCHS, LRN, LRD = 16, 2, 1, 4
    docs = [
        (1, "good solid prose with care"),
        (2, "good writing shines through"),
        (3, "bad spam junk click here"),
        (4, "bad noise junk spam"),
        (5, "good careful long form text"),
        (6, "bad bad spam spam"),
        (7, None),       # NULL text: no features, label still counts
        (None, "good"),  # NULL id: excluded from training entirely
    ]
    labels = [
        (1, 1_000_000), (2, 1_000_000), (3, 0), (4, 0),
        (5, 1_000_000), (6, 0), (7, 0), (None, 1_000_000),
    ]
    ddf = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    ldf = spark.createDataFrame(labels, "doc_id LONG, y_micro LONG")
    got = {
        r["_b"]: r["weight_micro"]
        for r in C.train_linear_classifier(
            ddf, ldf, num_buckets=B, epochs=EPOCHS,
            lr_num=LRN, lr_den=LRD, hash_fn="md5",
        ).collect()
    }
    spark.catalog.clearCache()  # counts persist: caller releases
    want = _ref_train_linear(
        docs, [(i, y) for i, y in labels], B, EPOCHS, LRN, LRD
    )
    assert got == {b: want[b] for b in range(B)}

    # it learns: loss decreases and logits separate by label
    def loss(w):
        import hashlib
        from collections import defaultdict

        def buck(g):
            return int(
                hashlib.md5(g.encode()).hexdigest()[:15], 16
            ) % B

        tot = 0
        logits = {}
        for i, text in docs:
            if i is None or text is None:
                continue
            toks = [t for t in text.strip().lower().split() if t]
            grams = toks + [
                f"{a} {b}" for a, b in zip(toks, toks[1:])
            ]
            lg = sum(w[buck(g)] for g in grams)
            logits[i] = lg
        for i, y in labels:
            if i is not None and i in logits:
                tot += (logits[i] - y) ** 2
        return tot, logits

    l0, _ = loss([0] * B)
    l2, logits = loss(want)
    assert l2 < l0
    assert min(logits[i] for i in (1, 2, 5)) > max(
        logits[i] for i in (3, 4, 6)
    )


def test_train_linear_classifier_empty_labels_is_noop(spark):
    """Empty (or all-NULL-id) labels: every gradient is vacuously 0,
    so training must be a clean no-op (weights stay 0) — not an ANSI
    DIVIDE_BY_ZERO from N = 0 deep inside the epoch plan (review r9;
    the greatest(N, 1) clamp changes nothing when labels exist)."""
    docs = spark.createDataFrame(
        [(1, "some text here")], "doc_id LONG, text STRING"
    )
    labels = spark.createDataFrame(
        [(None, 1_000_000)], "doc_id LONG, y_micro LONG"
    )
    got = C.train_linear_classifier(
        docs, labels, num_buckets=8, epochs=2, hash_fn="md5"
    ).collect()
    spark.catalog.clearCache()
    assert len(got) == 8
    assert all(r["weight_micro"] == 0 for r in got)


# --- bigram-LM perplexity scoring (r9) -------------------------------------

def _ref_bigram_lm(docs):
    import math
    from collections import Counter

    per_doc = {}
    for i, text in docs:
        toks = [
            t
            for t in (text or "").strip().lower().split()
            if t != ""
        ]
        per_doc[i] = list(zip(toks, toks[1:]))
    bc = Counter(t for trs in per_doc.values() for t in trs)
    ctx = Counter()
    vocab = set()
    for (a, b), c in bc.items():
        ctx[a] += c
        vocab.add(a)
        vocab.add(b)
    V = len(vocab)
    cost = {
        ab: int(math.floor(1e6 * math.log((ctx[ab[0]] + V) / (c + 1)) + 0.5))
        for ab, c in bc.items()
    }
    out = {}
    for i, trs in per_doc.items():
        n = len(trs)
        tot = sum(cost[t] for t in trs)
        out[i] = (n, tot, tot // n if n else None)
    return out


def test_bigram_lm_matches_python_reference(spark):
    from convert_parquet_to_csv_spark.operators.curation import (
        bigram_lm_scores,
    )

    docs = [
        (1, "the cat sat on the cat mat"),
        (2, "the cat"),          # one transition
        (3, "solo"),             # 1 token -> zero transitions
        (4, ""),                 # token-less
        (5, None),               # NULL text
        (6, "THE CAT sat"),      # lowercase fold shares mass with 1
        (7, "cat the cat the cat"),  # repeated bigrams
    ]
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    got = {
        r["doc_id"]: (
            r["n_transitions"],
            r["total_cost_micro"],
            r["avg_cost_micro"],
        )
        for r in bigram_lm_scores(df).collect()
    }
    want = _ref_bigram_lm(docs)
    # token-less docs: operator coalesces counts to 0
    want = {
        i: (n, t, a) if n else (0, 0, None)
        for i, (n, t, a) in want.items()
    }
    assert got == want


def test_bigram_lm_rare_transition_costs_more(spark):
    """Sanity on the model direction: a one-off transition must cost
    strictly more micro-nats per step than a dominant one."""
    from convert_parquet_to_csv_spark.operators.curation import (
        bigram_lm_scores,
    )

    docs = [(1, "a b " * 20), (2, "a q")]
    df = spark.createDataFrame(
        [(i, t.strip()) for i, t in docs], "doc_id LONG, text STRING"
    )
    got = {
        r["doc_id"]: r["avg_cost_micro"]
        for r in bigram_lm_scores(df).collect()
    }
    assert got[2] > got[1]


# --- source JS divergence (r9) ---------------------------------------------

def _ref_js(docs):
    import math
    from collections import Counter

    from convert_parquet_to_csv_spark.operators.curation import (
        LN2_NANO,
    )

    stc = Counter()
    for src, text in docs:
        for t in (text or "").strip().lower().split():
            if t:
                stc[(src, t)] += 1
    totals = Counter()
    for (s, _), c in stc.items():
        totals[s] += c
    srcs = sorted({s for s, _ in docs})
    out = {}
    for ai in range(len(srcs)):
        for bi in range(ai + 1, len(srcs)):
            sa, sb = srcs[ai], srcs[bi]
            common = [
                t
                for (s, t) in stc
                if s == sa and (sb, t) in stc
            ]
            tsum = 0
            for t in common:
                pa = stc[(sa, t)] / totals[sa]
                pb = stc[(sb, t)] / totals[sb]
                term = (
                    pa * math.log(pa / (pa + pb))
                    + pb * math.log(pb / (pa + pb))
                )
                tsum += int(math.floor(term * 5e8 + 0.5))
            out[(sa, sb)] = (
                len(common),
                LN2_NANO + tsum,
                (LN2_NANO + tsum) / 1e9,
            )
    return out


def test_source_js_divergence_matches_python(spark):
    from convert_parquet_to_csv_spark.operators.curation import (
        source_js_divergence,
    )

    docs = [
        ("s1", "a a a b c"),
        ("s1", "a b"),
        ("s2", "a b b b z"),
        ("s3", "q q q"),       # disjoint from s1 -> js exactly ln 2
        ("s3", None),          # NULL text contributes nothing
    ]
    df = spark.createDataFrame(docs, "source STRING, text STRING")
    got = {
        (r["source_a"], r["source_b"]): (
            r["n_common_tokens"],
            r["js_nano"],
            r["js"],
        )
        for r in source_js_divergence(df).collect()
    }
    want = _ref_js(docs)
    assert got == want
    # identical distributions -> js 0; disjoint -> exactly LN2_NANO
    from convert_parquet_to_csv_spark.operators.curation import (
        LN2_NANO,
    )

    assert got[("s1", "s3")][0] == 0
    assert got[("s1", "s3")][1] == LN2_NANO


def test_source_js_zero_for_identical_distributions(spark):
    from convert_parquet_to_csv_spark.operators.curation import (
        source_js_divergence,
    )

    docs = [("x", "a b c"), ("y", "a b c")]
    df = spark.createDataFrame(docs, "source STRING, text STRING")
    [r] = source_js_divergence(df).collect()
    # every term is p·ln(1/2)·2·0.5 = -p·ln2 summed to -ln2 exactly
    # up to per-term nano rounding
    assert abs(r["js_nano"]) <= 3  # |rounding| ≤ 1 per common token
    assert r["n_common_tokens"] == 3


# --- semantic decontamination (r9) ------------------------------------------

def test_flag_contaminated_semantic_matches_python(spark):
    from convert_parquet_to_csv_spark.operators.curation import (
        flag_contaminated_semantic,
    )

    vecs = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.7, 0.7, 0.0]),
        (4, [0.0, 0.0, 0.0]),   # zero vector -> cos defined as 0.0
        (5, [-1.0, 0.0, 0.0]),
    ]
    bench = [(10, [1.0, 0.0, 0.0]), (11, [0.0, 0.0, 1.0])]
    vdf = spark.createDataFrame(
        vecs, "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    bdf = spark.createDataFrame(
        bench, "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    got = {
        r["vec_id"]: (r["max_benchmark_sim"], r["contaminated"])
        for r in flag_contaminated_semantic(
            vdf, bdf, threshold=0.9
        ).collect()
    }

    import math

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb) if na * nb > 0 else 0.0

    for vid, v in vecs:
        ms = max(cos(v, b) for _, b in bench)
        assert got[vid] == (ms, ms >= 0.9), (vid, got[vid], ms)


def test_flag_contaminated_semantic_empty_benchmark(spark):
    from convert_parquet_to_csv_spark.operators.curation import (
        flag_contaminated_semantic,
    )

    vdf = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    bdf = spark.createDataFrame(
        [], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    [r] = flag_contaminated_semantic(vdf, bdf, threshold=0.5).collect()
    assert r["max_benchmark_sim"] is None
    assert r["contaminated"] is False


# --- calibration bins (r9) ---------------------------------------------------

def test_calibration_bins_matches_python(spark):
    from convert_parquet_to_csv_spark.operators.curation import (
        calibration_bins,
    )

    scores = [
        (1, -300), (2, -100), (3, 0), (4, 250),
        (5, 700), (6, 700), (7, 701), (8, 50),
        (9, 12345),            # no label -> excluded
        (None, 5),             # NULL id -> excluded by design
    ]
    labels = [
        (1, 0), (2, 0), (3, 1_000_000), (4, 1_000_000),
        (5, 1_000_000), (6, 0), (7, 1_000_000), (8, 0),
    ]
    sdf = spark.createDataFrame(
        scores, "doc_id LONG, logit_micro LONG"
    )
    ldf = spark.createDataFrame(labels, "doc_id LONG, y_micro LONG")
    got = {
        r["bin"]: (
            r["n_docs"],
            r["mean_logit_micro"],
            r["n_pos"],
            r["frac_pos"],
        )
        for r in calibration_bins(sdf, ldf, num_bins=4).collect()
    }

    lab = dict(labels)
    j = [(i, lg) for i, lg in scores if i in lab]
    mn = min(lg for _, lg in j)
    mx = max(lg for _, lg in j)
    want: dict[int, list] = {}
    for i, lg in j:
        b = ((lg - mn) * 4) // (mx - mn + 1)
        want.setdefault(b, []).append((lg, lab[i]))
    ref = {}
    for b, vals in want.items():
        n = len(vals)
        tot = sum(lg for lg, _ in vals)
        # Spark div truncates toward zero (matters for negative sums)
        mean = int(tot / n) if tot < 0 else tot // n
        npos = sum(1 for _, y in vals if y == 1_000_000)
        ref[b] = (n, mean, npos, npos / n)
    assert got == ref


def test_calibration_bins_degenerate_single_value(spark):
    from convert_parquet_to_csv_spark.operators.curation import (
        calibration_bins,
    )

    sdf = spark.createDataFrame(
        [(1, 42), (2, 42)], "doc_id LONG, logit_micro LONG"
    )
    ldf = spark.createDataFrame(
        [(1, 1_000_000), (2, 0)], "doc_id LONG, y_micro LONG"
    )
    [r] = calibration_bins(sdf, ldf, num_bins=8).collect()
    assert (r["bin"], r["n_docs"], r["n_pos"]) == (0, 2, 1)
    assert r["mean_logit_micro"] == 42 and r["frac_pos"] == 0.5


# --- generic LM-score buckets (r9) -------------------------------------------

def test_lm_score_buckets_matches_python(spark):
    from convert_parquet_to_csv_spark.operators.curation import (
        lm_score_buckets,
    )
    import hashlib

    rows = [
        # (doc_id, lang, score, n_tokens)
        *[(i, "en", i * 10, 5) for i in range(1, 9)],
        (100, "xx", 7, 3),   # lone doc: sample holds <2 -> unsampled
    ]
    df = spark.createDataFrame(
        rows, "doc_id LONG, lang STRING, score LONG, n_tokens LONG"
    )
    got = {
        (r["lang"], r["bucket"]): (
            r["n_docs"],
            r["n_tokens"],
            r["mean_score"],
        )
        for r in lm_score_buckets(df).collect()
    }

    def sampled(i):
        h = hashlib.md5(str(i).encode()).hexdigest()
        return ord(h[0]) % 2 == 0

    def ntile3(vals):
        n = len(vals)
        base, rem = divmod(n, 3)
        sizes = [base + (1 if t < rem else 0) for t in range(3)]
        out, pos = [], 0
        for t, sz in enumerate(sizes, 1):
            out += [t] * sz
        return out

    ref: dict = {}
    for lang in {"en", "xx"}:
        lrows = [r for r in rows if r[1] == lang]
        samp = sorted(
            (r for r in lrows if sampled(r[0])),
            key=lambda r: (r[2], r[0]),
        )
        tiles = ntile3(samp)
        c1 = max(
            (r[2] for r, t in zip(samp, tiles) if t == 1), default=None
        )
        c2 = max(
            (r[2] for r, t in zip(samp, tiles) if t == 2), default=None
        )
        for r in lrows:
            if c2 is None:
                b = "unsampled"
            elif r[2] > c2:
                b = "tail"
            elif r[2] > c1:
                b = "middle"
            else:
                b = "head"
            k = (lang, b)
            n, ntok, tot = ref.get(k, (0, 0, 0))
            ref[k] = (n + 1, ntok + r[3], tot + r[2])
    want = {
        k: (n, ntok, tot / n) for k, (n, ntok, tot) in ref.items()
    }
    assert got == want
    # direction pin: with lower_is_better, head holds the LOWEST
    # scores, so head's mean < tail's mean
    if ("en", "head") in got and ("en", "tail") in got:
        assert got[("en", "head")][2] < got[("en", "tail")][2]


def test_calibration_bins_monotone_on_weak_labels(spark):
    """The r10 regression canary for the classifier chain: trained
    on Gopher-deck weak labels with the convergent 1/400 learning
    rate, the calibration table at sf0.001 must be non-degenerate
    and correctly SIGNED — every top-half bin's observed positive
    fraction strictly above every bottom-half bin's. (The old 1/20
    rate DIVERGED on correlated labels: logits at -6..-42 label
    units, table anti-monotone; random md5-parity labels had hidden
    it by cancelling gradients.)"""
    from convert_parquet_to_csv_spark.plans import registry

    registry.load_all()
    rows = sorted(
        (r["bin"], r["frac_pos"])
        for r in registry.QUERIES["classifier_calibration_bins"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    )
    spark.catalog.clearCache()
    assert len(rows) == 8
    fracs = [f for _, f in rows]
    assert len(set(fracs)) >= 3, fracs  # non-degenerate
    assert min(fracs[4:]) > max(fracs[:4]), fracs  # signed + ordered


def test_classifier_noise_robust_calibration(spark):
    """Label-noise robustness (r11, VERDICT r10 item 7 — the DCLM
    robustness check): flip a deterministic md5-selected ~5% of the
    Gopher weak labels, retrain, and the calibration table evaluated
    against the CLEAN labels must (a) stay correctly SIGNED — every
    top-half bin's positive fraction above every bottom-half bin's —
    and (b) drift boundedly per bin vs the clean retrain. Driver
    registration is slated r12 day-one: the r11 gate prefix is fully
    committed to the floor-r5 rotation (registry.py policy rule 2).
    """
    from convert_parquet_to_csv_spark.operators.curation import (
        calibration_bins,
        gopher_weak_labels,
        linear_text_classifier,
        train_linear_classifier,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    )
    # min_stopword_hits=1: the gated chain's fixture tuning (the
    # synthetic vocabulary rarely hits 2 stopwords, which would
    # collapse the label split to all-0)
    clean = gopher_weak_labels(docs, min_stopword_hits=1).persist()
    flip = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("noise"), F.col("doc_id").cast("string")
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 20
        == 0
    )
    noisy = clean.select(
        "doc_id",
        F.when(flip, F.lit(1_000_000) - F.col("y_micro"))
        .otherwise(F.col("y_micro"))
        .alias("y_micro"),
    )
    n_flipped = noisy.join(
        clean.withColumnRenamed("y_micro", "_yc"), "doc_id"
    ).filter(F.col("y_micro") != F.col("_yc")).count()
    assert n_flipped > 0  # the coin actually flipped some labels

    def bins_for(labels):
        w = train_linear_classifier(
            docs, labels, num_buckets=512, epochs=2
        )
        scores = linear_text_classifier(
            docs.filter(F.col("doc_id").isNotNull()),
            w,
            num_buckets=512,
        )
        # calibrate BOTH runs against the CLEAN labels — the noise
        # lives only in training
        out = {
            r["bin"]: r["frac_pos"]
            for r in calibration_bins(scores, clean).collect()
        }
        spark.catalog.clearCache()
        return out

    b_clean = bins_for(clean)
    b_noisy = bins_for(noisy)
    fr_noisy = [b_noisy[b] for b in sorted(b_noisy)]
    # (a) signed + non-degenerate under noise
    assert len(fr_noisy) == 8
    h = len(fr_noisy) // 2
    assert min(fr_noisy[h:]) > max(fr_noisy[:h]), fr_noisy
    # (b) bounded per-bin drift on shared bins (bin EDGES shift with
    # the logit range, so compare where both tables have mass)
    drifts = [
        abs(b_noisy[b] - b_clean[b]) for b in b_noisy if b in b_clean
    ]
    assert drifts and max(drifts) <= 0.25, (b_clean, b_noisy)
    clean.unpersist()


def test_langid_segments_majority_and_ties(spark):
    """Line-granular language composition (r10): majority counts per
    doc, ties break to the alphabetically-first language, lines with
    no marker hits count as 'und', NULL-text docs drop."""
    from convert_parquet_to_csv_spark.operators.curation import (
        langid_segments,
    )

    docs = spark.createDataFrame(
        [
            # 2 en lines + 1 marker-less line -> majority en, 2 langs
            (1, "the cat and the dog\nthe end of the story\nxx yy zz"),
            # 1 en line + 1 und line -> tie -> 'en' (alphabetical)
            (2, "the cat and the dog\nxx yy zz"),
            # single marker-less line
            (3, "xx yy zz"),
            (4, None),
        ],
        "doc_id LONG, text STRING",
    )
    got = {
        r["doc_id"]: (
            r["n_lines"],
            r["majority_lang"],
            round(r["majority_frac"], 6),
            r["n_langs"],
        )
        for r in langid_segments(docs).collect()
    }
    assert set(got) == {1, 2, 3}
    assert got[1] == (3, "en", round(2 / 3, 6), 2)
    assert got[2] == (2, "en", 0.5, 2)
    assert got[3] == (1, "und", 1.0, 1)


def test_noise_gate_prevalidation_duckdb_replay(spark):
    """r12 gate design pre-validated (the slated
    `quality_classifier_noise` registration): train on Gopher weak
    labels with a deterministic md5-selected ~5% flipped, and the
    DuckDB chain — _qtrain_cte_chain with the flip as y_expr —
    replays the learned weight table BIT-EXACTLY. The default
    y_expr renders the pre-r11 chain byte-identically (also pinned
    here), so the gated train/holdout oracles are untouched."""
    import duckdb

    from convert_parquet_to_csv_spark.operators.curation import (
        gopher_weak_labels,
        train_linear_classifier,
    )
    from convert_parquet_to_csv_spark.plans.curation_queries import (
        _QTRAIN_CHAIN,
        _qtrain_cte_chain,
    )

    # no-regate invariant: default render == the shipped chain text
    chain_default, wf = _qtrain_cte_chain()
    assert chain_default == _QTRAIN_CHAIN

    flip_sql = (
        "('0x' || substr(md5('noise' || CAST(doc_id AS VARCHAR)), 1, "
        "15))::BIGINT % 20 = 0"
    )
    chain, wf = _qtrain_cte_chain(
        y_expr=(
            f"CASE WHEN {flip_sql} THEN 1000000 - y ELSE y END AS y"
        )
    )
    oracle = (
        "WITH " + chain
        + f" SELECT b AS _b, CAST(w AS BIGINT) AS w FROM {wf}"
    )
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    )
    want = dict(con.sql(oracle).fetchall())

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    clean = gopher_weak_labels(docs, min_stopword_hits=1)
    flip = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("noise"), F.col("doc_id").cast("string")
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 20
        == 0
    )
    noisy = clean.select(
        "doc_id",
        F.when(flip, F.lit(1_000_000) - F.col("y_micro"))
        .otherwise(F.col("y_micro"))
        .alias("y_micro"),
    )
    got = {
        r["_b"]: r["weight_micro"]
        for r in train_linear_classifier(
            docs,
            noisy,
            num_buckets=512,
            epochs=2,
            lr_num=1,
            lr_den=400,
            hash_fn="md5",
        ).collect()
    }
    spark.catalog.clearCache()
    assert got == want
    # and the flip actually changed the learned table vs clean
    clean_w = dict(
        con.sql(
            "WITH " + chain_default
            + f" SELECT b, CAST(w AS BIGINT) FROM {wf}"
        ).fetchall()
    )
    assert want != clean_w


# hashed_ngram_buckets(hash_fn='md5'): the exploded-position codegen
# form vs a reference per-doc ngrams() + flatten + explode form
# (byte-identical gram strings => identical md5 buckets), on edge
# cases the fixtures may not exercise.
EDGE_DOCS = [
    (1, "the cat sat on the mat"),
    (2, ""),  # no tokens
    (3, None),  # NULL text
    (4, "   "),  # whitespace-only -> no tokens
    (5, "single"),  # 1 token: unigram only, no bigram
    (6, "a  b\t\tc\nd"),  # multi-whitespace separators collapse
    (7, "Mixed CASE Tokens mixed case tokens"),  # lowercasing
    (8, "naïve café 東京 emoji🎉 tail"),  # non-ASCII bytes through md5
    (9, "x " * 200),  # long repetitive doc (within-doc duplicates)
    (None, "null id row keeps flowing"),  # NULL id not dropped here
]


def _ref_md5_buckets(df, num_buckets, ngram_ns):
    """Per-doc ngrams() string arrays, flattened and exploded, then
    md5 -> 15-hex-digit parse -> pmod."""
    grams = F.flatten(
        F.array(*[ngrams("text", n=n) for n in ngram_ns])
    )
    return df.select(
        F.col("doc_id"), F.explode(grams).alias("_g")
    ).select(
        "doc_id",
        F.pmod(
            F.conv(
                F.substring(F.md5(F.col("_g")), 1, 15), 16, 10
            ).cast("long"),
            F.lit(num_buckets),
        ).alias("_b"),
    )


def test_md5_bucket_rewrite_matches_ngrams_reference(spark):
    df = spark.createDataFrame(EDGE_DOCS, "doc_id LONG, text STRING")
    for ngram_ns in [(1, 2), (2,), (1, 2, 3)]:
        got = (
            C.hashed_ngram_buckets(
                df, "doc_id", "text", 512, ngram_ns, "md5"
            )
            .groupBy("doc_id", "_b")
            .count()
            .orderBy("doc_id", "_b")
            .collect()
        )
        want = (
            _ref_md5_buckets(df, 512, ngram_ns)
            .groupBy("doc_id", "_b")
            .count()
            .orderBy("doc_id", "_b")
            .collect()
        )
        assert got == want, f"ngram_ns={ngram_ns}"


def test_gopher_gram_masses_hand_computed(spark):
    # "w w w w" (4x 1-char token): top 2-gram "w w" count 3, len 3 ->
    # tm2 = 9; n=5+ grams need >= 5 tokens, so no dup mass.
    df = spark.createDataFrame(
        [(1, "w w w w"), (2, "a b"), (3, "")], "doc_id LONG, text STRING"
    )
    rows = {
        r.doc_id: r
        for r in C._gopher_gram_masses(df, "doc_id", "text").collect()
    }
    assert rows[1]._tm2 == 9  # "w w" occurs 3x, 3 chars
    assert rows[1]._dm5 == 0
    assert rows[2]._tm2 == 3  # "a b" once, 3 chars, count 1
    assert rows[2]._dm5 == 0 and rows[2]._dm6 == 0
    assert 3 not in rows  # token-less docs absent (caller coalesces)


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
    df = spark.createDataFrame(SPAN_DOCS, "doc_id LONG, text STRING")
    spark.catalog.clearCache()
    out = C.remove_duplicated_spans(df, n=3, max_docs=2)
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
