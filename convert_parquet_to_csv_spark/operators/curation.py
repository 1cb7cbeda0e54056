"""Corpus-curation operators: test-set decontamination, distinctive-
term extraction, and temperature-based source mixing.

These are the pipeline steps between dedup (operators/dedup.py) and
chunk/pack (operators/chunking.py) in an LLM data-prep flow:

- **Decontamination** removes training documents that contain any
  word n-gram from a held-out benchmark set, the standard guard
  against evaluation leakage. The canonical window is 13 words —
  long enough that a hit is near-certain verbatim copying.
- **Distinctive terms** surface each document's most
  corpus-distinctive vocabulary (tf·N/df): topic tagging, keyword
  indexes, mixture diagnostics.
- **Temperature mixing** rebalances a multi-source corpus by sampling
  source s proportionally to weight(s)^alpha — alpha=1 keeps natural
  proportions, alpha→0 flattens toward uniform; alpha=0.5 (sqrt) is
  the common compromise for up-weighting small high-quality sources.

All three are pure DataFrame compositions — no Python UDFs — and each
float step is IEEE-exactly-rounded (sqrt, one multiply, one divide) so
results are bit-identical across engines; see the oracle notes in
plans/curation_queries.py.

Scale notes: the benchmark n-gram set is DISTINCT'd then broadcast
(benchmarks are small — MMLU-sized sets are ~10⁶ grams); the exploded
training-gram stream never materializes, it feeds the broadcast
semi-join map-side. tf/df term stats are two partial-agg shuffles over
(doc, term) and (term); mixing is one tiny per-source aggregate
cross-joined back plus one window per source partition.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from convert_parquet_to_csv_spark.functions.text import (
    _col,
    _q,
    doc_fingerprint,
    ngrams,
    normalize_text,
    token_count,
    token_count_bpe,
    tokens,
)
from convert_parquet_to_csv_spark.operators.dedup import (
    _covered,
    _drop_hot_buckets,
    _token_windows,
)


def benchmark_ngrams(
    benchmark: DataFrame, text_col: str = "text", n: int = 13
) -> DataFrame:
    """Distinct word n-grams of the benchmark set → one `gram` column.

    Kept as its own step so callers can persist it when screening many
    training shards against one benchmark.
    """
    return (
        benchmark.select(
            F.explode(ngrams(text_col, n=n)).alias("gram")
        ).distinct()
    )


def _hashed_ngram_table(
    df: DataFrame,
    id_cols: list[str],
    text_col: str,
    n: int,
    keep_slices: bool = False,
) -> DataFrame:
    """(id_cols..., gram: long) — one row per ``n``-token window of the
    lowercased tokens (:func:`~.dedup._token_windows`), the window
    hashed as a raw token-slice array (xxhash64 over array<string>),
    never built as a string: ``ngrams()`` builds every gram in a
    per-doc higher-order-function lambda, which runs outside
    whole-stage codegen.

    ``keep_slices=True`` additionally carries the token slice itself
    as ``_gtoks`` (array<string>) so a caller can verify hash matches
    exactly. Only safe when the consumer stays in the same stage (a
    broadcast join): the slices then never cross an exchange."""
    exploded = _token_windows(
        df, id_cols, tokens(F.lower(_col(text_col))), n
    )
    slice_expr = F.expr(f"slice(_tk, _p + 1, {n})")
    if keep_slices:
        return exploded.select(
            *id_cols,
            slice_expr.alias("_gtoks"),
        ).select(
            *id_cols, "_gtoks", F.xxhash64("_gtoks").alias("gram")
        )
    return exploded.select(
        *id_cols,
        F.xxhash64(slice_expr).alias("gram"),
    )


def flag_contaminated(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    hash_grams: bool = False,
) -> DataFrame:
    """Training docs sharing ≥1 word n-gram with the benchmark set.

    Returns (id_col, n_overlap) — n_overlap counts DISTINCT
    contaminated grams per doc, the number a removal report cites.
    Docs with zero overlap are absent (join is inner): the caller
    drops flagged ids with a left_anti join against this result.

    Plan shape: the benchmark side is distinct'd and **broadcast**, so
    the training side streams map-side — no shuffle of the exploded
    gram table (bounded only by the final per-doc count aggregate,
    which shuffles one row per (doc, matched gram)).

    ``hash_grams=True`` is the 100 TB form: join on xxhash64 gram
    longs instead of the gram strings — an 8-byte broadcast key per
    benchmark gram instead of ~13 words of text (~10× smaller
    broadcast and shuffle rows), and since r4 the keys are hashed
    directly from token slice arrays (:func:`_hashed_ngram_table`),
    so no gram string is ever constructed on either side. A false
    positive needs an xxhash64 collision against the benchmark set
    (~2⁻⁶⁴·|bench| per gram — negligible, and this screen is a
    conservative filter anyway). The gated oracle query keeps
    strings so the DuckDB replay is exact.

    ``hash_grams=False`` (the exact flavor) is hash-ACCELERATED since
    r5: the corpus side still never builds a gram string — it joins on
    the same 8-byte slice hash and then verifies the actual token
    arrays on the (rare) hash matches, so the result is exactly the
    string-join result even under a 64-bit collision. Only the small
    benchmark side materializes gram strings (for the distinct and the
    per-doc distinct-overlap count). The verify filter and the slice
    arrays live in the same whole-stage-codegen stage as the broadcast
    join — nothing wider than (id, hash, matched gram) ever reaches
    the final aggregate exchange. Measured at sf0.1 (cache-cleared
    min-of-2, same protocol as bench.py): 3.90 s → 1.56 s, vs the
    hashed flavor's 0.97 s in the same session — the residual gap is
    the materialized verify slices and the string-keyed benchmark
    side, the price of exactness.
    """
    if hash_grams:
        bench = _hashed_ngram_table(
            benchmark, [], text_col, n
        ).distinct()
        grams = _hashed_ngram_table(docs, [id_col], text_col, n)
        return (
            grams.join(F.broadcast(bench), "gram")
            .groupBy(id_col)
            .agg(F.count_distinct("gram").alias("n_overlap"))
        )
    # Exact flavor. Benchmark grams are strings (distinct'd once, tiny
    # side); tokens contain no whitespace, so split(gram, ' ') is the
    # exact inverse of the array_join that built the gram and the
    # slice-hash on both sides agrees.
    bench = (
        benchmark_ngrams(benchmark, text_col=text_col, n=n)
        .withColumn("_btoks", F.split("gram", " "))
        .withColumn("_h", F.xxhash64("_btoks"))
    )
    grams = _hashed_ngram_table(
        docs, [id_col], text_col, n, keep_slices=True
    ).withColumnRenamed("gram", "_h")
    return (
        grams.join(F.broadcast(bench), "_h")
        .filter(F.col("_gtoks") == F.col("_btoks"))
        .groupBy(id_col)
        .agg(F.count_distinct("gram").alias("n_overlap"))
    )


def distinctive_terms(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 3,
) -> DataFrame:
    """Per-document top-k corpus-distinctive terms.

    Score = tf · N / df (term frequency × inverse document-frequency
    ratio). The classical tf·ln(N/df) is deliberately avoided: ln is
    NOT exactly rounded and differs in the last ulp between libm
    implementations, which would make cross-engine rank order
    unstable. tf·N/df is one integer product and one IEEE division —
    bit-identical everywhere — and induces the same ranking family.

    Ties broken by term ascending so top-k is deterministic.
    Returns (id_col, term, score DOUBLE, rk INT).
    """
    words = docs.select(
        F.col(id_col),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
    )
    tf = words.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    df_ = words.groupBy("term").agg(
        F.count_distinct(id_col).alias("df")
    )
    n_docs = docs.select(
        F.count("*").alias("n_corpus")
    )  # 1-row agg, broadcast below
    scored = (
        tf.join(df_, "term")
        .join(F.broadcast(n_docs))
        .select(
            id_col,
            "term",
            (
                (F.col("tf") * F.col("n_corpus")).cast("double")
                / F.col("df").cast("double")
            ).alias("score"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return scored.withColumn(
        "rk", F.row_number().over(w).cast("int")
    ).filter(F.col("rk") <= top_k)


def mix_sources_temperature(
    docs: DataFrame,
    total: int,
    alpha: float = 0.5,
    id_col: str = "doc_id",
    source_col: str = "source",
    weight_col: str = "n_chars",
) -> DataFrame:
    """Deterministic temperature-weighted multi-source sample.

    Per-source target = floor(total · w_s / Σw) where
    w_s = (Σ weight_col over source s)^alpha. Selection within a
    source is by md5 hash of the id — a seedless deterministic
    permutation, identical across engines and runs (the repo-wide
    no-RNG rule, plans/registry.py).

    alpha routes through ``pow`` only for the default 0.5 → ``sqrt``
    (exactly rounded, engine-identical). Non-half alphas use pow,
    which may drift a ulp across libms — fine for production, not for
    the bit-exact oracle, so the gated query pins alpha=0.5. The Σw
    accumulation goes through DECIMAL(24,6) to stay order-independent.

    Returns the sampled (id_col, source_col) rows.
    """
    if alpha == 0.5:
        weigh = F.sqrt
    else:
        weigh = lambda c: F.pow(c, F.lit(alpha))  # noqa: E731
    vol = docs.groupBy(source_col).agg(
        F.sum(weight_col).alias("w_raw")
    )
    vol = vol.withColumn(
        "wt", weigh(F.col("w_raw").cast("double"))
    )
    tot = vol.select(
        F.sum(F.col("wt").cast("decimal(24,6)"))
        .cast("double")
        .alias("wsum")
    )
    tgt = vol.join(F.broadcast(tot)).select(
        source_col,
        F.floor(
            F.lit(float(total)) * F.col("wt") / F.col("wsum")
        ).alias("target_n"),
    )
    w = Window.partitionBy(source_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    ranked = docs.select(id_col, source_col).withColumn(
        "rk", F.row_number().over(w)
    )
    return (
        ranked.join(F.broadcast(tgt), source_col)
        .filter(F.col("rk") <= F.col("target_n"))
        .select(id_col, source_col)
    )


def remove_duplicated_spans(
    docs: DataFrame,
    n: int = 4,
    max_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_total: int | None = None,
) -> DataFrame:
    """C4/RefinedWeb-style cross-document span removal: delete every
    word covered by an ``n``-gram that occurs in more than
    ``max_docs`` distinct documents, keeping the rest of each document
    intact (word order preserved). Doc-level dedup (operators/dedup)
    drops whole near-duplicate documents; this removes the boilerplate
    SPANS (navigation chrome, license blocks, quoted headers) that
    recur across otherwise-distinct pages — the C4 paper's
    "three-sentence span" rule generalized to word shingles. The
    default path (``min_total=None``) is not a lazy plan builder: it
    runs Spark jobs at call time, because it materializes the per-doc
    coverage table with an eager ``localCheckpoint``. That checkpoint
    lives on the executors and is not recomputed after an executor is
    lost, so an action on the returned plan then fails and the call
    must be repeated. With ``min_total`` set the call runs no job.

    Plan (all built-ins, no UDFs):
    1. one tokenize per doc (split on the single-space corpus
       delimiter), shared by the gram and reassembly branches;
    2. grams: the n-token windows (:func:`~.dedup._token_windows`;
       shorter and NULL docs have none), keyed by
       ``xxhash64(slice(tokens))`` — the slice is hashed as an array,
       so no gram string is built and the heavy-hitter groupBy
       shuffles 8-byte keys (same 2⁻⁶⁴-collision acceptance as the
       minhash pipeline); hot grams = HAVING count_distinct(doc) >
       max_docs, computed as a total-count pre-filter plus an exact
       distinct-count on the survivors;
    3. coverage: occurrences of hot grams explode to the n covered
       positions and collect to ONE covered-position set per doc, so
       only covered positions (boilerplate-sized) shuffle, never the
       word stream. The hot-gram join is left to AQE: the hot set is
       usually tiny (broadcast) but data-dependent, and a wrong forced
       broadcast at 100 TB would OOM the executors;
    4. array-native reassembly: the per-doc coverage table joins back
       to the tokenized docs at doc granularity and an index lambda
       filters the token array in place.

    Cache contract: none. The candidate-gram stream the default path
    shares between its distinct-count and coverage passes is
    persisted, drained by the checkpoint and released inside the
    call; callers need no ``spark.catalog.clearCache()``.

    Measured reasons for this shape (interleaved, cache-cleared
    minima):

    - array-native reassembly beats exploding every word and
      re-collecting ``struct(pos, word)`` per doc: 5.9 vs 13.1 s on
      the sf0.01-derived 500k corpus, 6.1 vs 15.7 s on the sf0.1-derived
      one. Its ``array_contains`` is O(len × cov) per doc, so a corpus
      of long, mostly covered docs would favor the word stream;
    - the total-count pre-filter leaves ONE full-volume exchange
      instead of the two a plain ``count_distinct`` plans: 19.0 →
      15.7 s at 2M docs (at 1M, where nothing spills, the extra pass
      costs 5.7 → 6.7 s; kept for the shuffle bytes);
    - persisting ``arr`` or the full gram stream is slower or no
      faster at 500k docs (9.1 and 6.6 s against 6.7 s);
    - persisting the candidate-pruned stream, which two passes read,
      took the 500k minimum from 6.63 to 5.59 s;
    - repartitioning the gram stream once on the gram key for all
      three consumers is slower at 2M docs (27.7 s, 24.6 s with a
      persist, against 24.0 s);
    - releasing the candidate stream through the ``localCheckpoint``
      costs about one small job (+0.5 s median at 500k) against
      leaving it cached for the caller.

    Returns (id_col, clean_text, n_kept, n_removed); docs shorter
    than ``n`` words pass through unchanged and a fully-boilerplate
    doc comes back with clean_text=''. NULL-text docs come back as
    clean_text=NULL with n_kept=0/n_removed=0.
    """
    if n < 1:
        raise ValueError(f"span width must be >= 1, got {n}")
    arr = docs.select(id_col, F.split(_col(text_col), " ").alias("_a"))
    grams = _token_windows(arr, [id_col], F.col("_a"), n).select(
        id_col,
        F.col("_p").alias("pos"),
        F.xxhash64(F.expr(f"slice(_tk, _p + 1, {n})")).alias("gram"),
    )
    # Total-count pre-filter: the only full-volume exchange. Its
    # survivors (total occurrences > max_docs) are a superset of the
    # hot set; the exact distinct-doc count then runs candidate-sized.
    # ``min_total`` switches the hotness rule to ExactSubstr's (Lee
    # et al. 2022): total occurrences >= min_total, within-doc
    # repeats counting — the total-count exchange then IS the hot
    # set and the distinct-doc stage disappears entirely.
    cand = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("_ct"))
        .filter(
            (F.col("_ct") >= min_total)
            if min_total is not None
            else (F.col("_ct") > max_docs)
        )
        .select("gram")
    )
    # `covered` shares lineage with `arr`, so joining on same-named
    # columns would trip Spark's "trivially true equals predicate"
    # auto-disambiguation warning (harmless but log-spam) — the
    # coverage side's key columns are renamed instead. collect_set is
    # duplicate-insensitive, so the coverage explode needs no distinct().
    def _cov_per_doc(hot_occ: DataFrame) -> DataFrame:
        covered = hot_occ.select(
            F.col(id_col).alias("_cid"), _covered("pos", n).alias("cpos")
        )
        return covered.groupBy("_cid").agg(
            F.collect_set("cpos").alias("_cov")
        )

    if min_total is not None:
        # ExactSubstr rule: the total-count survivors ARE the hot set;
        # single consumer of the gram stream, nothing to persist, the
        # whole plan stays lazy.
        cov_per_doc = _cov_per_doc(grams.join(cand, "gram"))
    else:
        # Both g2 consumers (the exact distinct-count pass and the
        # coverage explode) are drained here by eagerly checkpointing
        # the per-doc coverage table (one row per doc owning a hot
        # span), so g2 is released before the call returns and the
        # returned plan stays lazy for the reassembly tail.
        g2 = grams.join(cand, "gram").persist()
        try:
            hot = (
                g2.groupBy("gram")
                .agg(F.count_distinct(F.col(id_col)).alias("_nd"))
                .filter(F.col("_nd") > max_docs)
                .select("gram")
            )
            cov_per_doc = _cov_per_doc(g2.join(hot, "gram")).localCheckpoint()
        finally:
            g2.unpersist()
    joined = arr.join(
        cov_per_doc, F.col(id_col) == F.col("_cid"), "left"
    )
    # 0-based transform index matches the 0-based gram start
    # positions; NULL `_cov` = doc has no covered span.
    kept = F.expr(
        "filter(transform(_a, (w, i) -> CASE WHEN _cov IS NULL OR NOT "
        "array_contains(_cov, i) THEN w END), x -> x IS NOT NULL)"
    )
    # NULL text ⇒ _a/kept are NULL: concat_ws would render '' and
    # size() NULL — pin NULL clean_text + zero counts instead.
    return joined.select(
        F.col(id_col),
        F.when(F.col("_a").isNull(), F.lit(None).cast("string"))
        .otherwise(F.concat_ws(" ", kept))
        .alias("clean_text"),
        F.coalesce(F.size(kept), F.lit(0)).cast("bigint").alias("n_kept"),
        F.coalesce(F.size("_a") - F.size(kept), F.lit(0))
        .cast("bigint")
        .alias("n_removed"),
    )


def epoch_resample(
    docs: DataFrame,
    epochs: float = 3.0,
    alpha: float = 0.5,
    id_col: str = "doc_id",
    source_col: str = "source",
    weight_col: str = "n_chars",
) -> DataFrame:
    """Deterministic temperature resampling WITH replacement — the
    epoch-mixture builder: where :func:`mix_sources_temperature`
    SELECTS a subset, this REPLICATES docs so each source hits its
    temperature-weighted share of ``epochs ×`` the corpus size
    (up-weighted small sources repeat; e.g. 2.3× means every doc
    appears twice and the md5-first 30% a third time — the standard
    repeat-upsampling in LLM training mixtures).

    Repeat counts are exact integers: per-source target
    T_s = floor(epochs·N·w_s/Σw) splits into ``T_s div n_s`` copies
    for every doc plus one extra for the first ``T_s mod n_s`` docs
    of the md5 permutation, so Σ copies == T_s exactly and the output
    is reproducible row-for-row (no RNG; registry no-RNG rule).

    Scale shape: per-source volumes and targets are tiny aggregates
    broadcast back; replication is ``explode(sequence(1, copies))``
    map-side — the only shuffle is the per-source rank window, and a
    downstream repartition can spread the replicas. Copies stay
    data-independent per doc (div/mod of broadcast scalars), so no
    skew beyond the source mix itself.
    """
    vol = docs.groupBy(source_col).agg(
        F.sum(weight_col).alias("w_raw"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    if alpha == 0.5:
        wt = F.sqrt(F.col("w_raw").cast("double"))
    else:
        wt = F.pow(F.col("w_raw").cast("double"), F.lit(alpha))
    vol = vol.withColumn("wt", wt)
    tot = vol.agg(
        F.sum(F.col("wt").cast("decimal(24,6)"))
        .cast("double")
        .alias("wsum"),
        F.sum("n_docs").alias("n_corpus"),
    )
    tgt = vol.join(F.broadcast(tot)).select(
        source_col,
        "n_docs",
        F.floor(
            F.lit(float(epochs))
            * F.col("n_corpus").cast("double")
            * F.col("wt")
            / F.col("wsum")
        )
        .cast("bigint")
        .alias("target_n"),
    )
    w = Window.partitionBy(source_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    ranked = docs.select(id_col, source_col).withColumn(
        "rk", F.row_number().over(w)
    )
    sel = ranked.join(F.broadcast(tgt), source_col).select(
        id_col,
        source_col,
        (
            F.expr("target_n div n_docs")
            + F.when(
                F.col("rk") <= F.expr("target_n % n_docs"), 1
            ).otherwise(0)
        ).alias("copies"),
    )
    return (
        sel.filter(F.col("copies") > 0)
        .select(
            id_col,
            source_col,
            F.explode(
                F.sequence(F.lit(1).cast("bigint"), F.col("copies"))
            ).alias("_copy"),
        )
        .select(
            id_col,
            source_col,
            F.col("_copy").cast("int").alias("copy_idx"),
        )
    )


# --------------------------------------------------------------------------
# Gopher-style repetition signals + quality-rule deck
# --------------------------------------------------------------------------

GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

# (rule, threshold) — top-n-gram char share for n=2..4, duplicated
# n-gram char share for n=5..10; values straight from the Gopher
# paper's Table A1 (Rae et al. 2021, arXiv:2112.11446).
GOPHER_TOP_NGRAM_MAX = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_DUP_NGRAM_MAX = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}


def _gram_windows(
    df: DataFrame,
    keys: list[str],
    toks: "F.Column",
    ns: list[int] | tuple[int, ...],
) -> DataFrame:
    """``(keys..., _tk, _p, _n)``: one row per window of each length in
    ``ns``: the :func:`~.dedup._token_windows` starts of the shortest
    length, crossed with every length and kept where the window fits."""
    if min(ns) < 1:
        raise ValueError(f"n-gram lengths must be >= 1, got {ns}")
    lens = ", ".join(str(int(n)) for n in ns)
    return (
        _token_windows(df, keys, toks, min(ns))
        .withColumn("_n", F.expr(f"explode(array({lens}))"))
        .where("_p + _n <= size(_tk)")
    )


def _gopher_gram_masses(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Integer repetition char-MASSES for docs owning >=1 counted
    gram (>=2 tokens): (id, _tm2, _tm3, _tm4, _dm5.._dm10). Shorter
    docs are ABSENT — all their masses are exactly 0, so callers
    restore them by left-joining against a cheap chars projection and
    coalescing to 0 (:func:`gopher_repetition_signals`) or coalescing
    their rule flags to True (:func:`gopher_quality_filter`). Split
    out so the quality filter shares this subtree without a second
    tokenize scan. Masses, not fractions: the doc char total stays
    OUT of the gram pipeline, so the gram aggregates carry no
    ``_chars`` column (8 bytes x ~10^9 rows at 2M docs); the divide
    happens after the per-doc collapse, one row per DOC.

    At 2M mangled docs the (doc, n, gram-hash) aggregate (~10^9
    groups) dominates and grows ~1.2x faster than linear per octave.
    It was insensitive to heap (16g vs 64g) and to shuffle partitions
    (32 vs 256): the single-JVM sort-aggregate regime, which a
    multi-executor cluster splits across machines.

    Metrics derived downstream: fraction of character mass inside the
    single most frequent word n-gram (n=2..4,
    ``top_{n}gram_char_frac``) and inside n-grams occurring more than
    once (n=5..10, ``dup_{n}gram_char_frac``).

    Character mass is tokenizer-consistent — gram chars =
    ``length(array_join(slice, ' '))``, doc chars = sum of token
    lengths + (n_tokens − 1) separators — so multi-space/trim noise in
    the raw text cannot skew the ratio. Occurrences are counted
    overlapping (the cheap flavor; the paper's non-overlapping
    dedup-within-doc refinement changes thresholds, not the signal's
    shape). The top-gram is paper-literal per Rae et al. Table A1
    ("fraction of characters in the most frequently-occurring
    n-gram"): argmax by count, with the longer gram breaking count
    ties deterministically — NOT ``max(count·len)`` over all grams,
    which is a strict upper bound that a rarer-but-longer gram can
    inflate. Every ratio is one integer-sum divided once — IEEE
    bit-stable across engines.

    Plan shape: the windows of all 9 gram lengths from one token
    array (:func:`_gram_windows`, both explodes in one stage), then
    ONE ``repartition(id)`` exchange of the raw gram stream — hash
    partitioning on the doc id
    satisfies the ClusteredDistribution of ALL downstream aggregates
    ((id, n, gh) counts, (id, n) masses, the final (id) pivot: subset
    rule), so the whole collapse chain runs exchange-free after it.
    Gram identity is ``xxhash64(token-slice)`` (the measured shingle
    lesson from dedup: never carry gram strings across a shuffle);
    same ~2⁻⁶⁴ collision acceptance as minhash's base hash.
    """
    ns = sorted(GOPHER_TOP_NGRAM_MAX) + sorted(GOPHER_DUP_NGRAM_MAX)
    # _pf[i+1] = chars of tokens[0..i]: ONE per-doc prefix-sum HOF,
    # so per-gram char length is pure arithmetic (two element_at) —
    # building the gram string per (pos, n) row just to length() it
    # measured 3.97 s vs 3.09 s for the count stage at sf0.1.
    base = df.select(
        id_col,
        tokens(text_col).alias("_tk"),
    ).withColumn(
        "_pf",
        F.expr(
            "aggregate(_tk, array(0), (acc, t) -> "
            "array_append(acc, element_at(acc, -1) + length(t)))"
        ),
    )
    grams = (
        _gram_windows(base, [id_col, "_pf"], F.col("_tk"), ns)
        .select(
            id_col,
            "_n",
            F.xxhash64(F.expr("slice(_tk, _p + 1, _n)")).alias("_gh"),
            (
                F.element_at("_pf", F.col("_p") + F.col("_n") + 1)
                - F.element_at("_pf", F.col("_p") + 1)
                + F.col("_n")
                - 1
            ).alias("_gl"),
        )
    )
    # One raw-stream exchange instead of a partial-agg chain of three:
    # crawl-text gram keys are mostly unique within a doc, so map-side
    # combine saves little (1.8x faster on sf0.1 text); on
    # repetition-heavy text the three-exchange chain was 1.22x faster.
    gc = grams.repartition(id_col).groupBy(id_col, "_n", "_gh").agg(
        F.count(F.lit(1)).alias("_c"), F.max("_gl").alias("_gl")
    )
    # top_{n}gram mass = chars of the single MOST FREQUENT gram (Rae
    # et al. Table A1: "fraction of characters in the most
    # frequently-occurring n-gram"), argmax by count with the longer
    # gram breaking count ties deterministically. Encoded as ONE
    # integer max over (count << 32 | gram_len) then decoded — pure
    # portable integer arithmetic, no argmax/struct-ordering builtin
    # the DuckDB oracle might disagree on. Safe while count and
    # gram_len each < 2^31 (a doc would need 2^31 tokens to overflow;
    # Spark's array type caps elements below that anyway). Not
    # max(count·len) over ALL grams — an upper bound that inflates the
    # metric when a rarer-but-longer gram beats the most frequent one.
    _key = F.col("_c") * F.lit(4294967296) + F.col("_gl")
    per_n = gc.groupBy(id_col, "_n").agg(
        F.max(_key).alias("_top_key"),
        F.sum(
            F.when(F.col("_c") >= 2, F.col("_c") * F.col("_gl")).otherwise(0)
        ).alias("_dup_mass"),
    ).withColumn(
        "_top_mass",
        F.expr(
            "(_top_key div 4294967296) * (_top_key % 4294967296)"
        ),
    ).drop("_top_key")
    aggs = [
        F.coalesce(
            F.max(F.when(F.col("_n") == n, F.col("_top_mass"))), F.lit(0)
        ).alias(f"_tm{n}")
        for n in sorted(GOPHER_TOP_NGRAM_MAX)
    ] + [
        F.coalesce(
            F.max(F.when(F.col("_n") == n, F.col("_dup_mass"))), F.lit(0)
        ).alias(f"_dm{n}")
        for n in sorted(GOPHER_DUP_NGRAM_MAX)
    ]
    return per_n.groupBy(id_col).agg(*aggs)


def _gopher_chars(text_col: str) -> "F.Column":
    """Tokenizer-consistent doc char total WITHOUT tokenizing:
    ``length(trim(regexp_replace(text, '\\s+', ' ')))`` == sum of
    token lengths + (n_tokens - 1) single-space separators — one
    regexp per doc, no HOF, no array. This is what lets the callers
    re-scan for the denominator at projection cost instead of either
    re-running the tokenize+prefix-sum pass (the r6 double-scan
    ADVICE flagged) or widening the gram shuffles (the r7 first cut
    that went superlinear at 2M docs).

    Order matters (ADVICE r7 medium): COLLAPSE first, TRIM second.
    Spark's ``trim`` strips only ' ' (not tabs/newlines), so the
    r7 trim-first form left a residual edge space on text with
    leading/trailing non-space whitespace ('\\tfoo bar\\n' → 9, not
    the tokenizer-consistent 7) — diverging from the DuckDB oracle's
    token-length sum and from gopher_quality_filter's _tc+(nt-1)
    chars. After collapsing, every edge run is a single plain space,
    which trim removes; the identity then holds for ALL inputs."""
    return F.coalesce(
        F.length(
            F.trim(F.regexp_replace(F.col(text_col), r"\s+", " "))
        ),
        F.lit(0),
    ).cast("long")


def _gopher_frac(mass: "F.Column", chars: "F.Column") -> "F.Column":
    """mass/chars with the 0-chars and absent-doc cases pinned to
    exactly 0.0 (one closing divide, IEEE bit-stable)."""
    return F.coalesce(
        F.when(
            chars > 0,
            F.coalesce(mass, F.lit(0)).cast("double")
            / chars.cast("double"),
        ),
        F.lit(0.0),
    )


def gopher_repetition_signals(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_tokens_per_doc: int | None = None,
) -> DataFrame:
    """Per-document Gopher repetition metrics for EVERY input doc:
    see :func:`_gopher_gram_masses` for the metric definitions and
    plan shape. The char denominator comes from a second,
    projection-only scan (:func:`_gopher_chars` — one regexp, no
    tokenize/HOF), left-joined against the per-doc mass
    table so docs with < 2 tokens land at exactly 0.0.

    ``max_tokens_per_doc``: score each doc on its
    FIRST ``cap`` tokens only. The paper itself drops >100k-token
    docs before these signals run (word_count_ok's upper bound), so a
    truncating cap is semantically aligned — and operationally it
    bounds the per-doc contribution to the (doc, n, hash) aggregate,
    the single-JVM sort-aggregate tail at 2M docs. Implemented as one
    pre-projection rebuilding the text
    from the first ``cap`` tokens (``array_join(slice(tokens))``), so
    numerator AND denominator see the same truncated doc and every
    downstream identity (chars == Σ token lens + n−1) still holds."""
    if max_tokens_per_doc is not None:
        if max_tokens_per_doc < 1:
            raise ValueError("max_tokens_per_doc must be >= 1")
        df = df.select(
            F.col(id_col),
            F.array_join(
                F.slice(tokens(text_col), 1, max_tokens_per_doc), " "
            ).alias(text_col),
        )
    masses = _gopher_gram_masses(df, id_col, text_col)
    chars = df.select(id_col, _gopher_chars(text_col).alias("_chars"))
    joined = chars.join(masses, id_col, "left")
    return joined.select(
        id_col,
        *[
            _gopher_frac(F.col(f"_tm{n}"), F.col("_chars")).alias(
                f"top_{n}gram_char_frac"
            )
            for n in sorted(GOPHER_TOP_NGRAM_MAX)
        ],
        *[
            _gopher_frac(F.col(f"_dm{n}"), F.col("_chars")).alias(
                f"dup_{n}gram_char_frac"
            )
            for n in sorted(GOPHER_DUP_NGRAM_MAX)
        ],
    )


def gopher_quality_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_alpha_word_frac: float = 0.80,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """The Gopher quality-rule deck as per-document boolean flags plus
    the conjunction (``passes_all``): word-count bounds, mean word
    length bounds, alphabetic-word fraction, distinct-stopword
    presence, and the nine repetition thresholds from
    :func:`gopher_repetition_signals` (GOPHER_TOP_NGRAM_MAX /
    GOPHER_DUP_NGRAM_MAX).

    Flags, not a silent drop: curation pipelines tune thresholds per
    corpus, and the flag table is what you aggregate to see WHICH rule
    is doing the killing before committing to a filter. The paper's
    line-shape rules (bullet/ellipsis line fractions, symbol-to-word
    ratio) are omitted — they need raw line structure, which the
    single-line test fixture cannot exercise; add them over
    ``split(text, '\\n')`` when pointed at real multi-line corpora.

    Plan shape: TWO text scans total — one pure
    map-side projection for the scalar features (which also yields
    the char denominator: chars = _tc + (_nt - 1), no third scan),
    one feeding the shared repetition-gram subtree
    (:func:`_gopher_gram_masses`: one doc-keyed repartition with the
    whole aggregate chain exchange-free behind it, kept NARROW — no
    per-gram char column). Short docs (< 2 tokens) are
    absent from the gram stream; their repetition masses are exactly
    0, below every positive threshold, so their rule flags come out
    True from the mass/chars comparison after the doc_id-keyed left
    join (AQE-broadcastable when the mass table is small). Folding
    the scalar features into the gram shuffle keys instead would
    widen the heaviest corpus shuffle (see _gopher_gram_masses).
    """
    # Alias the token array ONCE before fanning out into the four
    # scalar features: instantiating tokens() per feature re-runs
    # the regex split per reference — Spark's subexpression
    # elimination does not reach across these higher-order-function
    # arguments (r8 review follow-up; measured 2.41 → 1.45 s on the
    # exact four-feature shape at 500k docs, min-of-2).
    toks = F.col("_tkq")
    n_tokens = F.size(toks)
    tok_chars = F.coalesce(
        F.aggregate(
            F.transform(toks, F.length), F.lit(0), lambda a, x: a + x
        ),
        F.lit(0),
    )
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(F.transform(toks, F.lower)),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    )
    scalars = df.select(
        id_col, tokens(text_col).alias("_tkq")
    ).select(
        id_col,
        n_tokens.alias("_nt"),
        tok_chars.alias("_tc"),
        alpha_words.alias("_aw"),
        stop_hits.alias("_sh"),
    ).select(
        id_col,
        ((F.col("_nt") >= min_words) & (F.col("_nt") <= max_words)).alias(
            "word_count_ok"
        ),
        F.when(F.col("_nt") > 0,
            (F.col("_tc").cast("double") / F.col("_nt").cast("double")
             >= min_mean_word_len)
            & (F.col("_tc").cast("double") / F.col("_nt").cast("double")
               <= max_mean_word_len),
        ).otherwise(False).alias("mean_word_len_ok"),
        F.when(F.col("_nt") > 0,
            F.col("_aw").cast("double") / F.col("_nt").cast("double")
            >= min_alpha_word_frac,
        ).otherwise(False).alias("alpha_word_frac_ok"),
        (F.col("_sh") >= min_stopword_hits).alias("stopword_ok"),
        # chars = token chars + (n_tokens - 1) separators, free here
        (
            F.col("_tc") + F.greatest(F.col("_nt") - 1, F.lit(0))
        ).cast("long").alias("_chars"),
    )
    rep = _gopher_gram_masses(df, id_col, text_col)
    joined = scalars.join(rep, id_col, "left")
    # mass coalesces to 0 for docs absent from the gram stream, so
    # every repetition flag evaluates True through the same
    # _gopher_frac the signals query uses
    rep_flag_exprs = [
        (
            _gopher_frac(F.col(f"_tm{n}"), F.col("_chars")) <= t
        ).alias(f"top_{n}gram_ok")
        for n, t in sorted(GOPHER_TOP_NGRAM_MAX.items())
    ] + [
        (
            _gopher_frac(F.col(f"_dm{n}"), F.col("_chars")) <= t
        ).alias(f"dup_{n}gram_ok")
        for n, t in sorted(GOPHER_DUP_NGRAM_MAX.items())
    ]
    out = joined.select(
        id_col,
        *[
            c
            for c in scalars.columns
            if c not in (id_col, "_chars")
        ],
        *rep_flag_exprs,
    )
    flag_cols = [c for c in out.columns if c != id_col]
    passes = functools.reduce(
        operator.and_, (F.col(c) for c in flag_cols)
    )
    return out.withColumn("passes_all", passes)


# --------------------------------------------------------------------------
# Hashed bag-of-ngrams featurization (shared by DSIR and the linear
# classifier) + apply-an-exported-linear-model scoring
# --------------------------------------------------------------------------

def hashed_ngram_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 4096,
    ngram_ns: tuple[int, ...] = (1, 2),
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """One ``(id, _b)`` row per word n-gram occurrence, ``_b`` a hash
    bucket in ``[0, num_buckets)`` — the hashed bag-of-ngrams
    featurization DSIR and :func:`linear_text_classifier` share.
    The grams are the ``ngram_ns``-token windows of the lowercased
    tokens (:func:`_gram_windows`), hashed per exploded row inside a
    codegen projection: building them as strings in ``ngrams()``'s
    per-doc lambdas measured 7.2 s against 0.6 s at sf0.1.

    ``hash_fn='xxhash64'`` is the production flavor: the raw token
    slice is hashed. ``hash_fn='md5'`` is the DuckDB-replayable
    flavor: the gram string (the slice joined by single spaces),
    hex-parsed md5 — the house cross-engine RNG."""
    gram = "slice(_tk, _p + 1, _n)"
    if hash_fn == "xxhash64":
        h = f"xxhash64({gram})"
    elif hash_fn == "md5":
        h = (
            f"CAST(conv(substring(md5(array_join({gram}, ' ')), 1, 15),"
            " 16, 10) AS BIGINT)"
        )
    else:
        raise ValueError(f"unknown hash_fn: {hash_fn!r}")
    toks = tokens(F.lower(_col(text_col)))
    return _gram_windows(df, [id_col], toks, ngram_ns).selectExpr(
        _q(id_col), f"pmod({h}, {int(num_buckets)}) AS _b"
    )


def linear_text_classifier(
    docs: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 4096,
    ngram_ns: tuple[int, ...] = (1, 2),
    hash_fn: str = "xxhash64",
    bias_micro: int = 0,
    threshold_micro: int = 0,
) -> DataFrame:
    """Apply an EXPORTED linear text classifier at corpus scale — the
    model-based quality-filter stage of the modern curation stack
    (fastText-style scorers in CCNet/DCLM, the FineWeb-Edu educational
    scorer): documents featurize as hashed bag-of-ngram counts and
    score ``logit = bias + Σ_b c_b · w_b`` against a ``(_b,
    weight_micro)`` table trained OFFLINE (training needs labels and
    an optimizer; applying the exported weights is the corpus-scale
    job, and this operator is that seam — the gated query feeds it a
    deterministic md5-derived stub table, the multimodal-codec
    precedent for environment-bounded models).

    Output: ``(id, n_grams, logit_micro, passes)`` — GROUP BY
    semantics, one row per DISTINCT id (ids are expected unique;
    NULL ids form one group and duplicate ids pool their features,
    exactly like the oracle's GROUP BY — the r8 review's 2nd pass
    caught the earlier per-input-row spine fanning a POOLED
    aggregate onto each colliding row). Weights are integer
    MICRO-units so the dot product is an exact integer (order-free,
    engine-exact; the DSIR device); a doc with no features
    (NULL/empty text) scores the bias alone.

    Plan shape: one explode → (doc, bucket) partial-agg shuffle (the
    only full-volume exchange, shared with DSIR via
    :func:`hashed_ngram_buckets`); the weight table is ≤ num_buckets
    rows and BROADCAST into the scoring join; one doc-keyed groupBy;
    an eqNullSafe DISTINCT-id spine left join restores feature-less
    ids. Corpus rows move exactly once regardless of model size
    knobs. Measured (xxhash64 flavor, mangled sf0.1 replicas,
    min-of-2, local[32]): 6.4 / 12.2 / 22.0 s at 500k / 1M / 2M docs
    — 0.86×-linear (sub-linear)."""
    b = hashed_ngram_buckets(
        docs, id_col, text_col, num_buckets, ngram_ns, hash_fn
    )
    counts = b.groupBy(id_col, "_b").agg(
        F.count(F.lit(1)).alias("_c")
    )
    w = weights.select(
        F.col("_b").alias("_wb"),
        F.col("weight_micro").cast("long").alias("_wm"),
    )
    scored = (
        counts.join(
            F.broadcast(w), F.col("_b") == F.col("_wb"), "left"
        )
        .groupBy(id_col)
        .agg(
            F.sum("_c").cast("bigint").alias("n_grams"),
            (
                F.sum(
                    F.col("_c") * F.coalesce(F.col("_wm"), F.lit(0))
                )
                + F.lit(int(bias_micro))
            ).cast("bigint").alias("logit_micro"),
        )
        .withColumnRenamed(id_col, "_sid")
    )
    spine = docs.select(id_col).distinct()
    return spine.join(
        scored, F.col(id_col).eqNullSafe(F.col("_sid")), "left"
    ).select(
        F.col(id_col),
        F.coalesce(F.col("n_grams"), F.lit(0)).cast("bigint").alias(
            "n_grams"
        ),
        F.coalesce(F.col("logit_micro"), F.lit(int(bias_micro)))
        .cast("bigint")
        .alias("logit_micro"),
        (
            F.coalesce(F.col("logit_micro"), F.lit(int(bias_micro)))
            >= F.lit(int(threshold_micro))
        ).alias("passes"),
    )


def gopher_weak_labels(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    micro: int = 1_000_000,
    **deck_kwargs,
) -> DataFrame:
    """In-engine weak-supervision labels for the quality classifier
    (VERDICT r9 item 3 — retires the md5-parity pseudo-labels, the
    loop's last stub): ``y_micro = micro`` iff the document passes
    the FULL Gopher rule deck (:func:`gopher_quality_filter`'s
    ``passes_all`` conjunction), else 0. This is the standard
    rule-deck→classifier distillation shape (the DCLM/FineWeb-Edu
    recipe trains fastText on a labeler the pipeline already owns);
    an independent IN-ENGINE labeler, so train → apply → calibrate
    runs end-to-end with no offline artifact anywhere. NULL-id rows
    are excluded — the training contract (featurization pools by id;
    a NULL id has no stable gradient identity).

    Splits the synthetic fixture ~50/50 at every SF (251/249 at
    sf0.01), so the learned weights are non-degenerate and the
    calibration readout carries signal. Plan shape = the deck's own:
    two text scans (scalar projection + the shared repetition-gram
    subtree), one doc-keyed flag join, then a pure projection —
    nothing new on top of :func:`gopher_quality_filter`.
    """
    flags = gopher_quality_filter(df, id_col, text_col, **deck_kwargs)
    return flags.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col),
        F.when(F.col("passes_all"), F.lit(int(micro)))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("y_micro"),
    )


def md5_parity_micro(col: Column | str, micro: int = 1_000_000) -> Column:
    """Deterministic md5-parity pseudo-label in MICRO units (0 or
    ``micro``) — the house cross-engine RNG applied to a label seam.
    Extracted (review r9, the hashed_ngram_buckets precedent) so
    every consumer shares ONE parity rule that cannot drift; the
    DuckDB twin is
    ``(('0x' || substr(md5(CAST(x AS VARCHAR)), 1, 15))::BIGINT % 2)
    * micro``. Since r10 the GATED classifier chain trains on
    :func:`gopher_weak_labels` instead; this stays as the
    scale-curve kernel's label source (the curve isolates GD cost —
    the labeler's cost is measured by the gopher bench keys) and as
    the house deterministic-label device for tests."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10)
        .cast("long")
        % 2
    ) * micro


def train_linear_classifier(
    docs: DataFrame,
    labels: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 512,
    epochs: int = 2,
    lr_num: int = 1,
    lr_den: int = 400,
    ngram_ns: tuple[int, ...] = (1, 2),
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Train the linear quality classifier IN-ENGINE: ``epochs``
    rounds of deterministic fixed-point BATCH gradient descent on
    squared loss over :func:`hashed_ngram_buckets` features, exported
    as the same ``(_b, weight_micro)`` table :func:`linear_text_classifier`
    consumes — so a corpus can train its own fastText-style scorer
    (DCLM/FineWeb-Edu recipe shape) end-to-end inside the engine.

    ``labels`` is ``(id, y_micro)`` with targets in MICRO units
    (0 / 1_000_000 for a binary quality label). Update rule, all
    exact integers (bit-replayable in any engine with trunc-toward-
    zero integer division — Spark ``div`` and DuckDB ``//`` agree,
    pinned by test)::

        logit_d = Σ_b c_db · w_b                  (BIGINT micro)
        resid_d = logit_d − y_d
        grad_b  = Σ_d c_db · resid_d
        w_b    ←  w_b − (grad_b · lr_num) div (N · lr_den)

    with N = |labels|. Squared loss (not logistic) keeps the epoch
    exactly integer — no sigmoid quantization grid — and its GD is
    the classic linear-probe recipe; the truncating div is the ONE
    rounding per bucket per epoch. Convergence needs
    ``lr_num/lr_den < 2/λ_max(XᵀX/N)`` ≈ 2/mean‖x‖² — with ~100
    ngram counts per doc that is lr ≲ 0.02, hence the 1/400 default
    (1/20 diverges once labels correlate with doc length; the
    calibration table is the regression canary). NULL ids are
    excluded from training (featurization pools by id; a NULL id has no stable
    gradient identity) — documented divergence from the apply path,
    which scores NULL-id rows as one pooled group.

    Plan shape per epoch: counts (the ONE corpus-volume table, built
    once and persisted — the caller releases it via clearCache())
    joins a ≤ ``num_buckets``-row
    BROADCAST weight table, one id-keyed groupBy for logits, one
    id-keyed join + bucket groupBy for the gradient — two doc-keyed
    exchanges and one bucket-sized aggregate per epoch; corpus rows
    never move on anything but the id key. The weight table is
    ``localCheckpoint``ed between epochs (bounded ``num_buckets``
    rows — the pq_train device), so plan depth stays O(1) in
    ``epochs``. Integer bound: |grad_b| ≤ Σ_d c_db·|resid_d| must
    stay under 2⁶³ — at micro residuals ≤ ~10⁹ and corpus-total
    bucket counts ≤ ~10⁹ the product is ~10¹⁸, inside BIGINT with
    one order of margin; push ``lr_den`` up before raising scale."""
    feat_docs = docs.filter(F.col(id_col).isNotNull())
    b = hashed_ngram_buckets(
        feat_docs, id_col, text_col, num_buckets, ngram_ns, hash_fn
    )
    # Repartition the bucket stream on the id BEFORE the count groupBy
    # and persist the result: HashPartitioning(id) satisfies the
    # count's ClusteredDistribution((id, _b)) (subset rule) and every
    # epoch's logits groupBy(id) and gradient join(id), so the
    # corpus-scale table crosses one exchange in all. Gram->bucket
    # counts are near 1 within a crawl doc, so the forfeited map-side
    # combine is cheap; on text repeating each bucket ~40x per doc,
    # counting before the repartition was 1.9x faster.
    counts = b.repartition(id_col).groupBy(id_col, "_b").agg(
        F.count(F.lit(1)).alias("_c")
    ).persist()
    lab = labels.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col), F.col("y_micro").cast("long").alias("_y")
    )
    n = lab.agg(F.count(F.lit(1)).alias("_n"))
    spark = docs.sparkSession
    w = spark.range(num_buckets).select(
        F.col("id").cast("long").alias("_b"),
        F.lit(0).cast("long").alias("_w"),
    )
    for _ in range(epochs):
        # eager, bounded (num_buckets rows): runs this epoch's two
        # corpus joins exactly once and pins the result, keeping the
        # next epoch's lineage O(1) — the pq_train localCheckpoint
        # device.
        w = w.localCheckpoint()
        logits = (
            counts.join(F.broadcast(w), "_b")
            .groupBy(id_col)
            .agg(F.sum(F.col("_c") * F.col("_w")).alias("_lg"))
        )
        resid = logits.join(lab, id_col).select(
            F.col(id_col), (F.col("_lg") - F.col("_y")).alias("_r")
        )
        grad = (
            counts.join(resid, id_col)
            .groupBy("_b")
            .agg(F.sum(F.col("_c") * F.col("_r")).alias("_g"))
        )
        w = (
            w.join(grad, "_b", "left")
            .crossJoin(F.broadcast(n))
            .select(
                "_b",
                (
                    F.col("_w")
                    - F.expr(
                        # greatest(_n, 1): an EMPTY label set yields
                        # no residual rows, so every gradient is 0
                        # and the update is 0 regardless of divisor —
                        # but under pinned ANSI mode _n = 0 raised
                        # DIVIDE_BY_ZERO deep in the epoch plan
                        # (review r9); the clamp makes empty-labels a
                        # clean no-op (weights stay 0) and changes
                        # nothing whenever labels exist.
                        f"(coalesce(_g, 0L) * {int(lr_num)}L) div "
                        f"(greatest(_n, 1L) * {int(lr_den)}L)"
                    )
                ).cast("long").alias("_w"),
            )
        )
    return w.select("_b", F.col("_w").alias("weight_micro"))


# --------------------------------------------------------------------------
# DSIR: data selection via importance resampling (Xie et al. 2023,
# arXiv:2302.03169) — hashed n-gram importance weights
# --------------------------------------------------------------------------

def dsir_importance_weights(
    raw: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 4096,
    ngram_ns: tuple[int, ...] = (1, 2),
    hash_fn: str = "xxhash64",
    persist: bool = True,
) -> DataFrame:
    """(id, score_micro): per-raw-doc DSIR importance score — the
    log-likelihood ratio log p_target(doc)/p_raw(doc) under hashed
    n-gram bag-of-words models, in integer MICRO-NATS.

    The paper's recipe: featurize every doc as counts over
    ``num_buckets`` hash buckets of its word unigrams+bigrams, fit
    add-1-smoothed bucket distributions p (target corpus) and q (raw
    corpus), and weight each raw doc by Σ_b c_b·(ln p_b − ln q_b).
    Selecting top-weighted (or Gumbel-resampled) docs steers a raw
    crawl toward the target domain.

    Determinism device: the per-bucket log-ratio is quantized ONCE to
    integer micro-nats (round(1e6·ln r)), so the per-doc score is an
    exact integer dot product — order-independent under Spark's
    unordered aggregation and replayable in any engine whose ln agrees
    within the 1e-6 grid (the power-iteration fixed-point lesson).

    Scale shape: the only full-volume work is one explode → doc-id
    repartition of the raw bucket stream, after which the (doc,
    bucket) count and the scoring groupBy(id) run exchange-free; the
    bucket log-ratio table is ≤ num_buckets rows and BROADCAST into
    the scoring join, so raw-corpus rows shuffle exactly once on doc-id
    prefixed keys and nothing else moves. Target-corpus counts are a
    bucket-sized aggregate. ``hash_fn='md5'`` is the DuckDB-replayable
    flavor (hex-parsed, same value both engines); xxhash64 is the fast
    production default.

    Measured (local[32], mangled-replica corpora, min-of-2
    cache-cleared, isolated runs): 12.5 s at 1M docs → 25.7 s at 2M
    (2.05× for 2× data — linear), persist=True beating persist=False
    at both sizes (21.9/40.5 s).
    """
    def buckets(df: DataFrame) -> DataFrame:
        return hashed_ngram_buckets(
            df, id_col, text_col, num_buckets, ngram_ns, hash_fn
        )

    raw_b = buckets(raw)
    # The same doc-keyed exchange as train_linear_classifier's counts
    # (see the note there for the dup-heavy trade).
    doc_counts = raw_b.repartition(id_col).groupBy(id_col, "_b").agg(
        F.count(F.lit(1)).alias("_c")
    )
    if persist:
        # double-referenced: q_counts aggregates it AND the scoring
        # join re-reads it — without the cache the raw-corpus explode
        # runs twice. The caller releases it via clearCache(). At
        # cluster scale where the count table outgrows memory,
        # checkpoint/write it instead.
        doc_counts = doc_counts.persist()
    q_counts = doc_counts.groupBy("_b").agg(F.sum("_c").alias("_qc"))
    p_counts = (
        buckets(target).groupBy("_b").agg(F.count(F.lit(1)).alias("_pc"))
    )
    # every doc bucket appears in q by construction; left-join p and
    # add-1 smooth both sides. Totals ride along as literals would
    # re-trigger jobs — use a cross-joined 1-row aggregate instead.
    p_tot = p_counts.agg(F.sum("_pc").alias("_pt"))
    q_tot = q_counts.agg(F.sum("_qc").alias("_qt"))
    ratio = (
        q_counts.join(p_counts, "_b", "left")
        .na.fill({"_pc": 0})
        .crossJoin(F.broadcast(p_tot))
        .crossJoin(F.broadcast(q_tot))
        .select(
            "_b",
            F.round(
                (
                    F.log(
                        (F.col("_pc") + 1).cast("double")
                        / (F.col("_pt") + num_buckets).cast("double")
                    )
                    - F.log(
                        (F.col("_qc") + 1).cast("double")
                        / (F.col("_qt") + num_buckets).cast("double")
                    )
                )
                * 1e6
            )
            .cast("long")
            .alias("_l"),
        )
    )
    return (
        doc_counts.join(F.broadcast(ratio), "_b")
        .groupBy(id_col)
        .agg(F.sum(F.col("_c") * F.col("_l")).alias("score_micro"))
    )


def dsir_select_topk(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    id_col: str = "doc_id",
    **kw,
) -> DataFrame:
    """Top-k raw docs by DSIR importance (deterministic tiebreak on
    id) — the selection step; one ORDER BY LIMIT k on the scored
    table (TakeOrderedAndProject, no full sort materialization)."""
    w = dsir_importance_weights(raw, target, id_col=id_col, **kw)
    return (
        raw.join(w, id_col)
        .orderBy(F.desc("score_micro"), F.asc(id_col))
        .limit(k)
    )


# --------------------------------------------------------------------------
# Bloom-filter decontamination: space-bounded membership screen
# --------------------------------------------------------------------------

def flag_contaminated_bloom(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    num_bits: int = 1 << 22,
    num_hashes: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Bloom-filter flavor of :func:`flag_contaminated`: (id,
    n_overlap) where n_overlap counts the doc's distinct grams that
    MIGHT be benchmark grams under a ``num_bits``-bit Bloom filter
    with ``num_hashes`` hash functions.

    Why a third flavor: the hashed semi-join broadcasts 8 bytes per
    DISTINCT benchmark gram — fine for MMLU-sized suites, but a
    100M-gram benchmark union is an 800 MB broadcast. The Bloom
    bitset is fixed at ``num_bits/8`` bytes REGARDLESS of benchmark
    size (2²² bits = 512 KiB here), the classic space/precision
    trade: no false negatives ever (every true overlap is flagged —
    the property that matters for decontamination, where a false
    positive merely over-drops), false-positive rate
    ≈ (1-e^(-k·g/m))^k.

    Plan shape: the bitset lives as a (word_index, bits) table of
    ≤ num_bits/64 rows — built map-side from the benchmark grams with
    one tiny distinct — and is BROADCAST into the training-side probe:
    each (doc, gram) explodes to its ``num_hashes`` bit positions,
    joins the word table, and needs min(bit set) per gram (Bloom AND
    semantics via a boolean min — no UDF, no driver-side bitset, no
    collect). Training grams are hashed token slices (xxhash64
    flavor) — no gram strings, the flag_contaminated lesson.

    ``hash_fn='md5'`` derives positions from
    conv(substring(md5(j || ':' || gram), 1, 15), 16, 10) — the same
    value DuckDB computes from ('0x'||substr(md5(...),1,15))::BIGINT,
    so the ENTIRE Bloom computation (false positives included) is
    value-hash replayable; xxhash64 two-level-hashes the 8-byte slice
    hash with the probe index as seed (the minhash device).
    """
    if hash_fn == "xxhash64":
        bench_grams = _hashed_ngram_table(
            benchmark, [], text_col, n
        ).distinct()
        # NO .distinct() on the training side (r7): the final
        # (id, gram) groupBy already collapses duplicate positional
        # grams — identical probe rows can't change a min() — so the
        # upfront distinct was a pure extra corpus-scale shuffle.
        # Removing it: 2M-doc A/B measured 19.2-20.2 s -> 15.5 s
        # (-22%) and the 500k->2M curve drops from 1.24x to 1.12x
        # linear (3.46 s @500k); the cost is ~4 extra probe rows per
        # duplicate gram occurrence, map-side only (dup factor ~1.0
        # for positional 13-grams).
        train_grams = _hashed_ngram_table(docs, [id_col], text_col, n)

        def pos(j: int):
            return F.pmod(
                F.xxhash64(F.lit(j), F.col("gram")), F.lit(num_bits)
            )

    elif hash_fn == "md5":
        bench_grams = (
            benchmark.select(
                F.explode(ngrams(text_col, n=n)).alias("gram")
            ).distinct()
        )
        train_grams = docs.select(
            id_col, F.explode(ngrams(text_col, n=n)).alias("gram")
        )  # no distinct — collapsed by the (id, gram) groupBy below

        def pos(j: int):
            return F.pmod(
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(f"{j}:"), F.col("gram"))),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long"),
                F.lit(num_bits),
            )

    else:
        raise ValueError(f"unknown hash_fn: {hash_fn!r}")

    positions = F.array(*[pos(j) for j in range(num_hashes)])
    words = (
        bench_grams.select(F.explode(positions).alias("_p"))
        .distinct()
        .select(
            F.expr("_p div 64").alias("_w"),  # integer div: exact at any num_bits
            F.expr("shiftleft(1L, cast(_p % 64 as int))").alias("_m"),
        )
        .groupBy("_w")
        .agg(F.expr("bit_or(_m)").alias("_bits"))
    )
    probes = train_grams.select(
        id_col, "gram", F.explode(positions).alias("_p")
    ).select(
        id_col,
        "gram",
        F.expr("_p div 64").alias("_w"),  # integer div: exact at any num_bits
        F.expr("shiftleft(1L, cast(_p % 64 as int))").alias("_m"),
    )
    hits = (
        probes.join(F.broadcast(words), "_w", "left")
        .select(
            id_col,
            "gram",
            F.coalesce(
                F.col("_bits").bitwiseAND(F.col("_m")) != 0, F.lit(False)
            ).alias("_hit"),
        )
        .groupBy(id_col, "gram")
        .agg(F.min("_hit").alias("_might"))  # Bloom AND over k probes
    )
    return (
        hits.filter(F.col("_might"))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )


# --------------------------------------------------------------------------
# Greedy selection to a token budget (the step after scoring: DSIR /
# quality ranking → "take the best docs until the budget is full")
# --------------------------------------------------------------------------

def select_to_token_budget(
    docs: DataFrame,
    budget_tokens: int,
    score_col: str = "score_micro",
    id_col: str = "doc_id",
    text_col: str = "text",
    num_bins: int = 4096,
) -> DataFrame:
    """The maximal prefix of docs in (score desc, id asc) order whose
    running token total stays ≤ ``budget_tokens`` — greedy
    budget-constrained corpus selection, returned as
    (id, score, n_tokens).

    Semantics are GLOBAL-prefix (a doc is kept iff the running total
    through it fits), but the plan never runs a data-scale
    single-partition window: scores are binned into ``num_bins``
    integer buckets (exact integer arithmetic off a 1-row min/max
    close), bin token totals get one cumulative window over ≤num_bins
    rows (dimension scale), and the within-bin refinement window is
    PARTITIONED by bin — the decile_binning_mapside two-level trick
    applied to a prefix-sum. Binning affects only the execution
    shape; the kept set is exactly the naive global-cumsum answer
    (which is what the DuckDB oracle replays).

    Ties: deterministic (score desc, id asc). Zero-token docs at the
    boundary are kept (they cost nothing). Works for any integer
    score column — micro-nat DSIR weights, quality ranks, priorities.
    """
    d = docs.select(
        F.col(id_col),
        F.col(score_col).cast("long").alias("_s"),
        token_count(text_col).alias("_nt"),
    )
    stats = d.agg(
        F.min("_s").alias("_lo"), F.max("_s").alias("_hi")
    )
    # integer binning: ((s - lo) * NB) div (hi - lo + 1) ∈ [0, NB)
    binned = d.crossJoin(F.broadcast(stats)).withColumn(
        "_bin",
        # integer `div`, not float `/`: exact by construction (no
        # double rounding at bin edges). Range note: (s - lo) spans
        # the score spread; × num_bins must fit a long — true for
        # micro-nat DSIR weights and any rank-like score.
        F.expr(f"((_s - _lo) * {num_bins}) div (_hi - _lo + 1)"),
    )
    per_bin = binned.groupBy("_bin").agg(F.sum("_nt").alias("_bt"))
    w_bins = Window.orderBy(F.desc("_bin")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    # tokens consumed by all strictly-higher bins (≤num_bins rows —
    # dimension-scale single-partition window, allowlisted)
    starts = per_bin.withColumn(
        "_carry", F.coalesce(F.sum("_bt").over(w_bins), F.lit(0))
    ).select("_bin", "_carry")
    w_in = (
        Window.partitionBy("_bin")
        .orderBy(F.desc("_s"), F.asc(id_col))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    kept = (
        binned.join(F.broadcast(starts), "_bin")
        .withColumn("_run", F.col("_carry") + F.sum("_nt").over(w_in))
        .filter(F.col("_run") <= budget_tokens)
    )
    return kept.select(
        id_col,
        F.col("_s").alias(score_col),
        F.col("_nt").alias("n_tokens"),
    )


def select_to_token_budget_per_group(
    docs: DataFrame,
    budget_tokens: int,
    group_col: str = "source",
    score_col: str = "score_micro",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-group maximal prefix under a token budget: within each
    ``group_col`` value, keep docs in (score desc, id asc) order
    while the group's running token total stays ≤ ``budget_tokens``
    — per-domain/source budget caps, the standard way a training
    mixture bounds any one domain's contribution.

    Unlike the global flavor (:func:`select_to_token_budget`, which
    needs the two-level bin trick), the prefix window here is
    naturally PARTITIONED by the group — one window shuffle on the
    group key, no single-partition stage at any scale with bounded
    per-group volume. Returns (id, group, score, n_tokens).
    """
    d = docs.select(
        F.col(id_col),
        F.col(group_col),
        F.col(score_col).cast("long").alias("_s"),
        token_count(text_col).alias("_nt"),
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.desc("_s"), F.asc(id_col))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        d.withColumn("_run", F.sum("_nt").over(w))
        .filter(F.col("_run") <= budget_tokens)
        .select(
            id_col,
            group_col,
            F.col("_s").alias(score_col),
            F.col("_nt").alias("n_tokens"),
        )
    )


# --------------------------------------------------------------------------
# Mixture law: per-source token targets, repetition epochs, and
# diminishing-returns value under data repetition (r7)
# --------------------------------------------------------------------------

def source_mixture_plan(
    docs: DataFrame,
    budget_tokens: int,
    source_col: str = "source",
    text_col: str = "text",
    max_epochs: int = 20,
) -> DataFrame:
    """Per-source training-mixture plan under a global token budget:
    sqrt-temperature target shares (alpha=0.5, the standard
    small-source up-weighting), the repetition each target implies
    (epochs over the source's natural tokens), and the EFFECTIVE
    token value after diminishing returns — the Muennighoff et al.
    2023 (arXiv:2305.16264) observation that repeated epochs are
    worth less than fresh data, modeled here as a geometric per-epoch
    decay of 4/5 so the whole computation stays in EXACT integer
    arithmetic (the repo's cross-engine rule; the paper's exp-form
    R*≈15 curve and this 4/5 geometric series agree to within a few
    percent over the 1-20 epoch range that matters).

    Columns: (source, n_docs, natural_tokens, share, target_tokens,
    epochs_full, effective_tokens, value_retention).

    Cross-engine determinism (every step replayed by the oracle):

    - sqrt share goes through MICRO-INTEGER quantization:
      ``floor(sqrt(double(N)) · 10⁶)`` — sqrt and the multiply are
      correctly-rounded IEEE ops on identical inputs, floor pins the
      value to a BIGINT, and the share sum/divide is then exact
      integer + one closing divide (no order-dependent double Σ).
    - the decay series is exact rational: Σ_{j<k}(4/5)^j =
      5(5^k−4^k)/5^k, so ``effective = (N·5·(5^k−4^k) + r·4^k) /
      5^k``. ``5^k``/``4^k`` come from double ``pow`` — exact for
      k ≤ 20 (5²⁰ < 2⁵³) — and are pinned to BIGINT.
    - the CLOSING math (numerator, both divides, the retention
      denominator) runs entirely in DOUBLE, identically associated
      in the oracle (see ``_mix_effective_numerator``): each input
      is an exactly-representable double and each op is one
      correctly-rounded IEEE step, so the engines agree bit-for-bit
      at ANY magnitude. The r7 BIGINT closing tree wrapped silently
      in Spark (DuckDB raises) once ``N·5^(k+1)`` crossed 2⁶³ —
      i.e. N > ~1.96e4 tokens for a source whose target engages the
      k = 20 cap, or target > ~9.6e4 in the retention denominator;
      both regimes are unit-pinned against pure-Python float math
      (tests/test_curation.py overflow tests). Values below 2⁵³
      remain EXACT; above it the engines share the same ≤1-ulp-
      per-op rounding.
    - integer exactness bound that remains: ``budget·sqrt_micro <
      2⁶³`` for the target computation — true to ~8.4e12-token
      budgets at micro quantization.

    Plan shape: one partial-agg shuffle to (source, N), a broadcast
    1-row total, pure Column algebra after — dimension-scale
    everywhere past the first aggregate.
    """

    def _mix_effective_numerator() -> "F.Column":
        """N·5·(5^k−4^k) + r·4^k as an all-DOUBLE tree, identically
        associated in the DuckDB oracle: ((N·5)·(5^k−4^k)) + (r·4^k).
        Every input is an exactly-representable double (each < 2⁵³
        with the k ≤ 20 cap), every op is one correctly-rounded IEEE
        step, so both engines produce the same bits at ANY magnitude
        — unlike the r7 BIGINT tree, which wrapped silently in Spark
        (and raised in DuckDB) once N·5^(k+1) crossed 2⁶³ (review
        r8: N > ~1.96e4 with the cap engaged — reachable, the first
        overflow fix had only moved the DENOMINATOR to double)."""
        return (
            F.col("_nt").cast("double")
            * F.lit(5).cast("double")
            * (
                F.col("_p5").cast("double")
                - F.col("_p4").cast("double")
            )
            + F.col("_r").cast("double") * F.col("_p4").cast("double")
        )

    per_src = docs.groupBy(source_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(token_count_bpe(text_col)).cast("bigint").alias("_nt"),
    )
    sq = per_src.withColumn(
        "_sqm",
        F.floor(
            F.sqrt(F.col("_nt").cast("double")) * F.lit(1_000_000)
        ).cast("bigint"),
    )
    tot = sq.agg(F.sum("_sqm").alias("_tot"))
    planned = (
        sq.crossJoin(F.broadcast(tot))
        .withColumn(
            "_target",
            F.expr(f"({budget_tokens} * _sqm) div _tot"),
        )
        .withColumn(
            "_k",
            F.least(
                F.when(F.col("_nt") > 0, F.expr("_target div _nt"))
                .otherwise(F.lit(0)),
                F.lit(max_epochs),
            ),
        )
        .withColumn(
            "_r",
            F.when(
                (F.col("_nt") > 0) & (F.expr("_target div _nt") <= max_epochs),
                F.expr("_target % _nt"),
            ).otherwise(F.lit(0)),
        )
        .withColumn("_p5", F.pow(F.lit(5.0), F.col("_k")).cast("bigint"))
        .withColumn("_p4", F.pow(F.lit(4.0), F.col("_k")).cast("bigint"))
    )
    return planned.select(
        F.col(source_col),
        "n_docs",
        F.col("_nt").alias("natural_tokens"),
        (
            F.col("_sqm").cast("double") / F.col("_tot").cast("double")
        ).alias("share"),
        F.col("_target").alias("target_tokens"),
        F.col("_k").alias("epochs_full"),
        (
            _mix_effective_numerator()
            / F.col("_p5").cast("double")
        ).alias("effective_tokens"),
        F.when(
            F.col("_target") > 0,
            _mix_effective_numerator()
            # DOUBLE denominator too (see the docstring's overflow
            # note): 5^20 · target wraps int64 at target > ~9.6e4.
            / (
                F.col("_p5").cast("double")
                * F.col("_target").cast("double")
            ),
        ).otherwise(F.lit(0.0)).alias("value_retention"),
    )


def source_ngram_overlap_matrix(
    docs: DataFrame,
    n: int = 3,
    source_col: str = "source",
    text_col: str = "text",
    max_gram_sources: int | None = None,
) -> DataFrame:
    """Pairwise cross-source n-gram overlap: for every unordered
    source pair, the count of distinct shared word n-grams and the
    set Jaccard — the mixture diagnostic that surfaces inter-source
    contamination (two "independent" crawls sharing half their
    grams) and near-duplicate source pairs BEFORE per-document dedup
    spends compute on them. Columns: (source_a, source_b, n_shared,
    jaccard), source_a < source_b.

    Plan shape: one (source, gram-hash) DISTINCT shuffle collapses
    the corpus to source-level vocabularies (bounded by
    vocab x n_sources, corpus-size-independent past this point), one
    self-join on the gram key produces intersections, per-source
    set sizes join in for the Jaccard close. Gram identity is the
    standard xxhash64 token-slice (no gram strings cross a shuffle;
    ~2^-64 collision acceptance, same contract as minhash/gopher).

    ``max_gram_sources`` is the hot-gram guard for LARGE source
    counts: a gram present in more than that many sources leaves the
    self-join (its pair fan-out is quadratic in source count) but
    stays in the per-source set sizes — with hundreds of sources,
    stop-grams otherwise dominate the join. None (default) is exact;
    the 20-source fixtures don't need the cap.
    """
    grams = _hashed_ngram_table(
        docs, [source_col], text_col, n
    ).distinct()
    sizes = grams.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("_sz")
    )
    pair_source = _drop_hot_buckets(grams, ["gram"], max_gram_sources)
    a = pair_source.select(
        F.col(source_col).alias("source_a"), "gram"
    )
    b = pair_source.select(
        F.col(source_col).alias("source_b"), "gram"
    )
    inter = (
        a.join(b, "gram")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    sa = sizes.select(
        F.col(source_col).alias("source_a"), F.col("_sz").alias("_na")
    )
    sb = sizes.select(
        F.col(source_col).alias("source_b"), F.col("_sz").alias("_nb")
    )
    return (
        inter.join(sa, "source_a")
        .join(sb, "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            (
                F.col("n_shared").cast("double")
                / (
                    F.col("_na") + F.col("_nb") - F.col("n_shared")
                ).cast("double")
            ).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# CCNet-style LM-score buckets (Wenzek et al. 2020, §4.4)
# --------------------------------------------------------------------------

def ccnet_lm_buckets(
    docs: DataFrame,
    sample_mod: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """CCNet head/middle/tail bucketing by language-model score
    (Wenzek et al. 2020 "CCNet", §4.4): per language, tercile cutoffs
    are learned on a deterministic document SAMPLE and every document
    is assigned head (most natural) / middle / tail by comparing its
    score to the cutoffs — exactly CCNet's regime, which also fits
    cutoffs on a held-out sample rather than sorting the corpus.

    The LM score is the corpus char-trigram familiarity (mean corpus
    frequency of the doc's trigrams, integer mean — the repo's
    stand-in for KenLM perplexity, cf. char_trigram_familiarity;
    higher = more natural, so head is the TOP tercile). A real KenLM
    scorer slots in by replacing the score subquery.

    Scale shape: ONE trigram explode (persisted — feeds the frequency
    table and the scoring join); the frequency table is ≤|alphabet|³
    and broadcasts; the per-lang ntile(3) window runs on the SAMPLE
    only (md5-bit sample, rate = 1/``sample_mod`` — production uses a
    hash-prefix rate around 1e-4 so the per-lang sort is
    bounded-sample-scale, never corpus-scale; the fixture keeps 1/2
    so every language's sample is non-degenerate); cutoffs are a
    |langs|-row broadcast; assignment is one broadcast join + CASE.
    All integer arithmetic until the closing mean divide.

    Measured scale curve (tools/scale_curve.py, min-of-2, sf0.1-
    derived mangled replicas, local[32]): 500k/1M/2M docs =
    37.6 / 79.9 / 166.3 s — 1.11× linear; the cost is the two
    trigram-stream passes (frequency build + scoring join), both
    broadcast-joined, no corpus-scale shuffle beyond the per-doc
    aggregation.

    Output: (lang, bucket, n_docs, n_tokens, mean_score) — bucket ∈
    head/middle/tail, plus 'unsampled' for languages whose sample
    carried fewer than 2 documents (ntile(3) over one row populates
    only tile 1, so no upper cutoff is learnable). Documents whose
    normalized text is shorter than 3 chars carry no trigram score
    and are EXCLUDED from the census (the inner score join, mirrored
    by the oracle) — production corpora length-filter far above
    this; feed such docs a length gate first if they must appear.
    """
    norm = docs.select(
        id_col,
        lang_col,
        normalize_text(text_col).alias("_t"),
    )
    tri = (
        norm.filter(F.length("_t") >= 3)
        .select(
            id_col,
            F.explode(F.sequence(F.lit(1), F.length("_t") - 2)).alias(
                "_p"
            ),
            "_t",
        )
        .select(id_col, F.expr("substring(_t, _p, 3)").alias("_g"))
        .persist()
    )
    freq = tri.groupBy("_g").agg(F.count(F.lit(1)).alias("_cnt"))
    fam = (
        tri.join(F.broadcast(freq), "_g")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("_n_tri"),
            F.sum("_cnt").alias("_fam"),
        )
    )
    scored = (
        norm.join(fam, id_col)
        .select(
            id_col,
            lang_col,
            # integer mean trigram frequency — overflow-safe at any
            # corpus size (no pre-multiplication; the per-doc score
            # is bounded by the global max trigram count)
            F.expr("_fam div _n_tri").alias("_q"),
            tokens("_t").alias("_toks"),
        )
        .localCheckpoint()  # eager: releases the trigram cache below
    )
    tri.unpersist()
    sample = scored.filter(
        F.ascii(F.substring(F.md5(F.col(id_col).cast("string")), 1, 1))
        % sample_mod
        == 0
    )
    wt = Window.partitionBy(lang_col).orderBy(
        F.asc("_q"), F.asc(id_col)
    )
    cuts = (
        sample.withColumn("_tile", F.ntile(3).over(wt))
        .groupBy(lang_col)
        .agg(
            F.max(F.when(F.col("_tile") == 1, F.col("_q"))).alias("_c1"),
            F.max(F.when(F.col("_tile") == 2, F.col("_q"))).alias("_c2"),
        )
    )
    assigned = scored.join(F.broadcast(cuts), lang_col, "left").select(
        lang_col,
        F.when(F.col("_c2").isNull(), F.lit("unsampled"))
        .when(F.col("_q") > F.col("_c2"), F.lit("head"))
        .when(F.col("_q") > F.col("_c1"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
        F.size("_toks").alias("_ntok"),
        "_q",
    )
    return assigned.groupBy(lang_col, "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("_ntok").cast("bigint").alias("n_tokens"),
        (
            F.sum("_q").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("mean_score"),
    )


# --------------------------------------------------------------------------
# r8: license/copyright signal deck (the robots/license filtering pass
# RefinedWeb §3.1 and every compliance-aware pipeline run before
# training-data selection)
# --------------------------------------------------------------------------

# One (?i) alternation per signal class, mirrored VERBATIM in the
# gated query's DuckDB oracle (both engines compile these with their
# native regex libs — Java util.regex vs RE2 — on the shared subset:
# literal alternations, character classes, \d, no backrefs).
LICENSE_SIGNAL_REGEXES: dict[str, str] = {
    # permissive, attribution-style licenses
    "cc_license": r"(?i)creative commons|cc[- ]by(?:[- ][a-z]{2})?\b",
    "open_license": (
        r"(?i)apache license|mit license|bsd license|gpl|mpl[- ]2|"
        r"public domain|licensed under"
    ),
    # restrictive markers
    "rights_reserved": r"(?i)all rights reserved",
    "copyright_mark": r"(?i)copyright \d{4}|\(c\) \d{4}|©",
}


def license_signals(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document license/copyright signal flags + a policy class.

    Four boolean columns (one per :data:`LICENSE_SIGNAL_REGEXES`
    entry) and ``license_class`` by documented precedence:

    1. ``restricted``  — 'all rights reserved' anywhere (an explicit
       reservation wins over any permissive marker near it; the
       conservative call a compliance pass must make);
    2. ``permissive``  — a CC or open-source license marker;
    3. ``copyright_only`` — a bare copyright line, no license;
    4. ``unmarked``    — none of the above (most web text).

    Pure Column algebra — four ``rlike`` per doc in ONE projection,
    no shuffle at all: the deck composes map-side with any scan, and
    at 100 TB it is bandwidth-bound like every other scan-only
    filter. Downstream selection typically keeps permissive +
    unmarked and routes restricted to review."""
    flags = {
        name: F.col(text_col).rlike(rx)
        for name, rx in LICENSE_SIGNAL_REGEXES.items()
    }
    return docs.select(
        F.col(id_col),
        *[flags[n].alias(n) for n in LICENSE_SIGNAL_REGEXES],
        F.when(flags["rights_reserved"], F.lit("restricted"))
        .when(
            flags["cc_license"] | flags["open_license"],
            F.lit("permissive"),
        )
        .when(flags["copyright_mark"], F.lit("copyright_only"))
        .otherwise(F.lit("unmarked"))
        .alias("license_class"),
    )


# --------------------------------------------------------------------------
# r8: lexical-diversity quality signals (type/token statistics — the
# cheap repetition/quality deck complementing Gopher's n-gram masses)
# --------------------------------------------------------------------------

def lexical_diversity(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document type/token quality signals: ``n_tokens``,
    ``n_types`` (distinct tokens), ``type_token_ratio``,
    ``top_token_frac`` (mass of the single most frequent token — the
    unigram cousin of Gopher's top-2gram), and ``hapax_frac``
    (fraction of TYPES occurring exactly once — low hapax means
    template/boilerplate text). Every ratio is exact integers with
    one closing divide; docs with zero tokens emit 0 counts and 0.0
    ratios (pinned, not NULL).

    Plan: one explode → (id, token) partial-agg groupBy (map-side
    combinable — the same single-exchange shape as exact dedup's
    fingerprint pass), one per-doc agg, one left join back to the
    doc spine for empty docs. Token-count work is linear in corpus
    tokens; nothing is quadratic in doc length (an array-HOF
    formulation of top_token_frac would be — filter-per-distinct is
    O(L²) on a 100k-token doc, so the exchange is the scale-correct
    choice)."""
    counts = (
        docs.select(
            F.col(id_col), F.explode(tokens(text_col)).alias("_t")
        )
        .groupBy(id_col, "_t")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    per_doc = counts.groupBy(id_col).agg(
        F.sum("_c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.max("_c").cast("bigint").alias("_top"),
        F.sum(F.when(F.col("_c") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("_hapax"),
    )
    spine = docs.select(id_col)
    joined = spine.join(per_doc, id_col, "left")
    n = F.coalesce(F.col("n_tokens"), F.lit(0))
    ty = F.coalesce(F.col("n_types"), F.lit(0))
    return joined.select(
        F.col(id_col),
        n.alias("n_tokens"),
        ty.alias("n_types"),
        F.when(n > 0, ty.cast("double") / n.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("type_token_ratio"),
        F.when(
            n > 0,
            F.coalesce(F.col("_top"), F.lit(0)).cast("double")
            / n.cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("top_token_frac"),
        F.when(
            ty > 0,
            F.coalesce(F.col("_hapax"), F.lit(0)).cast("double")
            / ty.cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("hapax_frac"),
    )


# --------------------------------------------------------------------------
# r8: corpus data card (the per-source release report every training
# dataset ships — composes the engine's own primitives into one row
# per source)
# --------------------------------------------------------------------------

def corpus_datacard(
    docs: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """One row per source: ``(source, n_docs, n_tokens,
    mean_doc_tokens, exact_dup_frac, n_langs, top_lang,
    top_lang_frac)`` — the data-card summary a dataset release ships
    (docs/token volumes, global exact-duplicate exposure, language
    makeup). Duplicate exposure is GLOBAL: a doc counts as duplicated
    when its normalized fingerprint appears more than once anywhere
    in the corpus (cross-source recrawls are precisely the
    interesting case), attributed to each source that holds a copy.
    NULL-text docs form one fingerprint group (groupBy semantics via
    an eqNullSafe join-back — ADVICE r8; they are counted in every
    denominator, and two NULL-text rows count as duplicates of each
    other).

    Exactness: integer counts with one closing divide per ratio.
    Top-lang election: the usual integer-encode argmax needs a
    numeric tiebreaker and lang is a string, so the election is two
    order-independent aggregates instead — max(count) per source,
    then min(lang) among the languages that attain it (ties → the
    alphabetically-first language, replayed verbatim in the
    oracle).

    Plan: one (doc)-scale projection → one fingerprint groupBy
    (global, 16-byte keys), one (source, lang) partial agg, one
    per-source agg — three map-side-combinable exchanges, no window
    over data scale, no collect."""
    base = docs.select(
        F.col(source_col).alias("source"),
        F.col(id_col),
        F.col(lang_col).alias("lang"),
        token_count(text_col).cast("bigint").alias("_nt"),
        doc_fingerprint(text_col).alias("_fp"),
    )
    fp_counts = base.groupBy("_fp").agg(
        F.count(F.lit(1)).alias("_fpc")
    ).withColumnRenamed("_fp", "_fpk")
    # eqNullSafe on a RENAMED key (ADVICE r8, the dedup_remap
    # precedent): a null-unsafe equi-join silently dropped NULL-text
    # docs (NULL fingerprint) from n_docs/n_tokens/exact_dup_frac
    # while lang_counts still counted them — mismatched denominators
    # let top_lang_frac exceed 1.0. groupBy already treats NULL as
    # one group, so NULL-text recrawls count as duplicates of each
    # other, consistently in both aggregates.
    per_doc = base.join(
        fp_counts, F.col("_fp").eqNullSafe(F.col("_fpk"))
    )
    per_source = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("_nt").cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("_fpc") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("_ndup"),
    )
    lang_counts = base.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("_lc")
    )
    top = lang_counts.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_langs"),
        F.max("_lc").alias("_top_c"),
    )
    top_lang = (
        lang_counts.join(top, "source")
        .filter(F.col("_lc") == F.col("_top_c"))
        .groupBy("source")
        .agg(F.min("lang").alias("top_lang"))
    )
    return (
        per_source.join(top, "source")
        .join(top_lang, "source")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            (
                F.col("n_tokens").cast("double")
                / F.col("n_docs").cast("double")
            ).alias("mean_doc_tokens"),
            (
                F.col("_ndup").cast("double")
                / F.col("n_docs").cast("double")
            ).alias("exact_dup_frac"),
            "n_langs",
            "top_lang",
            (
                F.col("_top_c").cast("double")
                / F.col("n_docs").cast("double")
            ).alias("top_lang_frac"),
        )
    )


def quality_funnel(
    flags: DataFrame,
    stages: list[str],
) -> DataFrame:
    """Survival funnel over a boolean flag table: row i = rows
    passing ALL of the first i ``stages`` (stage 0 = input size) —
    the marginal kill-rate readout threshold tuning reads (a rule
    with zero marginal kills is dead weight; one that kills half the
    corpus needs a second look). One scan, one global aggregate row
    (1 row — not a data-scale funnel), exploded to (stage, rule,
    n_surviving)."""
    aggs = [F.count(F.lit(1)).cast("bigint").alias("_n0")]
    acc = F.lit(True)
    for i, nm in enumerate(stages, 1):
        acc = acc & F.col(nm)
        aggs.append(
            F.sum(acc.cast("int")).cast("bigint").alias(f"_n{i}")
        )
    row = flags.agg(*aggs)
    structs = [
        F.struct(
            F.lit(0).cast("bigint").alias("stage"),
            F.lit("all").alias("rule"),
            F.col("_n0").alias("n_surviving"),
        )
    ] + [
        F.struct(
            F.lit(i).cast("bigint").alias("stage"),
            F.lit(nm).alias("rule"),
            F.col(f"_n{i}").alias("n_surviving"),
        )
        for i, nm in enumerate(stages, 1)
    ]
    return row.select(
        F.explode(F.array(*structs)).alias("_s")
    ).select("_s.stage", "_s.rule", "_s.n_surviving")


# --------------------------------------------------------------------------
# In-engine n-gram LM perplexity scoring (the CCNet "real LM" seam)
# --------------------------------------------------------------------------

def bigram_lm_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    micro: int = 1_000_000,
) -> DataFrame:
    """Train an add-one-smoothed token BIGRAM language model on the
    corpus and score every document against it — per doc ``(id,
    n_transitions, total_cost_micro, avg_cost_micro)`` where cost is
    the negative log-probability in integer micro-nats. This closes
    the seam :func:`ccnet_lm_buckets` documents ("a real KenLM
    scorer slots in by replacing the score subquery"): the trigram
    FAMILIARITY stand-in becomes a real conditional LM, trained
    in-engine like :func:`train_linear_classifier` (no offline model
    artifact), so perplexity bucketing/filtering runs end-to-end
    inside the engine.

    Model (deterministic, cross-engine — the DSIR/ULM quantization
    device, one ``ln`` per DISTINCT bigram at model scale, exact
    integers everywhere the corpus is touched):

    - transitions = consecutive lowercased whitespace-token pairs
      (docs with < 2 tokens contribute and score nothing — an
      interior-transition LM; no BOS/EOS padding, so the model never
      needs an out-of-vocabulary branch: score corpus == train
      corpus and every scored bigram is in the model);
    - vocabulary V = distinct tokens OBSERVED IN TRANSITIONS
      (union of left/right positions — model-scale, no second
      corpus-wide distinct);
    - cost(a,b) = round(micro · ln((C(a)+V) / (C(a,b)+1))) — the
      add-one (Laplace) conditional, exact integers after the one
      rounded ln per distinct bigram;
    - per doc: total = Σ cost over transition occurrences,
      avg = total div n (integer floor-div; NULL when n = 0).

    Plan shape: ONE corpus exchange — the (id, prev, cur) transition
    groupBy (transitions are built map-side via ``zip_with`` of two
    array slices, no positional self-join); the global bigram/context
    count tables and the V scalar all roll up from that collapsed
    table (map-side combinable, model-scale); scoring joins the cost
    table back onto the per-doc bigram counts on (a, b) — the one
    model-sized shuffle join, Zipf-head skew handled by AQE
    (hot bigrams are exactly the skew-join case) — then one doc-keyed
    rollup and an id-spine left join for sub-2-token docs.

    Measured scale curve (tools/scale_curve.py, mangled sf0.1
    replicas, min-of-2, local[32]): 20.2 / 50.1 / 76.5 s at
    500k/1M/2M docs — 0.95×-linear. The mangled replicas are the
    WORST case for this operator: per-copy token suffixes make
    every bigram distinct, so the model tables grow linearly with
    the corpus; a real corpus's shared vocabulary collapses them.
    """
    tk = docs.select(
        F.col(id_col),
        tokens(F.lower(F.col(text_col))).alias("_tk"),
    )
    tr = tk.select(
        id_col,
        F.explode(
            F.zip_with(
                F.slice(
                    "_tk",
                    F.lit(1),
                    F.greatest(F.size("_tk") - 1, F.lit(0)),
                ),
                F.slice(
                    "_tk",
                    F.lit(2),
                    F.greatest(F.size("_tk") - 1, F.lit(0)),
                ),
                lambda a, b: F.struct(a.alias("a"), b.alias("b")),
            )
        ).alias("_p"),
    ).select(id_col, "_p.a", "_p.b")
    # the ONE corpus-scale exchange: per-doc bigram counts
    dbc = tr.groupBy(id_col, "a", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("_c")
    )
    bc = dbc.groupBy("a", "b").agg(
        F.sum("_c").cast("bigint").alias("_cab")
    )
    # eager + model-scale: referenced by ctx, V and the cost table
    # (the pq_train device — without it the corpus exchange replays
    # once per consumer).
    bc = bc.localCheckpoint()
    ctx = bc.groupBy("a").agg(F.sum("_cab").cast("bigint").alias("_ca"))
    v = (
        bc.select(F.col("a").alias("_t"))
        .union(bc.select(F.col("b").alias("_t")))
        .agg(F.count_distinct("_t").cast("bigint").alias("_v"))
    )
    cost = (
        bc.join(ctx, "a")
        .crossJoin(F.broadcast(v))
        .select(
            "a",
            "b",
            F.round(
                F.log(
                    (F.col("_ca") + F.col("_v")).cast("double")
                    / (F.col("_cab") + F.lit(1)).cast("double")
                )
                * F.lit(float(micro))
            )
            .cast("long")
            .alias("_cost"),
        )
    )
    sc = (
        dbc.join(cost, ["a", "b"])
        .groupBy(id_col)
        .agg(
            F.sum("_c").cast("bigint").alias("n_transitions"),
            F.sum(F.col("_c") * F.col("_cost"))
            .cast("bigint")
            .alias("total_cost_micro"),
        )
        .withColumnRenamed(id_col, "_sid")
    )
    spine = docs.select(id_col).distinct()
    return spine.join(
        sc, F.col(id_col).eqNullSafe(F.col("_sid")), "left"
    ).select(
        F.col(id_col),
        F.coalesce("n_transitions", F.lit(0))
        .cast("bigint")
        .alias("n_transitions"),
        F.coalesce("total_cost_micro", F.lit(0))
        .cast("bigint")
        .alias("total_cost_micro"),
        F.when(
            F.coalesce("n_transitions", F.lit(0)) > 0,
            F.expr("total_cost_micro div n_transitions"),
        )
        .cast("bigint")
        .alias("avg_cost_micro"),
    )


# --------------------------------------------------------------------------
# Source-distribution divergence (mixture observability)
# --------------------------------------------------------------------------

#: round(ln(2) · 1e9) — the JS upper bound in integer nano-nats; the
#: same literal closes the oracle so the constant cannot drift.
LN2_NANO = 693_147_181


def source_js_divergence(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    nano: int = 1_000_000_000,
) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between source unigram
    token distributions — ``(source_a, source_b, n_common_tokens,
    js_nano, js)``, source_a < source_b, js ∈ [0, ln 2]. The mixture
    diagnostic that complements :func:`source_ngram_overlap_matrix`:
    overlap counts SHARED VOCABULARY, JS measures how differently
    the sources USE it (two crawls can share every token yet have
    wildly different topical distributions, and vice versa).
    Mixture design reads this before setting temperatures: sources
    at js ≈ 0 are interchangeable (merge their budgets), sources
    near ln 2 are distributionally disjoint (balance them
    explicitly).

    Determinism: with p = c_a/N_a, q = c_b/N_b, every per-token term

        0.5·(p·ln(p/(p+q)) + q·ln(q/(p+q)))

    is rounded to integer NANO-nats and summed as BIGINT — the
    per-term-rounding device that makes the float sum
    order-independent across engines. Tokens present in only one
    source contribute exactly 0 to the sum (p·ln(p/p)), so the
    identity JS = ln 2 + Σ_common terms holds with an INNER join on
    the token key; ln 2 enters once as the shared
    :data:`LN2_NANO` literal. js = js_nano / 1e9 (one exact BIGINT→
    DOUBLE divide).

    Plan shape: ONE corpus exchange — the (source, token) count
    groupBy; per-source totals roll up from it (model-scale) and
    BROADCAST back; the pair term table is a self-join on the token
    key, bounded by vocab × K² for K sources (the corpus never
    re-shuffles); a K²-row source-pair spine (dimension-scale cross
    join) restores zero-common-token pairs at exactly ln 2. For
    hundreds of sources the stop-token fan-out dominates this join —
    cap it with a hot-token guard like source_ngram_overlap_matrix's
    ``max_gram_sources``; the 20-source fixtures don't need one.

    Measured scale curve (same protocol): 3.4 / 2.7 / 4.8 s at
    500k/1M/2M docs — 0.35×-linear, the flattest curve in the r9
    table, as the corpus-independent pair join predicts.
    """
    stc = (
        docs.select(
            F.col(source_col).alias("_s"),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("_t"),
        )
        .groupBy("_s", "_t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
    )
    stc = stc.localCheckpoint()  # vocab×K rows; triple-referenced
    totals = stc.groupBy("_s").agg(
        F.sum("_c").cast("bigint").alias("_n")
    )
    a = (
        stc.join(F.broadcast(totals), "_s")
        .select(
            F.col("_s").alias("source_a"),
            "_t",
            F.col("_c").alias("_ca"),
            F.col("_n").alias("_na"),
        )
    )
    b = (
        stc.join(F.broadcast(totals), "_s")
        .select(
            F.col("_s").alias("source_b"),
            "_t",
            F.col("_c").alias("_cb"),
            F.col("_n").alias("_nb"),
        )
    )
    pa = F.col("_ca").cast("double") / F.col("_na").cast("double")
    pb = F.col("_cb").cast("double") / F.col("_nb").cast("double")
    # floor(x + 0.5): the quantize_int8 cross-engine rounding device
    # — terms are NEGATIVE (p·ln(p/s) < 0) and native round()
    # half-tie behavior is the one engine disagreement this family
    # cannot afford (the positive-domain ULM costs keep round()).
    term = (
        F.floor(
            (
                pa * F.log(pa / (pa + pb))
                + pb * F.log(pb / (pa + pb))
            )
            * F.lit(float(nano) / 2.0)
            + F.lit(0.5)
        )
        .cast("long")
    )
    sums = (
        a.join(b, "_t")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common_tokens"),
            F.sum(term).cast("bigint").alias("_tsum"),
        )
    )
    srcs = docs.select(
        F.col(source_col).alias("_sp")
    ).distinct()
    pairs = (
        srcs.select(F.col("_sp").alias("source_a"))
        .crossJoin(
            F.broadcast(srcs.select(F.col("_sp").alias("source_b")))
        )
        .filter(F.col("source_a") < F.col("source_b"))
    )
    return (
        pairs.join(sums, ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            F.coalesce("n_common_tokens", F.lit(0))
            .cast("bigint")
            .alias("n_common_tokens"),
            (
                F.lit(LN2_NANO)
                + F.coalesce("_tsum", F.lit(0))
            )
            .cast("bigint")
            .alias("js_nano"),
            (
                (
                    F.lit(LN2_NANO) + F.coalesce("_tsum", F.lit(0))
                ).cast("double")
                / F.lit(1e9)
            ).alias("js"),
        )
    )


# --------------------------------------------------------------------------
# Semantic (embedding-space) decontamination
# --------------------------------------------------------------------------

def flag_contaminated_semantic(
    vectors: DataFrame,
    benchmark: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space decontamination: flag corpus vectors whose
    maximum cosine similarity against a held-out BENCHMARK embedding
    set reaches ``threshold`` — the semantic complement of the
    n-gram decontaminators (:func:`flag_contaminated` catches
    verbatim 13-gram copies; this catches paraphrased/reformatted
    benchmark leakage that shares no surface n-gram, the regime
    reported by Phi/FineWeb-style contamination audits). Output:
    ``(id, max_benchmark_sim, contaminated)`` — one row per corpus
    vector, max_sim NULL only when the benchmark is empty.

    Plan shape: the benchmark is DISTINCT'd, folded to a SINGLE
    1-row array via collect_list (engine-side — the ULM cost-map
    device, no driver collect) and broadcast; the corpus side
    STREAMS through one map-side ``array_max(transform(...))``
    projection — ZERO corpus shuffles, one row out per corpus row
    (benchmark empty → empty array → max_sim NULL, contaminated
    false). Dot products stay in the JVM (``aggregate`` fold over
    ``zip_with``, sequential per-dim order — bit-identical to the
    oracle's ``list_dot_product``). For benchmark sets too large to
    broadcast, pre-reduce them with :func:`~convert_parquet_to_csv_
    spark.operators.similarity.semdedup`-style centroids or an IVF
    route (operators/similarity.topk_ivf) — the threshold flag only
    needs ONE witness above τ, so any recall-preserving candidate
    cut composes here.
    """
    from convert_parquet_to_csv_spark.functions.vectors import (
        cosine_similarity,
    )

    ball = benchmark.select(
        F.col(vec_col).alias("_bv")
    ).distinct().agg(
        F.collect_list("_bv").alias("_ball")
    )
    sims = F.transform(
        F.col("_ball"), lambda bv: cosine_similarity("_v", bv)
    )
    return (
        vectors.select(F.col(id_col), F.col(vec_col).alias("_v"))
        .crossJoin(F.broadcast(ball))
        .select(
            id_col,
            F.array_max(sims).alias("max_benchmark_sim"),
        )
        .select(
            id_col,
            "max_benchmark_sim",
            F.coalesce(
                F.col("max_benchmark_sim") >= F.lit(float(threshold)),
                F.lit(False),
            ).alias("contaminated"),
        )
    )


# --------------------------------------------------------------------------
# Classifier calibration (reliability table)
# --------------------------------------------------------------------------

def calibration_bins(
    scores: DataFrame,
    labels: DataFrame,
    num_bins: int = 8,
    id_col: str = "doc_id",
    logit_col: str = "logit_micro",
    label_col: str = "y_micro",
    positive_micro: int = 1_000_000,
) -> DataFrame:
    """Reliability table for a trained scorer: join per-doc logits
    to labels, split the logit RANGE into ``num_bins`` equal-width
    integer bins, and report per bin ``(bin, n_docs,
    mean_logit_micro, n_pos, frac_pos)`` — the calibration readout
    every deployed quality filter gets checked against before its
    threshold ships (a well-calibrated scorer shows frac_pos rising
    monotonically with the bin; a flat table means the logits carry
    no signal at that granularity). Closes the observability loop on
    :func:`train_linear_classifier` the way :func:`quality_funnel`
    closes it for rule decks.

    Exact-integer discipline: bin = (logit − mn)·B div (mx − mn + 1)
    — BIGINT arithmetic on the micro-unit logits (trunc division,
    non-negative numerator, so floor == trunc in both engines);
    mean_logit_micro = Σ div n (same device). The only float is the
    closing frac_pos ratio of two exact BIGINTs. Rows whose id is
    NULL are EXCLUDED (the label join is null-unsafe BY DESIGN — a
    row with no joinable label cannot be calibrated against).

    Plan shape: one doc-keyed score↔label join (AQE-broadcast when
    the label sample is small — the usual case: labels are rated
    samples); a 1-row min/max broadcast close; one ≤``num_bins``-row
    aggregate. The corpus-scale input is touched once.
    """
    j = scores.select(
        F.col(id_col),
        F.col(logit_col).cast("long").alias("_lg"),
    ).join(
        labels.select(
            F.col(id_col),
            F.col(label_col).cast("long").alias("_y"),
        ),
        id_col,
    )
    stats = j.agg(
        F.min("_lg").alias("_mn"), F.max("_lg").alias("_mx")
    )
    binned = j.crossJoin(F.broadcast(stats)).select(
        F.expr(
            f"((_lg - _mn) * {int(num_bins)}) div (_mx - _mn + 1)"
        ).alias("bin"),
        "_lg",
        "_y",
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.expr("sum(_lg) div count(1)")
            .cast("bigint")
            .alias("mean_logit_micro"),
            F.sum(
                (F.col("_y") == F.lit(int(positive_micro))).cast("int")
            )
            .cast("bigint")
            .alias("n_pos"),
        )
        .select(
            F.col("bin").cast("bigint").alias("bin"),
            "n_docs",
            "mean_logit_micro",
            "n_pos",
            (
                F.col("n_pos").cast("double")
                / F.col("n_docs").cast("double")
            ).alias("frac_pos"),
        )
    )


# --------------------------------------------------------------------------
# Generic LM-score bucketing (the tercile device, pluggable scorer)
# --------------------------------------------------------------------------

def lm_score_buckets(
    scored: DataFrame,
    sample_mod: int = 2,
    id_col: str = "doc_id",
    lang_col: str = "lang",
    score_col: str = "score",
    ntok_col: str = "n_tokens",
    lower_is_better: bool = True,
) -> DataFrame:
    """CCNet head/middle/tail bucketing over an ARBITRARY per-doc
    score table — :func:`ccnet_lm_buckets`' tercile device extracted
    so any scorer plugs in (the r9 consumer feeds it
    :func:`bigram_lm_scores`' avg micro-nat cost — the real
    conditional LM — where ccnet_lm_buckets hard-wires the trigram
    familiarity). Input: one row per doc with ``(id, lang, score,
    n_tokens)``; output: per (lang, bucket) doc count, token mass
    and mean score — bucket ∈ head/middle/tail, 'unsampled' for
    languages whose md5-bit sample held < 2 docs.

    ``lower_is_better=True`` (cost/perplexity semantics): head =
    the LOWEST tercile. False (familiarity semantics): head = the
    highest, exactly ccnet_lm_buckets' orientation.

    Scale shape (inherited from the ccnet device): the per-lang
    ntile(3) window runs on the deterministic md5-bit SAMPLE only
    (rate 1/``sample_mod``; production uses ~1e-4 so the sort is
    sample-scale); cutoffs are a |langs|-row broadcast; assignment
    is one broadcast join + CASE; the close is a (lang, bucket)
    aggregate. The scored input is touched twice (sample + assign)
    — callers hand over a materialized/cheap frame.
    """
    sample = scored.filter(
        F.ascii(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 1)
        )
        % sample_mod
        == 0
    )
    wt = Window.partitionBy(lang_col).orderBy(
        F.asc(score_col), F.asc(id_col)
    )
    cuts = (
        sample.withColumn("_tile", F.ntile(3).over(wt))
        .groupBy(lang_col)
        .agg(
            F.max(
                F.when(F.col("_tile") == 1, F.col(score_col))
            ).alias("_c1"),
            F.max(
                F.when(F.col("_tile") == 2, F.col(score_col))
            ).alias("_c2"),
        )
    )
    top, bottom = (
        ("tail", "head") if lower_is_better else ("head", "tail")
    )
    assigned = scored.join(
        F.broadcast(cuts), lang_col, "left"
    ).select(
        lang_col,
        F.when(F.col("_c2").isNull(), F.lit("unsampled"))
        .when(F.col(score_col) > F.col("_c2"), F.lit(top))
        .when(F.col(score_col) > F.col("_c1"), F.lit("middle"))
        .otherwise(F.lit(bottom))
        .alias("bucket"),
        F.col(ntok_col).alias("_ntok"),
        F.col(score_col).alias("_q"),
    )
    return assigned.groupBy(lang_col, "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("_ntok").cast("bigint").alias("n_tokens"),
        (
            F.sum("_q").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mean_score"),
    )


def langid_segments(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-line language segmentation (r10): split each document on
    newlines, language-ID every line with the marker heuristic
    (:func:`~convert_parquet_to_csv_spark.functions.text.lang_id`),
    and report the per-doc composition — ``(id, n_lines,
    majority_lang, majority_frac, n_langs)``. The mC4/CCNet
    pre-processing shape: multilingual crawls route DOCUMENTS by
    language, but mixed-language pages (boilerplate in one language,
    content in another) need line-granular evidence before the
    routing decision; ``n_langs > 1`` with a low ``majority_frac``
    is the "segment me, don't route me" flag.

    majority_lang ties break to the alphabetically-first language
    (the min-struct argmax device: min over (-count, lang));
    lines with no marker hits count as 'und'. NULL-text docs drop
    (split(NULL) has no lines — the caller's id spine restores them
    if needed).

    Plan shape: one line explode (fan-out = corpus lines), the
    lang_id scoring entirely map-side Column algebra (no UDF, no
    model table), one (id, lang) partial-agg shuffle that collapses
    to ≤ |langs| rows per doc before the doc-keyed close — two
    narrow exchanges, no window, corpus rows never carry more than
    (id, lang).
    """
    from convert_parquet_to_csv_spark.functions.text import lang_id

    lines = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), "\n")).alias("_line"),
    )
    counts = (
        lines.select(id_col, lang_id("_line").alias("_lang"))
        .groupBy(id_col, "_lang")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    return (
        counts.groupBy(id_col)
        .agg(
            F.sum("_c").cast("bigint").alias("n_lines"),
            F.min(
                F.struct((-F.col("_c")).alias("_nc"), F.col("_lang"))
            ).alias("_mx"),
            F.count(F.lit(1)).cast("bigint").alias("n_langs"),
        )
        .select(
            F.col(id_col),
            "n_lines",
            F.col("_mx._lang").alias("majority_lang"),
            (
                (-F.col("_mx._nc")).cast("double")
                / F.col("n_lines").cast("double")
            ).alias("majority_frac"),
            "n_langs",
        )
    )
