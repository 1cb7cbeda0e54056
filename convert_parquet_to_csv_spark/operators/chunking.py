"""Context-window document chunking — the LLM training-prep operator.

Splits each document's token stream into fixed-size, fixed-stride
(overlapping) chunks: the step between raw curated text and packed
training sequences. Pure built-in expressions — tokenize once,
``sequence`` over chunk starts, ``explode``, ``slice`` — so the row
multiplication happens JVM-side with no Python and the whole thing is
SQL-replayable for the oracle.

Scale shape: output rows ≈ Σ ceil(tokens/stride) — explode fan-out is
bounded by corpus token count over stride, and chunking is
embarrassingly parallel (no shuffle at all until a downstream groupBy).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from convert_parquet_to_csv_spark.functions.text import tokens


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 50,
    stride: int = 40,
) -> DataFrame:
    """(id, chunk_idx, chunk_tokens array, n_chunk_tokens) per chunk.

    Chunks start at 0, stride, 2·stride, …; the last chunk may be
    short; a doc emits at least one chunk iff it has ≥1 token.
    ``stride < size`` gives overlapping context windows (the usual
    training setup), ``stride == size`` gives a disjoint partition.
    """
    if size <= 0 or stride <= 0:
        raise ValueError("size and stride must be positive")
    # Chunk count such that every chunk start lies inside the doc AND
    # no trailing chunk is fully contained in the previous one:
    # min(1 + ceil(max(n-size,0)/stride), ceil(n/stride)). The left
    # term governs the usual stride <= size overlap case; the right
    # term caps starts at < n_tok when stride > size (gapped
    # sampling), which would otherwise emit empty phantom chunks.
    # Tokenize ONCE, then derive _n and _nc from the aliased column
    # in staged selects (r8 review follow-up: repeated tokens()
    # instantiations re-run the regex per reference — CSE does not
    # reach across these expressions; measured 2.41 → 1.45 s on the
    # four-feature gopher shape at 500k docs).
    n_tok = F.col("_n")
    n_chunks = F.least(
        F.lit(1)
        + F.ceil(
            F.greatest(n_tok - size, F.lit(0)) / F.lit(stride)
        ).cast("int"),
        F.ceil(n_tok / F.lit(stride)).cast("int"),
    )
    base = (
        df.select(F.col(id_col), tokens(text_col).alias("_toks"))
        .select(F.col(id_col), "_toks", F.size("_toks").alias("_n"))
        .select(F.col(id_col), "_toks", "_n", n_chunks.alias("_nc"))
        .filter(F.col("_n") > 0)
    )
    idx = F.explode(F.sequence(F.lit(0), F.col("_nc") - 1)).alias("chunk_idx")
    with_idx = base.select(id_col, "_toks", "_n", idx)
    chunk = F.slice(
        F.col("_toks"), F.col("chunk_idx") * stride + 1, size
    )
    return with_idx.select(
        F.col(id_col),
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        chunk.alias("chunk_tokens"),
        F.size(chunk).alias("n_chunk_tokens"),
    )


def pack_sequences(
    chunks: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    idx_col: str = "chunk_idx",
    count_col: str = "n_chunk_tokens",
    part_col: str | None = None,
    bin_col: str = "bin_id",
) -> DataFrame:
    """Assign chunks to fixed-token-budget bins (sequence packing).

    Contiguous-fill packing: chunks in (id, idx) order fill a bin
    until the budget would roll over; the bin id is
    floor(exclusive-running-sum / budget). Deterministic, one window
    pass, no driver loop — and unlike greedy best-fit it is exactly
    SQL-replayable. A chunk is never split; a bin may exceed the
    budget by at most one chunk's tokens (first-fit-with-overflow, the
    standard trade when items must stay whole).

    ``part_col``: optional coarse partition (e.g. a doc-hash bucket)
    so the running sum shuffles per partition instead of through one
    global window — required at scale; bins are then per-partition.
    """
    parts = [part_col] if part_col else []
    w = (
        Window.partitionBy(*parts)
        .orderBy(id_col, idx_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(F.col(count_col)).over(w) - F.col(count_col)
    return chunks.withColumn(
        bin_col, F.floor(cum / F.lit(budget)).cast("long")
    )


def concat_chunk_pack(
    docs: DataFrame,
    ctx: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_bins: int = 4096,
    counts_df: DataFrame | None = None,
) -> DataFrame:
    """GPT-style concat-and-chunk packing report: concatenate every
    document's token stream (BPE-ish counts + 1 EOS per doc) in
    ``id_col`` order, cut the stream every ``ctx`` tokens, and report
    per training chunk — (chunk_id, n_docs, n_docs_start, n_tokens):
    how many documents touch the chunk, how many start in it, and its
    token fill (= ctx everywhere but the final partial chunk).

    This is the packing flavor that wastes zero padding but FRAGMENTS
    documents across context windows; n_docs − n_docs_start per chunk
    is exactly the boundary-crossing count a packing-quality review
    reads (cf. pack_sequences for the whole-doc first-fit flavor —
    together they are the two standard trades).

    Tokenizer-aware: counts use ``token_count_bpe`` (word runs +
    punctuation marks — the repo's cheap LLM-token proxy), not
    whitespace words. ``counts_df`` (VERDICT r7 item 5) rebases the
    packing on an EXTERNAL per-doc count table instead — one
    ``(id_col, n_bpe_tokens)`` row per doc, e.g. the output of
    :func:`bpe_apply_merges`, so the chunk layout reflects the
    tokenizer that was actually trained; +1 EOS per doc is still
    added here. Default (None) keeps the regex proxy — the
    pre-existing gated queries are unchanged by construction.

    Scale shape: the global running offset is semantically a
    corpus-wide prefix sum, but the plan never runs a data-scale
    single-partition window — ids are range-binned into ``num_bins``
    buckets (monotone id→bin, so bin order == concat order), bin token
    totals take ONE cumulative window over ≤num_bins rows (dimension
    scale), and the within-bin refinement window is PARTITIONED by
    bin: the select_to_token_budget two-level device applied to the
    packing offset. Chunk-range explode fan-out is Σ(nt/ctx + 1) ≈
    corpus tokens / ctx. Binning affects only execution shape — the
    output equals the naive global-cumsum answer the oracle replays.
    """
    from convert_parquet_to_csv_spark.functions.text import (
        token_count_bpe,
    )

    if counts_df is not None:
        d = counts_df.select(
            F.col(id_col),
            (F.col("n_bpe_tokens") + 1).cast("bigint").alias("_nt"),
        )
    else:
        d = docs.select(
            F.col(id_col), (token_count_bpe(text_col) + 1).alias("_nt")
        )
    stats = d.agg(
        F.min(id_col).alias("_lo"), F.max(id_col).alias("_hi")
    )
    binned = d.crossJoin(F.broadcast(stats)).withColumn(
        "_bin",
        F.expr(
            f"(({id_col} - _lo) * {num_bins}) div (_hi - _lo + 1)"
        ),
    )
    per_bin = binned.groupBy("_bin").agg(F.sum("_nt").alias("_bt"))
    w_bins = Window.orderBy(F.asc("_bin")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    # tokens before this bin (≤num_bins rows — dimension-scale
    # single-partition window, allowlisted)
    starts = per_bin.withColumn(
        "_carry", F.coalesce(F.sum("_bt").over(w_bins), F.lit(0))
    ).select("_bin", "_carry")
    w_in = (
        Window.partitionBy("_bin")
        .orderBy(F.asc(id_col))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    placed = (
        binned.join(F.broadcast(starts), "_bin")
        .withColumn(
            "_start",
            F.col("_carry") + F.sum("_nt").over(w_in) - F.col("_nt"),
        )
        .select(id_col, "_nt", "_start")
    )
    spans = placed.select(
        id_col,
        "_nt",
        "_start",
        F.explode(
            F.sequence(
                F.expr(f"_start div {ctx}"),
                F.expr(f"(_start + _nt - 1) div {ctx}"),
            )
        ).alias("chunk_id"),
    )
    return spans.groupBy("chunk_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(
            F.when(F.expr(f"_start div {ctx}") == F.col("chunk_id"), 1)
            .otherwise(0)
        ).cast("bigint").alias("n_docs_start"),
        F.sum(
            F.least(
                (F.col("chunk_id") + 1) * ctx, F.col("_start") + F.col("_nt")
            )
            - F.greatest(F.col("chunk_id") * ctx, F.col("_start"))
        ).cast("bigint").alias("n_tokens"),
    )


# the exact tokenwise greedy LTR merge of one (l, r) pair over a
# symbol array, as a pure `aggregate` fold: greedy is a left fold by
# definition, and ONE pass is exact because a merged symbol (l || r,
# strictly longer than l) can never itself equal l. Shared by the
# learner and the encoder so train and apply are the same device by
# construction (built lazily: F.expr needs an active session).
# Expects columns `_sy` (array<string>) and the 1-row broadcast
# merge columns `l`, `r` in scope.
def _merge_fold() -> "F.Column":
    return F.expr(
        "aggregate(_sy, cast(array() as array<string>), "
        "(acc, x) -> CASE WHEN size(acc) > 0 "
        "AND element_at(acc, -1) = l AND x = r "
        "THEN concat(slice(acc, 1, size(acc) - 1), "
        "array(concat(l, r))) "
        "ELSE concat(acc, array(x)) END)"
    )


def bpe_learn_merges(
    docs: DataFrame,
    rounds: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Learn the first ``rounds`` BPE merges over a corpus (Sennrich,
    Haddow, Birch 2016 §3.2): words decompose to character symbols;
    each round counts adjacent symbol pairs weighted by word
    frequency, picks the heaviest (ties → lexicographic l, then r)
    and merges its non-overlapping occurrences left-to-right in
    every word — the EXACT tokenwise greedy rule, including l == r
    runs ('aaaaa' + merge (a,a) → [aa, aa, a], never [aa, a, aa]; a
    padded-string replace device was measured WRONG here and
    rejected, see tests). Output: one row per learned merge —
    (rank, l, r, pair_weight).

    Scale shape: the corpus contributes ONE exchange (the word-
    frequency groupBy — everything after is VOCAB-scale, which is
    what makes BPE training feasible at 100 TB: the corpus size
    bounds nothing downstream). Each round is one pair-explode +
    partial-agg over the vocab, a 1-row TakeOrdered argmax, a 1-row
    broadcast close applying the merge, and a localCheckpoint to
    keep the iterative plan flat (the connected-components
    convention). The merge itself is an ``aggregate`` fold over the
    symbol array — greedy is a left fold by definition, and the
    fold is sound because a merged symbol can never equal ``l``
    (strictly longer), so one pass is exact. No UDFs, no
    driver-side loops over data — the Python ``for`` ranges over
    ROUNDS, not rows.

    Measured scale curve (tools/scale_curve.py, min-of-2, sf0.1-
    derived mangled replicas, local[32]): 500k/1M/2M docs =
    2.13 / 2.72 / 3.98 s — 0.47× linear, i.e. SUB-linear: the one
    corpus exchange amortizes and the per-round work tracks the
    (bounded) vocabulary, which is the property that makes BPE
    training feasible at 100 TB — measured, not asserted."""
    from convert_parquet_to_csv_spark.functions.text import tokens

    words = docs.select(F.explode(tokens(text_col)).alias("_w"))
    vocab = (
        words.groupBy("_w")
        .agg(F.count(F.lit(1)).alias("_f"))
        .select(F.split("_w", "").alias("_sy"), "_f")
        .localCheckpoint()
    )
    merge_fold = _merge_fold()
    merges = []
    for rnd in range(1, rounds + 1):
        sym = vocab.filter(F.size("_sy") >= 2)
        pairs = sym.select(
            "_f",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(_sy) - 2), i -> "
                    "struct(element_at(_sy, i + 1) AS l, "
                    "element_at(_sy, i + 2) AS r))"
                )
            ).alias("_p"),
        ).select("_f", "_p.l", "_p.r")
        best = (
            pairs.groupBy("l", "r")
            .agg(F.sum("_f").cast("bigint").alias("pair_weight"))
            .orderBy(F.desc("pair_weight"), F.asc("l"), F.asc("r"))
            .limit(1)
        )
        merges.append(
            best.select(
                F.lit(rnd).alias("rank"), "l", "r", "pair_weight"
            )
        )
        vocab = (
            vocab.crossJoin(F.broadcast(best.select("l", "r")))
            .select(merge_fold.alias("_sy"), "_f")
            .localCheckpoint()
        )
    out = merges[0]
    for mdf in merges[1:]:
        out = out.unionByName(mdf)
    return out


def bpe_apply_merges(
    docs: DataFrame,
    merges: DataFrame,
    rounds: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Encode a corpus with a LEARNED merge table (the apply half of
    :func:`bpe_learn_merges` — VERDICT r7 item 5: the engine learned
    merges but kept counting tokens with the regex proxy; this closes
    the loop so packing/budget operators can consume counts from the
    tokenizer that was actually trained). Output: one row per input
    document — ``(id, n_bpe_tokens)``, the symbol count after all
    ``rounds`` merges are applied greedily left-to-right in rank
    order (exactly the tokenwise rule the learner used, via the
    shared :func:`_merge_fold` fold, so train and apply can never
    drift apart). Docs with no tokens encode to 0.

    ``merges`` must hold exactly one ``(rank, l, r)`` row per rank in
    ``1..rounds`` (what :func:`bpe_learn_merges` emits — an absent
    rank would annihilate the vocabulary through the 1-row broadcast
    crossJoin, same contract as the learner's own per-round close).

    Scale shape — the BPE-encoding trick that makes apply as cheap
    as train: encoding is WORD-LOCAL, so the corpus is never folded
    directly. One exchange collapses the corpus to per-(doc, word)
    counts; the DISTINCT word vocabulary (bounded, corpus-size-
    independent) runs the ``rounds`` merge folds with a
    localCheckpoint per round (vocab-scale, the learner's own
    device); one join maps word → encoded length back onto the
    (doc, word) table (AQE broadcasts it when the vocab is small);
    one groupBy(id) sums. Corpus-scale work: exactly two exchanges,
    independent of ``rounds``."""
    from convert_parquet_to_csv_spark.functions.text import tokens

    occ = (
        docs.select(F.col(id_col), F.explode(tokens(text_col)).alias("_w"))
        .groupBy(id_col, "_w")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    vocab = (
        occ.select("_w")
        .distinct()
        .select("_w", F.split("_w", "").alias("_sy"))
        .localCheckpoint()
    )
    for rnd in range(1, rounds + 1):
        step = merges.filter(F.col("rank") == rnd).select("l", "r")
        vocab = (
            vocab.crossJoin(F.broadcast(step))
            .select("_w", _merge_fold().alias("_sy"))
            .localCheckpoint()
        )
    enc_len = vocab.select("_w", F.size("_sy").alias("_len"))
    summed = (
        occ.join(enc_len, "_w")
        .groupBy(id_col)
        .agg(F.sum(F.col("_c") * F.col("_len")).alias("_n"))
    )
    return docs.select(id_col).join(summed, id_col, "left").select(
        id_col,
        F.coalesce(F.col("_n"), F.lit(0)).cast("bigint").alias(
            "n_bpe_tokens"
        ),
    )


def bpe_compression_curve(
    docs: DataFrame,
    rounds: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Corpus compression per learned BPE merge — the tokenizer-
    training diagnostic: one row per rank ``0..rounds`` with the
    TOTAL corpus symbol count after that many merges (rank 0 =
    character count of all word occurrences). The marginal drop at
    rank i is the number of CHOSEN merge occurrences — ≤ that
    merge's pair_weight, strictly less on overlapping ``l == r``
    runs (pair COUNTING is overlapping: 'aaaaa' holds 4 (a,a)
    pairs; greedy MERGING is not: only 2 collapse) — so the curve
    is the honest compression readout the weights alone overstate.

    Same scale shape as the learner (it IS the learner with a
    vocab-scale Σ f·|symbols| aggregate snapshotted per round): ONE
    corpus exchange, then vocabulary-scale rounds."""
    from convert_parquet_to_csv_spark.functions.text import tokens

    words = docs.select(F.explode(tokens(text_col)).alias("_w"))
    vocab = (
        words.groupBy("_w")
        .agg(F.count(F.lit(1)).alias("_f"))
        .select(F.split("_w", "").alias("_sy"), "_f")
        .localCheckpoint()
    )

    def _snapshot(v: DataFrame, rank: int) -> DataFrame:
        return v.agg(
            F.lit(rank).cast("bigint").alias("rank"),
            F.coalesce(
                F.sum(F.col("_f") * F.size("_sy")), F.lit(0)
            ).cast("bigint").alias("corpus_tokens"),
        )

    snaps = [_snapshot(vocab, 0)]
    for rnd in range(1, rounds + 1):
        sym = vocab.filter(F.size("_sy") >= 2)
        pairs = sym.select(
            "_f",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(_sy) - 2), i -> "
                    "struct(element_at(_sy, i + 1) AS l, "
                    "element_at(_sy, i + 2) AS r))"
                )
            ).alias("_p"),
        ).select("_f", "_p.l", "_p.r")
        best = (
            pairs.groupBy("l", "r")
            .agg(F.sum("_f").cast("bigint").alias("pair_weight"))
            .orderBy(F.desc("pair_weight"), F.asc("l"), F.asc("r"))
            .limit(1)
        )
        vocab = (
            vocab.crossJoin(F.broadcast(best.select("l", "r")))
            .select(_merge_fold().alias("_sy"), "_f")
            .localCheckpoint()
        )
        snaps.append(_snapshot(vocab, rnd))
    out = snaps[0]
    for s in snaps[1:]:
        out = out.unionByName(s)
    return out


# --------------------------------------------------------------------------
# Unigram-LM tokenizer (Kudo 2018, SentencePiece's unigram model) —
# the second tokenizer family beside BPE (VERDICT r8 item 6)
# --------------------------------------------------------------------------

def unigram_lm_encode(
    docs: DataFrame,
    vocab_multi: int = 256,
    max_piece_len: int = 4,
    max_word_len: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Unigram-LM (SentencePiece-style) encoding: seed a piece
    vocabulary from corpus substring counts, quantize piece
    log-probabilities to integer micro-nats, and Viterbi-segment
    every word — per doc ``(id, n_words, n_pieces,
    total_cost_micro, pieces_per_word)``. Beside
    :func:`bpe_learn_merges`/:func:`bpe_apply_merges` this gives the
    engine both major subword families; the packing/budget/fertility
    consumers already take pluggable counts (Kudo 2018 §3; the
    "one EM round" framing: these seed probabilities are exactly
    EM's initializer, and a re-estimation round would recount pieces
    from these segmentations through the same plan shape).

    Model (deterministic, cross-engine):

    - words = whitespace tokens CLIPPED to ``max_word_len`` chars
      (the DP is O(len·max_piece_len) per distinct word; the clip
      bounds it — the BPE family's long-word pathology knob,
      documented divergence from unclipped SentencePiece);
    - candidate pieces = every substring of length ≤
      ``max_piece_len`` of every distinct clipped word, mass =
      Σ word-occurrence counts; vocabulary = ALL single chars seen
      (coverage guarantee: every word stays segmentable) ∪ the top
      ``vocab_multi`` longer pieces by (mass DESC, piece ASC);
    - piece cost = round(1e6 · ln(M / mass)) micro-nats, M = total
      vocabulary mass — the DSIR quantization device: ONE ln per
      piece on a dimension-scale table, then every corpus-scale
      number is an exact integer;
    - Viterbi: per distinct word, a left fold over character
      positions minimizing the COMBINED integer ``cost·1024 +
      n_pieces`` (1024 > max_word_len, so min is lexicographic:
      cheapest segmentation, ties → fewest pieces — deterministic
      with no struct comparison); unseen pieces cost a 1e8 penalty
      (unreachable for in-corpus text: single chars are always in
      vocab).

    Plan shape: ONE corpus exchange (word-frequency groupBy — the
    BPE-training property: everything after is bounded by the
    VOCABULARY, not the corpus), a substring explode + groupBy at
    vocab scale, a 1-row cost MAP built engine-side
    (map_from_entries over collect_list — no driver collect) and
    broadcast into a map-side DP PROJECTION over distinct words
    (aggregate fold, all built-ins, no UDF), one word-keyed join
    back to occurrences, one doc-keyed rollup, and an id-spine left
    join so token-less docs keep a zero row. Measured scale curve
    (tools/scale_curve.py, mangled sf0.1 replicas, min-of-2,
    local[32]): 6.19 / 11.90 / 19.03 s at 500k/1M/2M docs —
    0.77×-linear (sub-linear); the occ persist below bought 1.8× at
    500k (11.2 → 6.2 s). Heaviest skew risk is
    the hot-word join back (Zipf head) — one row per distinct word
    on the build side, the AQE skew-join case."""
    from convert_parquet_to_csv_spark.functions.text import tokens

    occ = docs.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("_w0")
    ).select(
        id_col, F.substring("_w0", 1, max_word_len).alias("_w")
    )
    # triple-referenced: wfreq aggregates it (feeding the vocab
    # localCheckpoint AND the dp projection) and the enc join
    # re-reads it — without the cache the corpus tokenize+explode
    # runs three times (review r9; the synth_token_lines 2.2×
    # retokenize lesson). The caller releases it via clearCache().
    occ = occ.persist()
    wfreq = occ.groupBy("_w").agg(F.count(F.lit(1)).alias("_wc"))
    # vocab-scale: candidate substrings with corpus mass
    pc = (
        wfreq.select(
            "_w",
            "_wc",
            F.explode(F.sequence(F.lit(1), F.length("_w"))).alias("_i"),
        )
        .select(
            "_wc",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.least(
                        F.lit(max_piece_len),
                        F.length("_w") - F.col("_i") + 1,
                    ),
                )
            ).alias("_p"),
            F.expr("substring(_w, _i, _p)").alias("piece"),
        )
        .groupBy("piece")
        .agg(F.sum("_wc").cast("bigint").alias("_mass"))
    )
    singles = pc.filter(F.length("piece") == 1)
    multis = (
        pc.filter(F.length("piece") > 1)
        .orderBy(F.desc("_mass"), F.asc("piece"))
        .limit(vocab_multi)
    )
    # eager + bounded (charset + vocab_multi rows): referenced by the
    # total-mass aggregate AND the cost map — the pq_train device.
    vocab = singles.unionByName(multis).localCheckpoint()
    m_tot = vocab.agg(F.sum("_mass").alias("_m"))
    costed = vocab.crossJoin(F.broadcast(m_tot)).select(
        "piece",
        F.round(
            F.log(
                F.col("_m").cast("double") / F.col("_mass").cast("double")
            )
            * 1e6
        )
        .cast("long")
        .alias("_cost"),
    )
    cmap = costed.agg(
        F.map_from_entries(
            F.collect_list(F.struct("piece", "_cost"))
        ).alias("_cm")
    )
    dp = (
        wfreq.select("_w")
        .crossJoin(F.broadcast(cmap))
        .select(
            "_w",
            F.expr(
                f"""element_at(
  aggregate(
    sequence(1, length(_w)),
    array(0L),
    (acc, i) -> array_append(acc, array_min(transform(
      sequence(1, least({int(max_piece_len)}, i)),
      p -> element_at(acc, i - p + 1)
           + coalesce(
               try_element_at(_cm, substring(_w, i - p + 1, p)),
               100000000L
             ) * 1024L + 1L
    )))
  ), -1)"""
            ).alias("_comb"),
        )
    )
    enc = (
        occ.join(dp, "_w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum(F.expr("_comb % 1024")).cast("bigint").alias(
                "n_pieces"
            ),
            F.sum(F.expr("_comb div 1024")).cast("bigint").alias(
                "total_cost_micro"
            ),
        )
        .withColumnRenamed(id_col, "_eid")
    )
    spine = docs.select(id_col).distinct()
    return spine.join(
        enc, F.col(id_col).eqNullSafe(F.col("_eid")), "left"
    ).select(
        F.col(id_col),
        F.coalesce("n_words", F.lit(0)).cast("bigint").alias("n_words"),
        F.coalesce("n_pieces", F.lit(0)).cast("bigint").alias(
            "n_pieces"
        ),
        F.coalesce("total_cost_micro", F.lit(0)).cast("bigint").alias(
            "total_cost_micro"
        ),
        F.when(
            F.coalesce("n_words", F.lit(0)) > 0,
            F.col("n_pieces").cast("double")
            / F.col("n_words").cast("double"),
        ).alias("pieces_per_word"),
    )


def wordpiece_encode(
    docs: DataFrame,
    vocab_multi: int = 256,
    max_piece_len: int = 4,
    max_word_len: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """WordPiece (BERT-style) corpus encoding — greedy
    longest-match-first segmentation with POSITION-AWARE pieces
    (word-initial vs '##'-continuation are distinct vocabulary
    entries; Wu et al. 2016 §4.1, Devlin et al. 2019) — per doc
    ``(id, n_words, n_pieces, pieces_per_word)``. The third subword
    family beside :func:`bpe_learn_merges` (merge-rank greedy) and
    :func:`unigram_lm_encode` (global-cost Viterbi): same corpus,
    same clip knobs, directly comparable fertility — and a
    measurably DIFFERENT segmentation (greedy-longest is not
    cost-optimal, the unit test pins a case where they disagree).

    Model (deterministic, cross-engine):

    - words = whitespace tokens of the LOWERCASED text, clipped to
      ``max_word_len`` chars (the ULM clip knob);
    - candidate pieces = every (substring ≤ ``max_piece_len``,
      is-continuation) PAIR enumerated from distinct clipped words,
      mass = Σ word-occurrence counts — keyed as ``'^'+piece`` /
      ``'#'+piece`` (flavor folded into the string key so ONE map
      serves the matcher);
    - vocabulary = ALL single-char pairs seen (coverage: encode
      corpus == train corpus, so every position always has a
      length-1 match — no UNK branch) ∪ the top ``vocab_multi``
      longer pairs by (mass DESC, key ASC);
    - encode: at position i take the LONGEST p with key(i, p) in
      vocabulary, emit one piece, jump p — a left fold over at most
      ``len(word)`` steps on a combined integer ``pos·1024 +
      n_pieces`` (1024 > max_word_len: lexicographic packing, the
      ULM device).

    Plan shape: identical to unigram_lm_encode by construction — ONE
    corpus exchange (word frequencies), substring enumeration +
    ranking at VOCAB scale, a 1-row broadcast piece map
    (map_from_entries over collect_list, no driver collect), the
    greedy fold as a map-side projection over DISTINCT words, one
    word-keyed join back (Zipf-head skew → AQE skew-join), one
    doc-keyed rollup, id-spine left join for token-less docs.

    Measured scale curve (tools/scale_curve.py, mangled sf0.1
    replicas, min-of-2, local[32]): 8.9 / 11.6 / 20.7 s at
    500k/1M/2M docs — 0.58×-linear, tracking unigram_lm_encode's
    shape as the shared plan structure predicts.
    """
    occ = docs.select(
        F.col(id_col),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("_w0"),
    ).select(id_col, F.substring("_w0", 1, max_word_len).alias("_w"))
    # double-referenced (wfreq build + enc join back): same persist
    # contract as unigram_lm_encode — caller releases via clearCache.
    occ = occ.persist()
    wfreq = occ.groupBy("_w").agg(F.count(F.lit(1)).alias("_wc"))
    pc = (
        wfreq.select(
            "_w",
            "_wc",
            F.explode(F.sequence(F.lit(1), F.length("_w"))).alias(
                "_i"
            ),
        )
        .select(
            "_wc",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.least(
                        F.lit(max_piece_len),
                        F.length("_w") - F.col("_i") + 1,
                    ),
                )
            ).alias("_p"),
            F.expr(
                "concat(if(_i = 1, '^', '#'), substring(_w, _i, _p))"
            ).alias("vkey"),
        )
        .groupBy("vkey")
        .agg(F.sum("_wc").cast("bigint").alias("_mass"))
    )
    singles = pc.filter(F.length("vkey") == 2)
    multis = (
        pc.filter(F.length("vkey") > 2)
        .orderBy(F.desc("_mass"), F.asc("vkey"))
        .limit(vocab_multi)
    )
    vocab = singles.unionByName(multis)
    vmap = vocab.agg(
        F.map_from_entries(
            F.collect_list(F.struct("vkey", F.lit(True).alias("_x")))
        ).alias("_vm")
    )
    # best (longest) matching piece length per start position, then
    # the greedy jump fold — both pure map-side projections.
    dp = (
        wfreq.select("_w")
        .crossJoin(F.broadcast(vmap))
        .select(
            "_w",
            F.expr(
                f"""transform(sequence(1, length(_w)), i ->
  array_max(transform(
    sequence(1, least({int(max_piece_len)}, length(_w) - i + 1)),
    p -> if(map_contains_key(
            _vm, concat(if(i = 1, '^', '#'), substring(_w, i, p))),
          p, -1)
  )))"""
            ).alias("_bp"),
        )
        .select(
            "_w",
            F.expr(
                """aggregate(
  sequence(1, length(_w)),
  1024L,
  (acc, x) -> if(acc div 1024L <= length(_w),
    (acc div 1024L
     + element_at(_bp, cast(acc div 1024L as int))) * 1024L
      + acc % 1024L + 1L,
    acc)) % 1024L"""
            ).alias("_np"),
        )
    )
    enc = (
        occ.join(dp, "_w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("_np").cast("bigint").alias("n_pieces"),
        )
        .withColumnRenamed(id_col, "_eid")
    )
    spine = docs.select(id_col).distinct()
    return spine.join(
        enc, F.col(id_col).eqNullSafe(F.col("_eid")), "left"
    ).select(
        F.col(id_col),
        F.coalesce("n_words", F.lit(0)).cast("bigint").alias(
            "n_words"
        ),
        F.coalesce("n_pieces", F.lit(0)).cast("bigint").alias(
            "n_pieces"
        ),
        F.when(
            F.coalesce("n_words", F.lit(0)) > 0,
            F.col("n_pieces").cast("double")
            / F.col("n_words").cast("double"),
        ).alias("pieces_per_word"),
    )


def fim_transform(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    rate_den: int = 2,
    min_tokens: int = 3,
    pre_tag: str = "<PRE>",
    suf_tag: str = "<SUF>",
    mid_tag: str = "<MID>",
) -> DataFrame:
    """Fill-in-the-middle (FIM) training-example construction — the
    infilling-objective transform of Bavarian et al. 2022 ("Efficient
    Training of Language Models to Fill in the Middle"), the standard
    prep step for code models. A NEW example-construction family
    beside packing (pack_* lay out unchanged token streams; this
    REWRITES each selected document into the PSM rendering
    ``<PRE> prefix <SUF> suffix <MID> middle`` so the model learns to
    infill), absent from the reference (its string surface is
    filename stem ops, utils.py:37-44).

    Determinism contract (the house md5 RNG, one draw per decision):
    a doc is selected iff ``md5_long('fim-sel:'||id) % rate_den == 0``
    and it has ≥ ``min_tokens`` whitespace tokens (the paper applies
    FIM to a fixed fraction of documents — ``rate_den=2`` ≈ the 50%
    rate); split points draw TWO INDEPENDENT uniform positions,
    ``a = md5_long('fim-i:'||id) % (n+1)`` and
    ``b = md5_long('fim-j:'||id) % (n+1)``, and sort them —
    ``(i, j) = (min(a,b), max(a,b))`` — Bavarian et al.'s
    sort-two-uniform split distribution (P(i,j) = 2/(n+1)² for
    i < j, 1/(n+1)² for i = j; ADVICE r11 replaced the first cut's
    i-then-j|i conditional draw, whose middle-length distribution
    was skewed toward long middles at small i). 0 ≤ i ≤ j ≤ n;
    prefix/middle/suffix may each be empty, exactly as the paper's
    character-level splits allow.
    Non-selected docs pass through as ``mode='plain'`` with the
    whitespace-normalized token join, NULL split points.

    Everything is one projection of built-in expressions — tokenize,
    two md5 draws, three ``slice``s, array concat + join — zero
    shuffle, zero Python, embarrassingly parallel: the 100 TB shape
    is a map-only stage whatever the cluster size. Measured curve
    (tools/scale_curve.py, mangled sf0.1 replicas, min-of-2,
    local[32]): 1.55 / 2.48 / 5.35 s at 500k/1M/2M docs —
    0.86×-linear, the flat map-only signature. The token array
    binds ONCE via the single-element ``transform(array(...))`` trick
    (synth_token_lines precedent: conditional branches block
    common-subexpression elimination, and this expression references
    the array eleven times).

    Output: (id, n_tokens, mode, i_split, j_split, fim_text) — every
    column replayable in ANSI SQL (list_slice / array_to_string /
    the md5_long_sql rendering) for the DuckDB oracle.
    """
    if rate_den < 1:
        raise ValueError("rate_den must be >= 1")
    from convert_parquet_to_csv_spark.functions.text import (
        md5_long,
        tokens,
    )

    idc = F.col(id_col)
    sel_hash = md5_long(idc, salt="fim-sel:") % rate_den == 0
    u_i = md5_long(idc, salt="fim-i:")
    u_j = md5_long(idc, salt="fim-j:")

    def _fields(tk: Column) -> Column:
        n = F.size(tk)
        sel = sel_hash & (n >= min_tokens)
        a = u_i % (n + 1)
        b = u_j % (n + 1)
        i = F.least(a, b)
        j = F.greatest(a, b)
        psm = F.concat(
            F.array(F.lit(pre_tag)),
            F.slice(tk, F.lit(1), i),
            F.array(F.lit(suf_tag)),
            F.slice(tk, j + 1, n - j),
            F.array(F.lit(mid_tag)),
            F.slice(tk, i + 1, j - i),
        )
        return F.struct(
            n.cast("long").alias("n_tokens"),
            F.when(sel, F.lit("psm"))
            .otherwise(F.lit("plain"))
            .alias("mode"),
            F.when(sel, i).cast("long").alias("i_split"),
            F.when(sel, j).cast("long").alias("j_split"),
            F.when(sel, F.array_join(psm, " "))
            .otherwise(F.array_join(tk, " "))
            .alias("fim_text"),
        )

    bound = F.transform(F.array(tokens(text_col)), _fields)[0]
    return df.select(
        idc,
        bound["n_tokens"].alias("n_tokens"),
        bound["mode"].alias("mode"),
        bound["i_split"].alias("i_split"),
        bound["j_split"].alias("j_split"),
        bound["fim_text"].alias("fim_text"),
    )
