"""Measured scaling curve for the corpus-wide flagship operators.

Answers the 100 TB question with measurement instead of argument: run
the two heaviest text pipelines (`minhash_dedup`,
`remove_duplicated_spans`) plus the hashed decontamination screen over
replicated corpora at 500k / 1M / 2M docs and report seconds and the
per-500k-docs normalized rate at each size. A scale-shaped plan shows
a flat-to-gently-rising normalized rate (fixed scheduling overhead
amortizes away); a hidden superlinearity (quadratic candidate growth,
a driver-side bottleneck, an unpartitioned window) shows up as a
rising curve long before it would OOM a real cluster.

The corpora are built by bench.py's `bench.replicate`, which mangles
every token per copy, so copies are not near-duplicates of each other and
duplicate-cluster structure (and therefore candidate volume) stays
linear in the replication factor.

Protocol: bench.py's `noop_runs`, with no untimed run and 2 timed runs
per (kernel, size), kernel after kernel, the cache cleared before every
run; a kernel reports its min. The session is `get_spark()`'s
(`local[$SPARK_GRAFT_CPUS]`, else every core) with one shuffle
partition per core. Output: a Markdown table, then one JSON line, on
stdout. Usage:

    python tools/scale_curve.py [sizes ...]        # default 500000 1000000 2000000
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/scale_curve.py
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import SF_DIR, noop_runs, replicate, sf_keyed_path
from convert_parquet_to_csv_spark.session import get_spark
from convert_parquet_to_csv_spark.sources.io_ops import read_parquet
from convert_parquet_to_csv_spark.operators.dedup import (
    containment_pairs,
    contamination_hit_positions,
    duplicated_span_extents,
    maximal_duplicated_extents,
    minhash_dedup,
    minhash_dedup_incremental,
    remove_duplicated_lines,
    remove_within_doc_repeats,
    shared_extent_contamination,
    shared_extent_contamination_incremental,
    winnow_fingerprints,
)
from convert_parquet_to_csv_spark.functions.text import (
    synth_token_lines,
    synth_token_paragraphs,
)
from convert_parquet_to_csv_spark.operators.chunking import (
    bpe_learn_merges,
    fim_transform,
    unigram_lm_encode,
    wordpiece_encode,
)
from convert_parquet_to_csv_spark.operators.retrieval import (
    bm25_rerank_topk,
    bm25_topk,
)
from convert_parquet_to_csv_spark.operators.curation import (
    bigram_lm_scores,
    ccnet_lm_buckets,
    dsir_importance_weights,
    flag_contaminated,
    flag_contaminated_bloom,
    gopher_repetition_signals,
    gopher_weak_labels,
    linear_text_classifier,
    md5_parity_micro,
    remove_duplicated_spans,
    source_js_divergence,
    train_linear_classifier,
)

from pyspark.sql import functions as F

RUNS = 2


def main() -> None:
    sizes = [int(a) for a in sys.argv[1:]] or [500_000, 1_000_000, 2_000_000]
    spark = get_spark(app_name="cptc-scale-curve")
    spark.conf.set(
        "spark.sql.shuffle.partitions", spark.sparkContext.defaultParallelism
    )
    results: dict[str, dict[int, float]] = {}
    for n in sizes:
        path = sf_keyed_path(f"curve_docs_{n}")
        replicate(spark, "documents", n, path)
        docs = read_parquet(spark, path)
        # A fixed small benchmark side: the decontamination screen's
        # cost must scale with the CORPUS, not the benchmark.
        bench_side = read_parquet(
            spark, os.path.join(SF_DIR, "documents.parquet")
        ).limit(200)
        kernels = {
            "minhash_dedup": lambda d=docs: minhash_dedup(
                d, num_perm=32, bands=8, threshold=0.5
            ),
            "span_dedup_c4": lambda d=docs: remove_duplicated_spans(
                d, n=4, max_docs=2
            ),
            "decontaminate_hashed": lambda d=docs, b=bench_side: (
                flag_contaminated(d, b, n=5, hash_grams=True)
            ),
            # r6 additions: the 9-way gram pass and the hashed-feature
            # scoring join — corpus-side cost only; DSIR's target side
            # is the same fixed 200-doc table as the decontamination
            # benchmark side.
            "gopher_repetition": lambda d=docs: (
                gopher_repetition_signals(d)
            ),
            # r8 (VERDICT r7 item 7): the max_tokens_per_doc knob —
            # the paper-aligned truncating cap that bounds each doc's
            # contribution to the (doc, n, hash) aggregate, offered
            # as the practical mitigation for the measured single-JVM
            # sort-agg tail at 2M fixture docs. Cap chosen at the
            # fixture's ~median doc length so roughly half the corpus
            # truncates.
            "gopher_repetition_cap50": lambda d=docs: (
                gopher_repetition_signals(d, max_tokens_per_doc=50)
            ),
            "dsir_weights": lambda d=docs, b=bench_side: (
                dsir_importance_weights(d, b, hash_fn="xxhash64")
            ),
            # r11 late-session: the FIM example-construction
            # transform — map-only by design; the curve documents
            # that it stays exactly linear (no hidden shuffle).
            "fim_transform": lambda d=docs: fim_transform(d),
            # r7 additions (VERDICT r6 item 6): the remaining heavy
            # r6 kernels. Containment runs with the hot-shingle guard
            # ON (max_bucket=1000) — that IS the scale configuration;
            # unguarded the stop-shingle self-join is the quadratic
            # pathology the guard exists to cut. Bloom's cost must
            # scale with the CORPUS side only (fixed 512 KiB bitset
            # from the same 200-doc benchmark side). persist=False on
            # containment: one-shot timing, no pinned storage.
            "winnow_fingerprints": lambda d=docs: (
                winnow_fingerprints(d, k=5, window=4, hash_fn="xxhash64")
            ),
            "containment_guarded": lambda d=docs: containment_pairs(
                d, k=3, threshold=0.8, max_bucket=1000, persist=False
            ),
            "decontaminate_bloom": lambda d=docs, b=bench_side: (
                flag_contaminated_bloom(d, b, n=5, hash_fn="xxhash64")
            ),
            # r7 addition: ExactSubstr extents — structurally span
            # dedup minus the distinct-doc count (total-count hotness
            # is fully map-side-combinable) plus the islands window
            # (doc-partitioned, doc-scale).
            "span_extents": lambda d=docs: duplicated_span_extents(
                d, k=6, min_count=2
            ),
            # r7 block 2/3: the other corpus-scale new kernels. BPE's
            # corpus cost is ONE word-frequency exchange (rounds are
            # vocab-scale); ccnet is two trigram passes + a sample
            # window. Both should be ~linear in docs.
            "bpe_merges": lambda d=docs: bpe_learn_merges(
                d, rounds=3
            ),
            "ccnet_buckets": lambda d=docs: ccnet_lm_buckets(
                d.withColumn("lang", F.lit("xx"))
                if "lang" not in d.columns
                else d
            ),
            # r8 review fix: within-doc repeat removal, re-measured
            # after the array-native reassembly rewrite (covered
            # positions collapse to ONE array per doc; no corpus-
            # volume word shuffle). Every exchange is doc-keyed, so
            # the expected curve is the flattest in this table.
            "within_doc_repeats": lambda d=docs: (
                remove_within_doc_repeats(d, k=2)
            ),
            # r8 wave 4: cross-document line-level boilerplate
            # removal over synthetic 4-token lines — the SAME
            # synth_token_lines builder the gated query uses (r8
            # review: a hand-copied SQL version had drifted on
            # degenerate docs). The mangled replica keeps
            # duplicate-line volume LINEAR in the corpus — copies
            # never share lines with each other, each copy carries
            # the base corpus's own duplicated lines.
            "line_dedup": lambda d=docs: remove_duplicated_lines(
                d.select(
                    "doc_id",
                    synth_token_lines("text", w=4).alias("text"),
                )
            ),
            # r8 wave 4 (cont.): apply-an-exported-linear-model
            # scoring, PRODUCTION flavor (xxhash64 token-slice
            # features, no gram strings); the md5-stub weight table
            # is built in-kernel exactly as the gated query builds
            # it — an exported real model would be the same 4096-row
            # broadcast.
            "quality_classifier": lambda d=docs, s=spark: (
                linear_text_classifier(
                    d,
                    s.range(4096).select(
                        F.col("id").cast("long").alias("_b"),
                        (
                            F.conv(
                                F.substring(
                                    F.md5(
                                        F.concat(
                                            F.lit("qw_"),
                                            F.col("id").cast("string"),
                                        )
                                    ),
                                    1,
                                    15,
                                ),
                                16,
                                10,
                            ).cast("long")
                            % 1000001
                            - 500000
                        ).alias("weight_micro"),
                    ),
                )
            ),
            # r9: the suffix-window maximal-extents refinement — the
            # heaviest new shape: (k + w_cap)-token slices through
            # ONE gram-keyed exchange + per-gram window sort. Volume
            # is (k+w_cap)x corpus by construction; the question the
            # curve answers is whether the per-gram partition bound
            # keeps it linear in docs (it should: the mangled
            # replicas keep gram-occurrence lists linear).
            "maximal_extents": lambda d=docs: (
                maximal_duplicated_extents(d, k=6, w_cap=18)
            ),
            # r9: unigram-LM encode — ONE corpus exchange (word
            # freq) + vocab-scale piece agg + distinct-word Viterbi
            # projection; expected close to bpe_merges' sub-linear
            # curve (same corpus-touches-once property).
            "unigram_lm": lambda d=docs: unigram_lm_encode(
                d, vocab_multi=64
            ),
            # r9: classifier TRAINING (2 epochs of exact-integer GD;
            # md5-parity pseudo-labels derived in-kernel exactly as
            # the gated query derives them). Expected ~2x the apply
            # curve per epoch: two doc-keyed exchanges per epoch vs
            # apply's one.
            "classifier_train": lambda d=docs: train_linear_classifier(
                d,
                d.select(
                    "doc_id",
                    md5_parity_micro("doc_id").alias("y_micro"),
                ),
                num_buckets=512,
                epochs=2,
                hash_fn="xxhash64",
            ),
            # r9: paragraph-granularity boilerplate dedup — the same
            # kernel as line_dedup at the \n\n+ knob over synthetic
            # 2-line paragraphs; curve should track line_dedup with
            # ~half the occurrence rows.
            "paragraph_dedup": lambda d=docs: remove_duplicated_lines(
                d.select(
                    "doc_id",
                    synth_token_paragraphs(
                        "text", w=4, lines=2
                    ).alias("text"),
                ),
                sep_regex=r"\n{2,}",
            ),
            # r9 wave 2: the bigram LM trains AND scores in one plan
            # — one corpus exchange (per-doc bigram counts) + one
            # model-keyed scoring join; expected near-linear like the
            # classifier pair. WordPiece shares unigram_lm's plan
            # shape (one word-freq exchange, map-side greedy fold).
            # JS divergence's corpus cost is ONE (source, token)
            # count exchange; the pair join is vocab x K^2 —
            # corpus-size-INDEPENDENT past the counts, so the curve
            # should be the flattest here (source column synthesized
            # doc_id % 20, matching the fixture's 20 sources).
            "bigram_lm": lambda d=docs: bigram_lm_scores(d),
            "wordpiece": lambda d=docs: wordpiece_encode(
                d, vocab_multi=64
            ),
            "js_divergence": lambda d=docs: source_js_divergence(
                d.select(
                    F.concat(
                        F.lit("s"),
                        (F.col("doc_id") % 20).cast("string"),
                    ).alias("source"),
                    "text",
                )
            ),
            # r9 wave 3: BM25 against a FIXED 24-query side (the
            # decontamination benchmark-side rule: retrieval cost
            # must scale with the corpus/postings, not the queries);
            # incremental minhash with the standard 1-in-7 batch —
            # candidates bounded by the batch's buckets, so the
            # curve should track minhash_dedup's sublinear shape.
            "bm25_topk": lambda d=docs, s=spark: bm25_topk(
                d,
                read_parquet(
                    s, os.path.join(SF_DIR, "documents.parquet")
                )
                .filter(F.col("doc_id") % 211 == 5)
                .select(
                    F.col("doc_id").alias("query_id"),
                    F.col("text").alias("qtext"),
                ),
            ),
            "minhash_incremental": lambda d=docs: (
                minhash_dedup_incremental(
                    d, F.col("doc_id") % 7 == F.lit(3)
                )
            ),
            # r10: maximal extents at count >= 3 — the generic
            # windowed-c path (lead(c-1) LCP + trailing ROWS max on
            # a TOTAL order). The hot filter tightens to count >= 3,
            # cutting sorted volume further; expected at-or-below
            # the c=2 curve.
            "maximal_extents_c3": lambda d=docs: (
                maximal_duplicated_extents(d, k=6, min_count=3)
            ),
            # r10: hybrid retrieval — BM25's fixed 24-query side,
            # vectors SYNTHESIZED corpus-scale (16-dim hash floats)
            # so the candidate-vs-vector broadcast joins face a
            # vector table that grows with the corpus (the fixture
            # embeddings table is fixture-scale and would leave the
            # re-rank empty on mangled ids). Expected ~bm25_topk +
            # two map-side vector passes.
            "bm25_rerank": lambda d=docs, s=spark: bm25_rerank_topk(
                d,
                read_parquet(
                    s, os.path.join(SF_DIR, "documents.parquet")
                )
                .filter(F.col("doc_id") % 211 == 5)
                .select(
                    F.col("doc_id").alias("query_id"),
                    F.col("text").alias("qtext"),
                ),
                d.select(
                    F.col("doc_id").alias("vec_id"),
                    F.array(
                        *[
                            (
                                F.pmod(
                                    F.xxhash64("doc_id", F.lit(i)),
                                    F.lit(1000),
                                ).cast("float")
                                / F.lit(1000.0)
                            )
                            for i in range(16)
                        ]
                    ).alias("embedding"),
                ),
            ),
            # r10: the weak labeler on its own — the full Gopher
            # deck + label projection, the cost the retrained
            # classifier chain adds over classifier_train's GD.
            "gopher_weak_labels": lambda d=docs: gopher_weak_labels(
                d, min_stopword_hits=1
            ),
            # r10: cross-set ExactSubstr decontamination. The bench
            # side gets the COPY-0 mangling so it intersects exactly
            # the corpus's copy-0 slice (a constant-size overlap as
            # the corpus grows) — the honest test of the operator's
            # scale claim: window volume is bounded by the
            # INTERSECTION footprint, so past the occ scan the curve
            # should flatten toward the per-corpus-token gram-count
            # cost.
            "xset_contamination": lambda d=docs, b=bench_side: (
                shared_extent_contamination(
                    d,
                    b.select(
                        "doc_id",
                        F.regexp_replace(
                            F.col("text"), r"(\S+)", "$1x0"
                        ).alias("text"),
                    ),
                    k=4,
                )
            ),
        }
        # r11: incremental cross-set decontamination. The OLD
        # benchmark version's position table is a persisted artifact
        # in production, so it materializes to parquet UNTIMED here
        # (even benchmark ids); the timed kernel is the steady-state
        # batch: the delta-only window pass (odd ids) + the
        # footprint-scale merge + re-aggregate. Trend it against
        # xset_contamination — both scan the corpus once map-side;
        # the incremental claim is that everything PAST the scan is
        # delta-footprint-bounded.
        bench_mangled = bench_side.select(
            "doc_id",
            F.regexp_replace(F.col("text"), r"(\S+)", "$1x0").alias(
                "text"
            ),
        )
        oldpos_path = f"/tmp/cptc_xset_oldpos_{n}.parquet"
        contamination_hit_positions(
            docs, bench_mangled.filter(F.col("doc_id") % 2 == 0), k=4
        ).write.mode("overwrite").parquet(oldpos_path)
        spark.catalog.clearCache()
        kernels["xset_incremental"] = (
            lambda d=docs, p=oldpos_path, bd=bench_mangled.filter(
                F.col("doc_id") % 2 == 1
            ): shared_extent_contamination_incremental(
                d, bd, read_parquet(spark, p), k=4
            )
        )
        only = os.environ.get("SPARK_GRAFT_CURVE_KERNELS")
        if only:
            wanted = {k.strip() for k in only.split(",") if k.strip()}
            unknown = wanted - set(kernels)
            if unknown:
                raise SystemExit(f"unknown kernels: {sorted(unknown)}")
            kernels = {k: v for k, v in kernels.items() if k in wanted}
        for name, fn in kernels.items():
            # a failed kernel is reported by noop_runs and has no samples
            for runs in noop_runs(spark, {name: fn}, 0, RUNS).values():
                sec = round(min(runs), 3)
                results.setdefault(name, {})[n] = sec
                print(f"  {name} @ {n:>9,} docs: {sec:8.3f} s", file=sys.stderr)

    base = sizes[0]
    lines = [
        "| kernel | "
        + " | ".join(f"{n:,} docs" for n in sizes)
        + " | norm (s per "
        + f"{base//1000}k, largest size)"
        + " | curve |",
        "|---|" + "---|" * (len(sizes) + 2),
    ]
    for name, by_n in results.items():
        if len(by_n) < len(sizes):
            continue  # failed at some size
        largest = sizes[-1]
        norm = by_n[largest] * base / largest
        # superlinearity factor: measured_time(largest) relative to
        # perfect-linear extrapolation from the smallest size.
        factor = by_n[largest] / (by_n[base] * largest / base)
        lines.append(
            "| "
            + name
            + " | "
            + " | ".join(f"{by_n[n]:.2f} s" for n in sizes)
            + f" | {norm:.2f} s | {factor:.2f}x linear |"
        )
    print("\n".join(lines))
    print(
        json.dumps(
            {
                "metric": "scale_curve_sec",
                "sf_dir": SF_DIR,
                "sizes": sizes,
                "repeat": RUNS,
                "results": {
                    k: {str(n): v for n, v in by_n.items()}
                    for k, by_n in results.items()
                },
            }
        )
    )


if __name__ == "__main__":
    main()
