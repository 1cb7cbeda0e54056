"""Deduplication operators for large-scale document corpora.

Near-dup families (BASELINE.json north-star; none exist in the
reference, whose only merge-shaped op is union_by_name, utils.py:104):

- **exact**: content-hash groupBy — one shuffle on the fingerprint.
- **n-gram Jaccard**: exact pairwise set similarity via explode +
  shingle-join — the verification primitive the approximate methods
  reuse; fully SQL-expressible (oracle-checked).
- **MinHash + LSH**: shingle→minhash signature→band-bucket join —
  candidate generation with collision probability ≈ 1-(1-j^r)^b, then
  exact Jaccard verification of candidates only. The 100 TB path:
  cost is bands×docs rows shuffled, never docs².
- **SimHash**: 64-bit sign-of-weighted-bit-sums signature; candidates
  via 16-bit chunk equality (pigeonhole: hamming ≤ 3 ⇒ some chunk of
  4 equal), verified by ``bit_count(xor) <= max_hamming``.
- **containment** (:func:`containment_pairs`): asymmetric
  |A∩B|/|A| — the excerpt/quote detector symmetric Jaccard misses.
- **winnowing** (:func:`winnow_fingerprints`): MOSS-style local
  fingerprints with a deterministic partial-overlap guarantee —
  candidates for LOCAL similarity where MinHash's global signature
  dilutes away.
- plus edit-distance fuzzy blocking (:func:`fuzzy_title_pairs`).

Everything is built-in DataFrame expressions — xxhash64 for hash
families, bitwise ops for SimHash — zero Python in the row path.

Skew note (at scale): a degenerate shingle/band shared by millions of
docs creates a hot bucket. ``max_bucket`` drops buckets over the cap
before any per-bucket state is built (:func:`_drop_hot_buckets`).

The LSH builders (MinHash, SimHash and their bucket helpers) write
their wide expression lists as SQL text: each ``pyspark.sql.functions``
call is a py4j round trip to the driver JVM, and text is parsed there
in one call. Column names reach that text through :func:`_q`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from convert_parquet_to_csv_spark.functions.text import (
    doc_fingerprint,
    shingles,
    tokens,
)


def _q(name: str) -> str:
    """``name`` as a backquoted SQL identifier (inner backquotes doubled),
    so any column name can be spliced into SQL expression text."""
    return "`" + name.replace("`", "``") + "`"


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------

def exact_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    fingerprint_col: Column | None = None,
) -> DataFrame:
    """Keep the lowest-id row per content fingerprint.

    ``row_number`` over (fingerprint, id) — one hash shuffle on the
    fingerprint; deterministic winner so reruns and the SQL oracle
    agree (min-id is the conventional keep rule).
    """
    fp = fingerprint_col if fingerprint_col is not None else doc_fingerprint(text_col)
    w = Window.partitionBy("_fp").orderBy(id_col)
    return (
        df.withColumn("_fp", fp)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_fp", "_rn")
    )


# --------------------------------------------------------------------------
# exact pairwise Jaccard over shingle sets (explode + join)
# --------------------------------------------------------------------------

def _shingle_table(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(id, shingle) distinct — the exploded set representation. At
    scale this is the layout you want: set ops become joins/groupBys
    instead of per-row array juggling.

    No ``.distinct()`` here: :func:`shingles` already applies
    ``array_distinct`` per doc, and per-doc distinct == globally
    distinct (id, shingle) pairs — a distinct() would add a full
    shuffle of the exploded table (100M+ rows at 500k docs) for
    nothing."""
    return df.select(
        id_col, F.explode(shingles(text_col, k)).alias("_shingle")
    )


def _hashed_shingle_table(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(id, _sh): one row per k-token start position of each doc, where
    _sh is xxhash64 over the raw token slice. The slice is an
    array<string>, so no gram string is built and two slices collide
    only if equal (up to the hash). Consumers recover set semantics
    (``min`` and ``collect_set`` ignore duplicates), up to xxhash64
    collisions (~|doc|²/2⁶⁵), which the Jaccard-set representation
    already accepts. Docs with 0 < n < k tokens hash their whole token
    array (``slice`` clamps); empty docs yield no rows.

    Consumers aggregate this exploded table rather than per-doc arrays
    through higher-order functions, because explode + groupBy stays in
    whole-stage codegen and higher-order-function lambdas do not
    (the array form took 30.5 s against 17.9 s for the same signatures
    at 500k docs on local[32])."""
    q = _q(id_col)
    base = df.select(q, tokens(F.col(_q(text_col))).alias("_tk"))
    return base.selectExpr(
        q,
        "explode(CASE WHEN size(_tk) > 0"
        f" THEN sequence(0, greatest(size(_tk) - {k}, 0))"
        " ELSE CAST(array() AS ARRAY<INT>) END) AS _p",
        "_tk",
    ).selectExpr(q, f"xxhash64(slice(_tk, _p + 1, {k})) AS _sh")


# --------------------------------------------------------------------------
# hash-bucket pairing with a hot-bucket cap
# --------------------------------------------------------------------------

def _drop_hot_buckets(
    rows: DataFrame, keys: list[str], max_bucket: int | None
) -> DataFrame:
    """``rows`` without the buckets (groups of equal ``keys``) holding
    more than ``max_bucket`` rows; ``None`` keeps every bucket.

    The bucket size is a window count over ``keys``. It reuses the
    exchange that the caller's grouping or join on the same keys needs
    anyway, so the cap adds no shuffle. Its sort spills under memory
    pressure, so a hot bucket's rows are held only in spillable sort
    state and no per-bucket list is ever built for them."""
    if max_bucket is None:
        return rows
    over = ", ".join(map(_q, keys))
    return (
        rows.withColumn(
            "_bucket_n", F.expr(f"count(1) OVER (PARTITION BY {over})")
        )
        .where(f"_bucket_n <= {int(max_bucket)}")
        .drop("_bucket_n")
    )


def _bucket_pairs(
    rows: DataFrame,
    keys: list[str],
    member: Column,
    max_bucket: int | None,
    having: Column | None = None,
) -> DataFrame:
    """(_a, _b): every ordered pair of ``member`` values sharing a
    bucket, self-pairs included. Callers keep the pairs they want and
    ``distinct()`` them, since two rows can share several buckets.

    Buckets over ``max_bucket`` rows are dropped by
    :func:`_drop_hot_buckets` before ``collect_list`` runs, so no
    member list exceeds ``max_bucket`` entries. ``None`` means
    uncapped: the largest bucket's list is built whole and its pairs
    are quadratic in its size. ``having`` is an optional per-bucket
    aggregate condition; buckets failing it produce no pairs. Nothing
    is persisted."""
    rows = _drop_hot_buckets(rows, keys, max_bucket)
    aggs = [F.collect_list(member).alias("_m")]
    keep = "size(_m) >= 2"
    if having is not None:
        aggs.append(having.alias("_having"))
        keep += " AND _having"
    return (
        rows.groupBy(*map(_q, keys))
        .agg(*aggs)
        .where(keep)
        .selectExpr("explode(_m) AS _a", "_m")
        .selectExpr("_a", "explode(_m) AS _b")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    candidates: DataFrame | None = None,
    max_bucket: int | None = None,
    persist: bool = True,
) -> DataFrame:
    """All pairs (id_a < id_b) with shingle-set Jaccard ≥ threshold.

    intersection via self-join on shingle, |A|,|B| via per-doc counts,
    jaccard = i / (|A| + |B| - i). When ``candidates`` (id_a, id_b) is
    given, only those pairs are scored — the verify stage of LSH.
    ``max_bucket`` drops shingles shared by more than that many docs
    (stop-shingle skew guard) from *candidate generation* only.

    ``persist`` caches the exploded shingle table (referenced 3× by the
    returned plan). The cache is CALLER-MANAGED: it stays pinned until
    ``spark.catalog.clearCache()`` or session end, because the returned
    DataFrame is lazy and still references it. One-shot callers that
    evaluate the result once can pass ``persist=False`` to trade ~2
    recomputes of the shingle explode for zero pinned storage.
    """
    sh = _shingle_table(df, id_col, text_col, k)
    if persist:
        sh = sh.persist()
    counts = sh.groupBy(id_col).agg(F.count("*").alias("_n"))

    if candidates is None:
        pair_source = _drop_hot_buckets(sh, ["_shingle"], max_bucket)
        a = pair_source.select(
            F.col(id_col).alias("id_a"), F.col("_shingle").alias("_s")
        )
        b = pair_source.select(
            F.col(id_col).alias("id_b"), F.col("_shingle").alias("_s")
        )
        inter = (
            a.join(b, "_s")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("_i"))
        )
    else:
        a = sh.select(F.col(id_col).alias("id_a"), F.col("_shingle").alias("_s"))
        b = sh.select(F.col(id_col).alias("id_b"), F.col("_shingle").alias("_s"))
        inter = (
            candidates.join(a, "id_a")
            .join(b, ["id_b", "_s"])
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("_i"))
        )

    na = counts.select(F.col(id_col).alias("id_a"), F.col("_n").alias("_na"))
    nb = counts.select(F.col(id_col).alias("id_b"), F.col("_n").alias("_nb"))
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "jaccard",
            F.col("_i").cast("double")
            / (F.col("_na") + F.col("_nb") - F.col("_i")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
    max_bucket: int | None = None,
    persist: bool = True,
) -> DataFrame:
    """Ordered pairs (contained_id, container_id, containment) with
    shingle-set containment |S(contained) ∩ S(container)| /
    |S(contained)| ≥ threshold, contained ≠ container.

    The ASYMMETRIC near-dup flavor Jaccard structurally misses: a
    300-word excerpt quoted inside a 10k-word page has Jaccard ≈
    |A|/|B| ≈ 0.03 but containment ≈ 1.0 — the quote/excerpt/
    subset-page detector (the fifth near-dup family next to exact,
    Jaccard, MinHash, SimHash, and edit-distance). Curation policy
    differs from symmetric dedup too: the CONTAINED doc is usually
    the drop candidate regardless of doc-id order.

    Plan shape (mirrors :func:`ngram_jaccard_pairs` — same scale
    properties): one shingle explode, optional hot-shingle guard
    (``max_bucket``, the stop-shingle skew cap), ONE self-join on the
    shingle computing the UNORDERED intersection count (id_a < id_b),
    then the two ordered directions are expanded from that single
    join output before the per-contained-side count join — the
    expensive intersection is never computed twice. The per-doc count
    table joins only the contained side (containment's denominator);
    both joins are AQE-broadcastable when the pair table is small.

    ``persist`` caches the exploded shingle table (referenced by the
    intersection's two sides and the count aggregate); caller
    releases via ``clearCache()`` — same contract as
    ngram_jaccard_pairs.
    """
    sh = _shingle_table(df, id_col, text_col, k)
    if persist:
        sh = sh.persist()
    counts = sh.groupBy(id_col).agg(F.count("*").alias("_n"))

    pair_source = _drop_hot_buckets(sh, ["_shingle"], max_bucket)
    a = pair_source.select(
        F.col(id_col).alias("id_a"), F.col("_shingle").alias("_s")
    )
    b = pair_source.select(
        F.col(id_col).alias("id_b"), F.col("_shingle").alias("_s")
    )
    inter = (
        a.join(b, "_s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("_i"))
    )
    ordered = inter.select(
        F.col("id_a").alias("contained_id"),
        F.col("id_b").alias("container_id"),
        "_i",
    ).unionByName(
        inter.select(
            F.col("id_b").alias("contained_id"),
            F.col("id_a").alias("container_id"),
            "_i",
        )
    )
    nc = counts.select(
        F.col(id_col).alias("contained_id"), F.col("_n").alias("_nc")
    )
    return (
        ordered.join(nc, "contained_id")
        .withColumn(
            "containment",
            F.col("_i").cast("double") / F.col("_nc").cast("double"),
        )
        .filter(F.col("containment") >= threshold)
        .select("contained_id", "container_id", "containment")
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): per document, the distinct
    (pos, fp) pairs selected as the RIGHTMOST-minimal k-gram hash in
    every sliding window of ``window`` consecutive gram positions.

    The guarantee that makes it the local-similarity detector (vs the
    global signatures of MinHash/SimHash): any shared token run of at
    least ``window + k - 1`` words between two documents yields at
    least one IDENTICAL selected fingerprint in both — detection of
    partial overlap is deterministic, not probabilistic — while the
    selected density is ~2/(window+1) of all grams, an 8×+ index
    reduction at the defaults.

    Plan shape: positional gram hashes from token-slice arrays (the
    measured fast form, no gram strings), then ONE doc-partitioned
    range window (`pos` to `pos+window-1`) taking
    ``min(struct(hash, -pos))`` — min hash with rightmost tie-break,
    the paper's robust-winnowing rule — then distinct (doc, pos, fp).
    The window is partitioned per document (never single-partition)
    and everything stays in codegen; docs with fewer than
    ``window + k - 1`` tokens contribute their single overall-min
    gram (one fingerprint), sub-k docs none.

    ``hash_fn``: 'xxhash64' (default) hashes the raw token slice —
    the production form; 'md5' builds the gram string and takes the
    first 16 hex chars as a BIGINT — ~10× slower but bit-replayable
    in DuckDB (both engines own md5), the flavor a driver-gated
    oracle query uses. Same selection logic either way.
    """
    if k < 1 or window < 1:
        raise ValueError(f"k and window must be >= 1, got {k}, {window}")
    base = df.select(id_col, tokens(text_col).alias("_tk"))
    n = F.size("_tk")
    starts = F.when(
        n >= k, F.sequence(F.lit(0), n - k)
    ).otherwise(F.array().cast("array<int>"))
    exploded = base.select(
        id_col,
        F.explode(starts).alias("pos"),
        "_tk",
        (n - (k - 1)).alias("_g"),  # gram count for the start bound
    )
    slice_expr = F.expr(f"slice(_tk, pos + 1, {k})")
    if hash_fn == "xxhash64":
        h = F.xxhash64(slice_expr)
    elif hash_fn == "md5":
        # conv() parses hex → BIGINT; 15 hex chars keep it positive
        # and inside long range, identical in DuckDB.
        h = F.conv(
            F.substring(F.md5(F.array_join(slice_expr, " ")), 1, 15),
            16,
            10,
        ).cast("long")
    else:
        raise ValueError(f"unknown hash_fn: {hash_fn!r}")
    grams = exploded.select(
        id_col, "pos", "_g", h.alias("_h")
    )
    w = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rangeBetween(0, window - 1)
    )
    sel = grams.withColumn(
        "_sel",
        F.min(F.struct(F.col("_h"), (-F.col("pos")).alias("_np"))).over(w),
    ).filter(
        # valid window starts only: 0 .. G-window (a doc with fewer
        # grams than the window keeps its single start at 0)
        F.col("pos")
        <= F.greatest(F.col("_g") - window, F.lit(0))
    )
    return sel.select(
        F.col(id_col),
        (-F.col("_sel._np")).cast("int").alias("pos"),
        F.col("_sel._h").alias("fp"),
    ).distinct()


def winnow_candidate_pairs(
    fingerprints: DataFrame,
    id_col: str = "doc_id",
    min_shared: int = 2,
) -> DataFrame:
    """Pairs (id_a < id_b, n_shared) of docs sharing at least
    ``min_shared`` winnowing fingerprint VALUES — the candidate stage
    of MOSS-style partial-overlap detection (verify with
    :func:`ngram_jaccard_pairs` or :func:`containment_pairs` on the
    candidates). One self-join on fp; feed a hot-fp guard upstream by
    filtering ubiquitous fingerprints if the corpus has boilerplate
    (same stop-shingle reasoning as ngram_jaccard_pairs)."""
    fp = fingerprints.select(id_col, "fp").distinct()
    a = fp.select(F.col(id_col).alias("id_a"), "fp")
    b = fp.select(F.col(id_col).alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def drop_near_duplicates(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Keep-policy shared by all near-dup flavors: drop every doc that
    appears as the *greater* id of a duplicate pair (min-id survivor,
    single-link). Left-anti join — no collect."""
    losers = pairs.selectExpr(f"id_b AS {_q(id_col)}").distinct()
    return df.join(losers, id_col, "left_anti")


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 32,
) -> DataFrame:
    """(id, h0..h{num_perm-1}): minhash signature per doc.

    Hash family = xxhash64 seeded by the permutation index (JVM
    built-in, 64-bit). Empty docs (no shingles) are absent from the
    output — nothing to collide with.

    Each shingle is hashed once (:func:`_hashed_shingle_table`); the
    num_perm permutation values rehash that 8-byte base hash with the
    permutation index as seed. Two-level hashing is still a uniform
    family, up to the base hash's ~2⁻⁶⁴ collisions, which the
    Jaccard-set representation already accepts. The plan is one
    explode + groupBy and persists nothing; a caller that reads the
    signatures more than once persists them itself."""
    sh = _hashed_shingle_table(df, id_col, text_col, k)
    aggs = [
        F.expr(f"min(xxhash64({i}, _sh)) AS h{i}") for i in range(num_perm)
    ]
    return sh.groupBy(_q(id_col)).agg(*aggs)


def _band_rows(
    signatures: DataFrame,
    id_col: str,
    num_perm: int,
    bands: int,
    *carry: str,
) -> DataFrame:
    """(id, *carry, _band, _bh): one row per doc and band, where _bh
    hashes the band's r = num_perm/bands minhash values. The bucket key
    is (_band, _bh), so all bands go through one exchange."""
    if num_perm % bands:
        raise ValueError("num_perm must be divisible by bands")
    r = num_perm // bands
    band_structs = ", ".join(
        f"struct({j} AS band, xxhash64("
        + ", ".join(f"h{j * r + i}" for i in range(r))
        + ") AS bh)"
        for j in range(bands)
    )
    cols = [_q(c) for c in (id_col, *carry)]
    return signatures.selectExpr(
        *cols, f"explode(array({band_structs})) AS _b"
    ).selectExpr(*cols, "_b.band AS _band", "_b.bh AS _bh")


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_perm: int = 32,
    bands: int = 8,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Band the signature, bucket per band, emit distinct pairs
    (id_a < id_b).

    rows-per-band r = num_perm/bands; a pair lands in one bucket with
    prob 1-(1-j^r)^b. Buckets holding more than ``max_bucket`` docs
    are dropped before any bucket's member list is built (a window
    count on the bucket key, whose sort spills), so no list exceeds
    ``max_bucket`` ids. The surviving buckets collect their ids and
    pairs are exploded from each list. ``None`` means uncapped: the
    output is then quadratic in the largest bucket. Nothing is
    persisted, so the returned plan needs no ``clearCache()``.
    """
    banded = _band_rows(signatures, id_col, num_perm, bands)
    return (
        _bucket_pairs(banded, ["_band", "_bh"], F.col(_q(id_col)), max_bucket)
        .where("_a < _b")
        .selectExpr("_a AS id_a", "_b AS id_b")
        .distinct()
    )


def _verified_jaccard_pairs(
    df: DataFrame,
    cand: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    threshold: float,
) -> DataFrame:
    """(id_a, id_b, jaccard) for the ``cand`` pairs whose exact Jaccard
    over hashed k-shingle sets is at least ``threshold``.

    Sets are built only for docs in a candidate pair: the doc table is
    semi-joined to the broadcast candidate ids BEFORE shingling, so the
    re-scan tokenizes only candidate docs and its collect_set shuffle
    is candidate-bounded. The ids come from one ``explode`` over
    ``cand``, so ``cand`` appears in the plan once for the ids and once
    for the verify join, and the set table once per verify side.
    Nothing is persisted: AQE reuses the exchanges of those repeated
    subtrees (``ReusedExchange``), so each is computed once per
    action."""
    q = _q(id_col)
    ids = cand.selectExpr(f"explode(array(id_a, id_b)) AS {q}").distinct()
    cand_docs = df.join(F.broadcast(ids), id_col, "left_semi")
    need = (
        _hashed_shingle_table(cand_docs, id_col, text_col, k)
        .groupBy(q)
        .agg(F.expr("collect_set(_sh) AS _set"))
    )
    sa = need.selectExpr(f"{q} AS id_a", "_set AS _sa")
    sb = need.selectExpr(f"{q} AS id_b", "_set AS _sb")
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("_i", F.expr("size(array_intersect(_sa, _sb))"))
        .withColumn(
            "jaccard",
            F.expr(
                "CAST(_i AS DOUBLE)"
                " / CAST(size(_sa) + size(_sb) - _i AS DOUBLE)"
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .selectExpr("id_a", "id_b", "jaccard")
    )


def minhash_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Full near-dup pipeline: signatures → LSH candidates → exact
    Jaccard verify → min-id survivors. Candidate count, not docs²,
    bounds every stage.

    Shuffle budget: the signature pass shuffles num_perm longs per
    doc; the per-doc shingle-hash set does not ride that shuffle.
    Verification needs sets only for docs in a candidate pair, so the
    sets are built in a second, candidate-pruned pass
    (:func:`_verified_jaccard_pairs`) and compared with exact Jaccard
    via ``array_intersect`` — never a re-shuffle of the full exploded
    shingle table. Jaccard over 64-bit shingle hashes equals Jaccard
    over shingle strings up to xxhash64 collisions (~|doc|²/2⁶⁵ per
    doc — negligible).

    The result is one lazy plan and nothing is persisted, so no
    ``clearCache()`` is needed. The candidate subtree appears in the
    plan more than once; AQE reuses its exchanges, and it coalesces
    the small post-shuffle partitions. A caller that runs more than
    one action on the result persists the result itself.
    """
    sigs = minhash_signatures(df, id_col, text_col, k, num_perm)
    cand = lsh_candidate_pairs(sigs, id_col, num_perm, bands, max_bucket)
    verified = _verified_jaccard_pairs(df, cand, id_col, text_col, k, threshold)
    return drop_near_duplicates(df, verified, id_col)


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def simhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
) -> DataFrame:
    """(id, simhash): sign-of-per-bit-weighted-sums over token hashes.

    Pure DataFrame math: explode tokens → xxhash64 → for each bit a
    conditional ±1 sum (partial agg) → pack signs back into one LONG
    with shiftleft and ``|``. 64 aggregate columns compile fine and
    stay in codegen — no Python, no UDF.
    """
    q = _q(id_col)
    one = "CAST(1 AS BIGINT)"
    tok = df.select(
        q, F.explode(tokens(F.col(_q(text_col)))).alias("_t")
    ).withColumn("_h", F.expr("xxhash64(_t)"))
    bit_aggs = [
        F.expr(
            f"sum(CASE WHEN (_h & shiftleft({one}, {i})) != 0"
            f" THEN 1 ELSE -1 END) AS b{i}"
        )
        for i in range(bits)
    ]
    per_doc = tok.groupBy(q).agg(*bit_aggs)
    sig = " | ".join(
        ["CAST(0 AS BIGINT)"]
        + [
            f"CASE WHEN b{i} > 0 THEN shiftleft({one}, {i})"
            " ELSE CAST(0 AS BIGINT) END"
            for i in range(bits)
        ]
    )
    return per_doc.selectExpr(q, f"{sig} AS simhash")


def simhash_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    chunks: int = 4,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Pairs (id_a < id_b, hamming) with hamming(simhash) ≤
    max_hamming via chunk-equality LSH.

    Pigeonhole: ≤3 differing bits across 4 chunks ⇒ at least one
    16-bit chunk identical — candidates share a (chunk index, chunk
    value) bucket and are verified exactly with ``bit_count(xor)``.
    Buckets holding more than ``max_bucket`` docs are dropped before
    any bucket's (id, simhash) member list is built; the surviving
    buckets collect their members and pairs are exploded from each
    list. ``None`` means uncapped: the output is then quadratic in the
    largest bucket. Nothing is persisted, so the returned plan needs
    no ``clearCache()``.
    """
    width = 64 // chunks
    mask = (1 << width) - 1
    chunk_structs = ", ".join(
        f"struct({c} AS chunk, shiftrightunsigned(simhash, {c * width})"
        f" & CAST({mask} AS BIGINT) AS cv)"
        for c in range(chunks)
    )
    q = _q(id_col)
    chunked = signatures.selectExpr(
        q, "simhash", f"explode(array({chunk_structs})) AS _c"
    ).selectExpr(q, "simhash", "_c.chunk AS _chunk", "_c.cv AS _cv")
    member = F.struct(F.col(q).alias("_i"), F.col("simhash").alias("_s"))
    return (
        _bucket_pairs(chunked, ["_chunk", "_cv"], member, max_bucket)
        .where("_a._i < _b._i")
        .selectExpr(
            "_a._i AS id_a",
            "_b._i AS id_b",
            "bit_count(_a._s ^ _b._s) AS hamming",
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def simhash_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    sigs = simhash_signatures(df, id_col, text_col)
    pairs = simhash_pairs(sigs, id_col, max_hamming)
    return drop_near_duplicates(df, pairs, id_col)


# --------------------------------------------------------------------------
# edit-distance fuzzy matching
# --------------------------------------------------------------------------

def fuzzy_title_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    title_len: int = 40,
    block_len: int = 4,
    max_distance: int = 5,
) -> DataFrame:
    """Pairs whose normalized title prefixes are within ``max_distance``
    edits — the fourth near-dup family (byte-level typos/OCR noise,
    which shingle Jaccard under-weights on short strings).

    Edit distance is O(len²) per pair, so all-pairs is never the plan:
    candidates are *blocked* on the first ``block_len`` chars (equal
    block ⇒ one equi-join; typo'd prefixes across blocks are the
    documented miss, standard for blocking) and only candidates pay the
    ``levenshtein`` call. All built-in expressions, identical metric in
    DuckDB — fully oracle-replayable.
    """
    t = F.substring(F.lower(F.trim(F.col(text_col))), 1, title_len)
    base = df.select(
        F.col(id_col),
        t.alias("_title"),
        F.substring(t, 1, block_len).alias("_blk"),
    )
    a = base.select(
        F.col(id_col).alias("id_a"),
        F.col("_title").alias("_ta"),
        "_blk",
    )
    b = base.select(
        F.col(id_col).alias("id_b"),
        F.col("_title").alias("_tb"),
        "_blk",
    )
    return (
        a.join(b, "_blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("distance", F.levenshtein("_ta", "_tb"))
        .filter(F.col("distance") <= max_distance)
        .select("id_a", "id_b", "distance")
    )


# --------------------------------------------------------------------------
# exact-substring duplicated-span extents (Lee et al. 2022, ExactSubstr)
# --------------------------------------------------------------------------

def duplicated_span_extents(
    df: DataFrame,
    k: int = 6,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Maximal duplicated-span extents per document — the reporting
    kernel of ExactSubstr dedup ("Deduplicating Training Data Makes
    Language Models Better", Lee et al. 2022): a token position is
    *duplicated* when covered by any ``k``-token gram whose TOTAL
    occurrence count in the corpus is ≥ ``min_count`` (within-doc
    repeats count — the suffix-array "appears elsewhere" rule, unlike
    :func:`~..curation.remove_duplicated_spans`'s distinct-document
    threshold), and adjacent duplicated positions merge into maximal
    ``[span_start, span_end)`` extents. The paper removes these spans;
    emitting the extents keeps both uses open (removal = one
    array-filter join away, audit = this table directly). The paper's
    50-token threshold maps to ``k``; defaults are fixture-calibrated.

    Plan (all built-ins):
    1. one tokenize, positions explode only for docs with ≥ k tokens
       (no short-doc clamping — extents are positional);
    2. gram key = ``xxhash64(slice(tokens))`` — array-hashed, no gram
       string (the span-dedup de-stringing lesson); corpus-hot grams
       via one 8-byte-key groupBy with map-side partial aggregation
       (``count(*) >= min_count`` — a total count, cheaper than
       span-dedup's distinct-doc count);
    3. coverage: hot-gram occurrences re-explode to k positions,
       deduped per (doc, pos) — only duplicated positions shuffle,
       never the word stream; the hot join is left to AQE (usually
       broadcast, data-dependent at 100 TB);
    4. islands: the classic gaps-and-islands merge — ``pos −
       row_number()`` over a DOC-partitioned window (doc-scale
       partitions, same bound as the winnowing window) groups each
       run of consecutive positions, then one groupBy emits
       (start, end, length) per maximal extent.

    Output: one row per maximal extent — ``(id, span_start,
    span_end, span_toks)`` with 0-based token positions, end
    exclusive. Exact and fully SQL-replayable (gram-string oracle;
    xxhash64 equivalence up to the standard 2⁻⁶⁴ acceptance).

    Measured scale curve (tools/scale_curve.py, min-of-2, sf0.1-
    derived mangled replicas, local[32]): 500k/1M/2M docs =
    10.1 / 12.8 / 29.0 s — 0.72× linear at 2M; the total-count
    hotness rule keeps the single full-volume exchange map-side-
    combinable (cf. remove_duplicated_spans' measured note on why
    the distinct-doc rule is the expensive one)."""
    base = df.select(id_col, tokens(text_col).alias("_tk")).filter(
        F.size("_tk") >= k
    )
    grams = base.select(
        id_col,
        F.explode(F.sequence(F.lit(0), F.size("_tk") - k)).alias("_p"),
        "_tk",
    ).select(
        id_col,
        "_p",
        F.xxhash64(F.expr(f"slice(_tk, _p + 1, {k})")).alias("_h"),
    )
    # grams feeds the hot-count AND the coverage join — persist so the
    # tokenize+explode runs once. The caller releases it via
    # clearCache(): persisted blocks stay PINNED after the action
    # completes, so repeated calls without a clearCache accumulate
    # executor storage (bench.py and the gate runner both clearCache
    # between runs).
    grams = grams.persist()
    hot = (
        grams.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= min_count)
        .select("_h")
    )
    covered = (
        grams.join(hot, "_h")
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("_p"), F.col("_p") + k - 1)
            ).alias("pos"),
        )
        .distinct()
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    islands = covered.withColumn(
        "_grp", F.col("pos") - F.row_number().over(w)
    )
    return islands.groupBy(id_col, "_grp").agg(
        F.min("pos").cast("bigint").alias("span_start"),
        (F.max("pos") + 1).cast("bigint").alias("span_end"),
        F.count(F.lit(1)).cast("bigint").alias("span_toks"),
    ).select(id_col, "span_start", "span_end", "span_toks")


def maximal_duplicated_extents(
    df: DataFrame,
    k: int = 6,
    w_cap: int = 18,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
    count_partitions: int | None = None,
) -> DataFrame:
    """TRUE-maximal duplicated substrings (the suffix-extension
    refinement of :func:`duplicated_span_extents`):
    one row per maximal substring of ≥ ``k`` tokens that occurs ≥ 2
    times corpus-wide (within-doc repeats count, the ExactSubstr
    rule), where *maximal* means Lee et al. 2022's actual suffix-
    array guarantee — the match cannot be extended left or right —
    rather than the k-gram-union islands the coverage operator
    reports. The two outputs are complementary: islands are the
    REMOVAL artifact (union of covered positions, exact for the
    paper's remove-covered-bytes semantics), these extents are the
    AUDIT artifact (the actual repeated strings, possibly
    overlapping each other, as a suffix array would list them).

    Algorithm — the suffix-array identity, Spark-shaped: the longest
    duplicated prefix of the suffix at position p equals the longest
    common prefix (LCP) of that suffix with its LEXICOGRAPHIC
    NEIGHBORS among all corpus suffixes, so

    1. every position carries its suffix TRUNCATED to ``k + w_cap``
       tokens (the cap bounds shuffle volume at (k+w_cap)× corpus —
       the DataFrame trade for the suffix array's 8 bytes/token;
       extents longer than the cap are reported cap-clipped,
       documented below);
    2. suffix order localizes: a neighbor sharing ≥ k tokens shares
       the leading k-gram, so the global suffix sort decomposes into
       per-k-gram groups — the window partitions by
       ``xxhash64(gram)``, admits only HOT grams (corpus count ≥ 2;
       exact — a singleton-gram position has L < k, see the inline
       note), and orders by the token ARRAY itself (element-wise
       lexicographic in both engines; a space-joined string would
       misorder tokens containing sub-0x20 non-whitespace chars).
       Hash collisions only concatenate groups whose cross-boundary
       LCP < k, which the ≥ k filter and the ≥ k+1 suppression rule
       both ignore — the oracle partitions by the gram STRING and
       agrees by this argument;
    3. ``L(p) = max(lcp(s, lag(s)), lcp(s, lead(s)))`` with the LCP
       as one ``zip_with``/``array_position`` expression (NULL
       neighbor → 0);
    4. maximal starts: report ``[p, p + L(p))`` iff ``L(p) ≥ k`` and
       ``L(p−1) ≤ L(p)`` (a left-extension would need the previous
       suffix to match one token further, i.e. ``L(p−1) ≥ L(p)+1``);
       right-maximality is the definition of L. ``L(p−1)`` is one
       doc-partitioned lag.

    ``min_count`` = c generalizes "appears elsewhere" (the paper's
    c = 2) to "occurs ≥ c times": a prefix of the suffix at rank i
    occurs ≥ c times iff some window of c CONSECUTIVE suffixes in
    suffix order containing rank i shares it, and the shared-prefix
    length of a window equals the direct LCP of its two EXTREMES (=
    the min of the adjacent LCPs between them), so

        L_c(i) = max_{j = i−c+1 .. i}  lcp(s_j, s_{j+c−1})

    — one ``lead(s, c−1)`` LCP per rank (``e_j``), then a windowed
    max over the trailing c−1 ranks. c = 2 reduces to exactly the
    lag/lead form above (e_{i−1} = lcp with lag, e_i = lcp with
    lead) and keeps that two-neighbor plan; the generic path adds one
    window expression on the SAME per-gram sort — no new exchange.
    The hot filter and the suppression-lag argument both carry over
    with ``count ≥ c`` (a position whose leading gram occurs < c
    times has L_c < k; a filtered-out p−1 can never suppress).

    Scale shape: one map-side-combinable 8-byte-key gram count (the
    hot filter), then ONE exchange of (k+w_cap)-token slices keyed
    by the leading gram — DUPLICATED positions only, never the whole
    corpus (map-side narrow build, no corpus-global state), one
    per-gram window sort whose partition bound is the gram's
    occurrence count — the hot-boilerplate gram is the skew case,
    and it is IRREDUCIBLE here (splitting a gram's occurrence list
    breaks neighbor adjacency; a real suffix array has the same
    hot-suffix locality), so production caps boilerplate upstream
    (remove_duplicated_lines) — then one doc-keyed window for the
    suppression lag (over hot rows only; the lag(_p) == p−1 check
    keeps that exact). No single-partition window, no collect, no
    UDF. On a single JVM the large-corpus cost is the hot-count
    aggregate's reduce width: near-distinct grams make its reduce side
    about corpus-sized, and it spills at a small
    ``spark.sql.shuffle.partitions``.

    ``count_partitions`` hash-repartitions the projected 8-byte gram
    keys before the hot count, so the count's reduce width no longer
    follows the session conf; results are identical at any width.
    The trade is the map-side combine below that exchange, which
    saves almost nothing on near-distinct crawl-text grams. At 2M
    mangled docs with conf 32, ``count_partitions=128`` took 83.6 s
    against 93.6 s for a session conf of 128.
    """
    slice_len = k + w_cap
    base = df.select(id_col, tokens(text_col).alias("_tk")).filter(
        F.size("_tk") >= k
    )
    occ = base.select(
        id_col,
        F.explode(F.sequence(F.lit(0), F.size("_tk") - k)).alias("_p"),
        "_tk",
    ).select(
        id_col,
        "_p",
        F.expr(f"slice(_tk, _p + 1, {slice_len})").alias("_s"),
        F.xxhash64(F.expr(f"slice(_tk, _p + 1, {k})")).alias("_gh"),
    )
    # Hot-gram pre-filter — EXACT, not an approximation: a position
    # whose leading k-gram occurs once corpus-wide has no partner
    # sharing a ≥ k prefix, so L(p) < k — it can neither report an
    # extent nor suppress one (suppression needs L ≥ k+1). Only hot
    # positions carry their (k+w_cap)-token slices into the window
    # sort; the 8-byte-key count groupBy is map-side combinable.
    # Measured (mangled sf0.1 replicas, min-of-2): the unfiltered
    # window sort curved 1.64×-superlinear (21.2/61.8/138.8 s at
    # 500k/1M/2M — the single-JVM sort regime on 24× corpus volume);
    # the filter cuts the sorted volume to the duplicated fraction.
    if min_count < 2:
        raise ValueError("min_count must be >= 2")
    # ``count_partitions``: hash-repartitioning the projected key
    # stream on ``_gh`` satisfies the aggregate's ClusteredDistribution,
    # so the count runs at the requested width with no second exchange.
    hot_src = occ.select("_gh")
    if count_partitions is not None:
        if count_partitions < 1:
            raise ValueError("count_partitions must be >= 1")
        hot_src = hot_src.repartition(count_partitions, "_gh")
    hot = (
        hot_src.groupBy("_gh")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= min_count)
        .select("_gh")
    )
    occ = occ.join(hot, "_gh")
    # Order by the token ARRAY itself — element-wise lexicographic in
    # both engines. (A space-joined string is NOT order-equivalent
    # when tokens contain non-whitespace chars below 0x20 — legal in
    # raw crawl text since \s+ splitting keeps \x01 etc.)
    wg = Window.partitionBy("_gh").orderBy("_s")
    lag_s = F.lag("_s").over(wg)
    lead_s = F.lead("_s").over(wg)

    def lcp_with(nb: Column) -> Column:
        # array_position returns 0 — not NULL — when `false` is
        # absent (identical slices), so nullif is load-bearing: the
        # first cut lost every full-cap match to lcp = -1 (caught by
        # the sf0.01 gate; test_lcp_identical_slices pins it).
        zipped = F.zip_with("_s", nb, lambda x, y: x.eqNullSafe(y))
        return F.when(nb.isNull(), F.lit(0)).otherwise(
            F.coalesce(
                F.nullif(
                    F.array_position(zipped, F.lit(False)), F.lit(0)
                )
                - 1,
                F.least(F.size("_s"), F.size(nb)),
            )
        )

    if min_count == 2:
        # e_{i-1} = lcp with lag, e_i = lcp with lead — the
        # windowed-max below, unrolled
        scored = occ.select(
            id_col,
            "_p",
            F.greatest(lcp_with(lag_s), lcp_with(lead_s))
            .cast("bigint")
            .alias("_l"),
        )
    else:
        # generic c: e_i = lcp(s_i, s_{i+c-1}), then L_c(i) =
        # max(e_{i-c+1} .. e_i) — a rows-window max on the SAME
        # per-gram sort (no new exchange). The order must be TOTAL
        # ((id, p) tie-breakers): this path runs TWO window passes,
        # and with bare ORDER BY _s the tie permutation can differ
        # between the lead pass and the ROWS-max pass, misaligning e
        # with its rank — observed as run-to-run flicker of full-cap
        # rows in BOTH engines at the sf0.001 gate. Any fixed
        # tie-break yields the same L (L_c(p) is a function of the
        # suffix string alone — the tie-run analysis in the oracle
        # comment); a total order makes both passes, and both
        # engines, agree on it.
        total_order = [
            F.col("_s").asc(),
            F.col(id_col).asc_nulls_first(),
            F.col("_p").asc(),
        ]
        wgt = Window.partitionBy("_gh").orderBy(*total_order)
        wmax = wgt.rowsBetween(-(min_count - 1), 0)
        scored = occ.withColumn(
            "_e", lcp_with(F.lead("_s", min_count - 1).over(wgt))
        ).select(
            id_col,
            "_p",
            F.max("_e").over(wmax).cast("bigint").alias("_l"),
        )
    # Suppression over the FILTERED rows: the doc-window lag yields
    # the previous HOT position, which is p−1 only sometimes — but a
    # filtered-out p−1 had a singleton gram, hence L(p−1) < k ≤ L(p),
    # and could never suppress; requiring lag(_p) == p−1 alongside
    # the L comparison is therefore exact.
    wd = Window.partitionBy(id_col).orderBy("_p")
    return (
        scored.withColumn("_pprev", F.lag("_p").over(wd))
        .withColumn("_lprevraw", F.lag("_l").over(wd))
        .withColumn(
            "_lprev",
            F.when(
                F.col("_pprev") == F.col("_p") - 1, F.col("_lprevraw")
            ).otherwise(F.lit(0)),
        )
        .filter((F.col("_l") >= k) & (F.col("_lprev") <= F.col("_l")))
        .select(
            F.col(id_col),
            F.col("_p").cast("bigint").alias("span_start"),
            (F.col("_p") + F.col("_l")).cast("bigint").alias("span_end"),
            F.col("_l").alias("span_toks"),
        )
    )


def keep_best_per_cluster(
    docs: DataFrame,
    components: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware survivor election per duplicate cluster: instead
    of the min-id policy (:func:`drop_near_duplicates`), each
    connected component keeps its highest-``quality_col`` member
    (ties → min id). This is what production pipelines actually do —
    near-dup clusters mix clean originals with truncated or
    boilerplate-wrapped recrawls, and min-id keeps whichever crawled
    first; electing by quality (doc length, a model score, ...) keeps
    the best copy.

    One equi-join (id) + one groupBy(component) with a struct-max
    aggregate — max(struct(quality, −id)) is an order-independent
    argmax with a deterministic tie-break, map-side combinable, no
    window sort. Output: (component, survivor_id, quality,
    n_members). ``quality_col`` keeps its own numeric type (a
    fractional model score is NOT truncated — casting here would
    silently degenerate the election to min-id); ids must be
    numeric for the negation tie-break, the repo-wide id
    convention."""
    joined = docs.select(
        id_col, F.col(quality_col).alias("_q")
    ).join(components, id_col)
    agg = joined.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.max(
            F.struct(
                F.col("_q").alias("_bq"),
                (-F.col(id_col)).alias("_negid"),
            )
        ).alias("_b"),
    )
    return agg.select(
        "component",
        (-F.col("_b._negid")).cast("bigint").alias("survivor_id"),
        F.col("_b._bq").alias("quality"),
        "n_members",
    )


def _reassemble_minus_positions(
    base: DataFrame,
    removals: DataFrame,
    id_col: str,
    arr_col: str,
    sep: str,
    kept_alias: str,
    removed_alias: str,
) -> DataFrame:
    """Order-preserving ARRAY-NATIVE reassembly shared by the
    repeated-span/line removal family (r8 review: the pattern was
    copy-pasted between the within-doc and line operators — one
    helper now pins the family contract in one place). ``removals``
    is ``(id_col, _rp)`` — removed 0-based element positions,
    duplicates allowed (``collect_set`` dedups in its one exchange).
    Collapse to ONE position array per doc, left-join back at doc
    granularity on a RENAMED key (same-lineage same-name equi-joins
    must not rely on Spark's ambiguous-self-join
    auto-disambiguation), filter the element array with an index
    lambda, and close with the family NULL contract: NULL array →
    (NULL, 0, 0). This form measured 2.2–3.3× faster than shipping
    every element as a (pos, value) struct (r5 span A/B, re-measured
    r8 on the within-doc operator)."""
    cov = removals.groupBy(F.col(id_col).alias("_rid")).agg(
        F.collect_set("_rp").alias("_cov")
    )
    joined = base.join(cov, F.col(id_col) == F.col("_rid"), "left")
    kept = F.expr(
        f"filter(transform({arr_col}, (e, i) -> CASE WHEN _cov IS "
        f"NULL OR NOT array_contains(_cov, i) THEN e END), "
        f"x -> x IS NOT NULL)"
    )
    return joined.select(
        F.col(id_col),
        F.when(F.col(arr_col).isNull(), F.lit(None).cast("string"))
        .otherwise(F.concat_ws(sep, kept))
        .alias("clean_text"),
        F.coalesce(F.size(kept), F.lit(0)).cast("bigint").alias(
            kept_alias
        ),
        F.coalesce(F.size(arr_col) - F.size(kept), F.lit(0))
        .cast("bigint")
        .alias(removed_alias),
    )


def remove_within_doc_repeats(
    df: DataFrame,
    k: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """WITHIN-document repeated-span removal, keep-first policy — the
    in-document sibling of the cross-document C4 rule
    (``curation.remove_duplicated_spans``) and of
    :func:`duplicated_span_extents`' corpus-total hotness: a word
    position is removed when it is covered by a ``k``-gram occurrence
    that is a NON-FIRST occurrence of that gram inside the same
    document (the RefinedWeb/MassiveText "remove repeated
    lines/paragraphs" device at word-shingle granularity — looping
    generations, chat echoes, SEO keyword stuffing). The FIRST
    occurrence of every gram survives, so unique content is never
    touched and an all-unique doc passes through byte-identical.

    Output: ``(id, clean_text, n_kept, n_removed)`` for EVERY input
    doc — sub-k docs pass through whole, and the NULL contract is
    the span-dedup one (r8 review): NULL text → clean_text NULL with
    n_kept = n_removed = 0, never '' with NULL counts.

    Plan shape (all built-ins): one tokenize; gram keys =
    ``xxhash64(slice)``; first occurrence per (doc, gram) = one
    map-side-combinable ``min(pos)`` groupBy; repeats join back on
    (doc, gram) with ``pos > first_pos``; covered positions explode
    k-wide and feed :func:`_reassemble_minus_positions` — the
    family-shared array-native reassembly (one ``collect_set``
    exchange dedups overlapping coverage, renamed-key doc-level
    join, filter-with-index lambda over the token array), the form
    remove_duplicated_spans' r5 A/B measured 2.2–2.6× faster than
    shuffling every word as a (pos, word) struct (this operator's
    first cut used the word-stream form; review r8 pointed back at
    the repo's own measurement). Measured on THIS operator
    (mangled sf0.1 replicas, min-of-2, local[32]): word-stream
    17.9 / 46.4 s at 500k / 1M docs vs array-native 8.2 / 14.1 /
    37.0 s at 500k / 1M / 2M — 2.2× at 500k, 3.3× at 1M, and the
    curve drops from 2.6×-per-doubling to 1.12×-linear overall
    (the residual 1M→2M rise is the single-JVM agg regime on the
    ~corpus-volume (doc, gram) groups, the gopher-signals
    diagnosis — splits back to hash aggregation multi-executor).
    Every exchange is keyed by doc (and doc-local), so the operator
    partitions perfectly at any corpus size — no corpus-global
    state at all, unlike the cross-doc rule's heavy-hitter
    table."""
    base = df.select(id_col, tokens(text_col).alias("_tk"))
    # NULL-id rows pass through untouched (review r9): the
    # first-occurrence election keys on (id, gram), and groupBy pools
    # every NULL id into ONE pseudo-document — two NULL-id docs would
    # cross-contaminate each other's "first occurrence" while their
    # removals lose the join back. Same exclusion contract as
    # remove_duplicated_lines / train_linear_classifier.
    grams = base.filter(
        (F.size("_tk") >= k) & F.col(id_col).isNotNull()
    ).select(
        id_col,
        F.explode(F.sequence(F.lit(0), F.size("_tk") - k)).alias("_p"),
        "_tk",
    ).select(
        id_col,
        "_p",
        F.xxhash64(F.expr(f"slice(_tk, _p + 1, {k})")).alias("_h"),
    )
    first = grams.groupBy(id_col, "_h").agg(F.min("_p").alias("_fp"))
    repeats = grams.join(first, [id_col, "_h"]).filter(
        F.col("_p") > F.col("_fp")
    )
    covered = repeats.select(
        F.col(id_col),
        F.explode(F.sequence(F.col("_p"), F.col("_p") + k - 1)).alias(
            "_rp"
        ),
    )
    # 0-based positions match the transform index in the shared
    # reassembly; NULL coverage = doc has no repeated span.
    return _reassemble_minus_positions(
        base, covered, id_col, "_tk", " ", "n_kept", "n_removed"
    )


def remove_duplicated_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep_regex: str = "\n",
) -> DataFrame:
    """CROSS-document line-level boilerplate removal, keep-global-first
    (CCNet §3.1 / Dolma "paragraph dedup": navigation menus, cookie
    banners, footers — the highest-volume junk in web crawl text is a
    LINE duplicated across many documents, which word-shingle dedup
    (Jaccard over whole docs) structurally misses because the
    surrounding content differs). Every occurrence of a duplicated
    line is removed EXCEPT the globally first one by ``(id, line_pos)``
    — deterministic, so reruns and the SQL oracle agree; lines that
    occur once and blank/whitespace-only lines (document structure,
    not boilerplate) are never touched.

    Output: ``(id, clean_text, n_lines_kept, n_lines_removed)`` for
    EVERY input doc; kept lines re-join with ``"\\n"`` in original
    order; NULL text → ``(NULL, 0, 0)`` (the span-dedup NULL
    contract). ``sep_regex`` is a split REGEX; reassembly always uses
    the literal newline, so a multi-separator split is normalized.

    Plan shape (all built-ins): split + posexplode to (id, pos,
    line); winners = one ``min(struct(id, pos))`` per line — map-side
    combinable, the keep-best argmax device, NO window — filtered to
    count > 1; removals = one join back keyed by the line string
    (the single data-scale exchange; a mega-hot boilerplate line is
    the AQE skew-join case — the winners side is one row per line,
    so splitting the hot partition replicates one row); removed
    positions feed :func:`_reassemble_minus_positions`, the
    family-shared array-native reassembly (measured 2.2–3.3× faster
    than word-stream shuffles). Three keyed exchanges total, no corpus-global state,
    no window anywhere — partitions at any corpus size. Measured
    (mangled sf0.1 replicas incl. 4-token line synthesis, min-of-2,
    local[32]): 12.4 / 21.6 / 38.1 s at 500k / 1M / 2M docs —
    0.77×-LINEAR (sub-linear), the flattest curve in the
    scale_curve table, as the all-keyed-exchange shape predicts.
    (An earlier cut measured 27.0 s at 500k: the line-synthesis
    builder re-ran the tokenize regex per reference until
    functions/text.synth_token_lines bound the token array once —
    a 2.2× kernel win found by measuring, see that docstring.)"""
    base = df.select(
        id_col, F.split(F.col(text_col), sep_regex).alias("_ln")
    )
    # NULL-id rows are excluded from the global election entirely
    # (review r9): a row without identity can neither win (its
    # removals have no join-back key, so "remove all but one" breaks
    # between two NULL-id copies) nor lose; they pass through intact
    # with n_removed = 0 — the train_linear_classifier NULL-exclusion
    # contract, replayed row-locally by the oracle.
    occ = base.select(
        F.col(id_col), F.posexplode("_ln").alias("_lp", "_line")
    ).filter(
        (F.regexp_replace(F.col("_line"), r"\s+", "") != "")
        & F.col(id_col).isNotNull()
    )
    winners = (
        occ.groupBy("_line")
        .agg(
            F.min(F.struct(F.col(id_col), F.col("_lp"))).alias("_w"),
            F.count(F.lit(1)).alias("_n"),
        )
        .filter(F.col("_n") > 1)
        .select(F.col("_line").alias("_wline"), "_w")
    )
    removals = (
        occ.join(winners, F.col("_line") == F.col("_wline"))
        .filter(
            F.struct(F.col(id_col), F.col("_lp")) != F.col("_w")
        )
        .select(F.col(id_col), F.col("_lp").alias("_rp"))
    )
    return _reassemble_minus_positions(
        base,
        removals,
        id_col,
        "_ln",
        "\n",
        "n_lines_kept",
        "n_lines_removed",
    )


def minhash_s_curve(
    spark: "SparkSession",
    bands: int = 8,
    rows_per_band: int = 4,
    grid: int = 20,
) -> DataFrame:
    """The banded-LSH S-curve as a table: for Jaccard similarity s on
    a 1/``grid`` lattice, the probability a pair becomes an LSH
    candidate under (``bands`` b, ``rows_per_band`` r) —
    ``1 − (1 − s^r)^b`` — plus the per-band match probability. The
    design tool for choosing minhash parameters: read off the
    threshold where the curve crosses 0.5 and the false-positive mass
    below your target similarity (Leskovec/Rajaraman/Ullman, MMDS
    §3.4; the repo's minhash_dedup defaults b=8, r=4 put the exact
    0.5-crossing at s = (1 − 0.5^(1/b))^(1/r) ≈ 0.537 — note the
    common (1/b)^(1/r) ≈ 0.59 rule of thumb overshoots it).

    Cross-engine exactness: NO ``pow`` (library pow is not correctly
    rounded and drifts a ulp between libms) — s^r and (1−s^r)^b are
    unrolled MULTIPLY CHAINS, left-associated identically in the
    DuckDB oracle; each step is one correctly-rounded IEEE op on the
    exact lattice points i/grid, so both engines agree bit-for-bit.
    Dimension-scale (grid−1 rows) — a pure design table, no data."""
    if bands < 1 or rows_per_band < 1 or grid < 2:
        raise ValueError("bands, rows_per_band >= 1 and grid >= 2")
    s = (
        F.col("id").cast("double") / F.lit(grid).cast("double")
    ).alias("s")
    df = spark.range(1, grid).select(s)
    p_band = F.col("s")
    for _ in range(rows_per_band - 1):
        p_band = p_band * F.col("s")
    df = df.withColumn("p_band", p_band)
    miss = F.lit(1.0) - F.col("p_band")
    p_all_miss = miss
    for _ in range(bands - 1):
        p_all_miss = p_all_miss * miss
    return df.select(
        "s",
        "p_band",
        (F.lit(1.0) - p_all_miss).alias("p_candidate"),
    )


def dedup_remap(
    df: DataFrame,
    key: Column,
    id_col: str = "doc_id",
    method: str = "exact",
) -> DataFrame:
    """Provenance remap for ONE dedup stage: every dropped document
    mapped to the survivor that replaced it — ``(dropped_id,
    kept_id, method)``, survivor = min id per ``key`` group. This is
    the audit artifact a production dedup MUST emit alongside the
    cleaned corpus (GDPR erasure has to chase replaced copies;
    training-data provenance has to answer "where did doc X go");
    dropping rows without it loses the lineage forever.

    One groupBy(key) min + one equi-join back — two exchanges on the
    dedup key, no window. The join-back is ``eqNullSafe`` on a
    RENAMED key (r8 review): a null-unsafe join silently drops every
    NULL-key document from the lineage (they'd all pose as
    survivors), while groupBy — like the oracle's ``PARTITION BY`` —
    treats NULL as one group; and a same-name same-lineage equi-join
    would lean on Spark's ambiguous-self-join auto-disambiguation.
    Compose stages by running later stages on the survivors of
    earlier ones and unioning the remaps (the gated query chains
    title-prefix → canonical-URL)."""
    keyed = df.select(key.alias("_k"), F.col(id_col))
    mins = (
        keyed.groupBy("_k")
        .agg(F.min(id_col).alias("kept_id"))
        .withColumnRenamed("_k", "_mk")
    )
    return (
        keyed.join(mins, F.col("_k").eqNullSafe(F.col("_mk")))
        .filter(F.col(id_col) != F.col("kept_id"))
        .select(
            F.col(id_col).cast("bigint").alias("dropped_id"),
            F.col("kept_id").cast("bigint").alias("kept_id"),
            F.lit(method).alias("method"),
        )
    )


def minhash_dedup_incremental(
    df: DataFrame,
    is_new: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Incremental near-dup admission — the steady-state production
    shape of :func:`minhash_dedup` (the MinHash twin of the exact
    ``dedup_incremental_batch`` gate): today's batch (rows where
    ``is_new``) is checked against the HISTORY (everything else) and
    against the batch's own earlier ids; history rows are already
    ingested and never re-adjudicated. Output: one row per NEW doc —
    ``(id, kept, matched_id)`` — kept=false iff some verified match
    exists (history at any id, or a new doc with a smaller id);
    matched_id = the smallest such partner (the provenance pointer
    dedup_remap chains on), NULL when kept.

    Scale shape vs the batch pipeline: signatures are computed for
    all rows (at steady state the history SIGNATURE table is a
    stored artifact keyed by band hash — recompute here only because
    the gate is self-contained), but the LSH bucket probe is
    all × NEW instead of all × all: candidate fan-out is bounded by
    the BATCH's bucket occupancy, so a small daily batch probes a
    100 TB history for the cost of its own buckets. Buckets holding
    more than ``max_bucket`` docs (history and batch together) are
    dropped before any bucket's (id, new) member list is built;
    buckets without a new member are skipped before any pair work,
    and the rest explode pairs (a, b) with b new and (a old or
    a < b). ``None`` means uncapped: candidates are then quadratic in
    the largest bucket. Verification is the same candidate-pruned
    exact-Jaccard second pass as minhash_dedup (sets built only for
    docs appearing in a candidate pair; never a full-corpus set
    shuffle). The result is one lazy plan and nothing is persisted, so
    no ``clearCache()`` is needed; a caller that runs more than one
    action on the result persists the result itself.

    Replayability contract (the dedup_minhash precedent): survivors
    are defined by EXACT verified Jaccard, so the oracle replays the
    brute-force rule and the row set matches whenever band recall
    holds at the gating fixture — which dedup_minhash_recall gates
    pairwise on the same (k, num_perm, bands) configuration.
    """
    q = _q(id_col)
    flagged = df.withColumn("_new", is_new)
    sigs = minhash_signatures(
        flagged, id_col, text_col, k, num_perm
    ).join(
        flagged.selectExpr(q, "_new"), id_col
    )
    banded = _band_rows(sigs, id_col, num_perm, bands, "_new")
    member = F.struct(F.col(q).alias("_i"), F.col("_new").alias("_n"))
    cand = (
        _bucket_pairs(
            banded, ["_band", "_bh"], member, max_bucket,
            having=F.bool_or("_new"),
        )
        .where("_b._n")
        .where("NOT _a._n OR _a._i < _b._i")
        .where("_a._i != _b._i")
        .selectExpr("_a._i AS id_a", "_b._i AS id_b")
        .distinct()
    )
    verified = _verified_jaccard_pairs(df, cand, id_col, text_col, k, threshold)
    matches = verified.groupBy("id_b").agg(
        F.expr("CAST(min(id_a) AS BIGINT) AS matched_id")
    )
    new_rows = flagged.where("_new").selectExpr(q)
    return new_rows.join(
        matches, F.expr(f"{q} <=> id_b"), "left"
    ).selectExpr(q, "matched_id IS NULL AS kept", "matched_id")


def shared_extent_contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    k: int = 6,
    w_cap: int = 18,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str | None = None,
) -> DataFrame:
    """Cross-set ExactSubstr decontamination (r10): one row per
    corpus doc sharing a >= ``k``-token VERBATIM span with any
    benchmark doc — ``(id, max_shared_toks, bench_id,
    n_hit_positions)`` — the forensic report contamination triage
    reads where :func:`~convert_parquet_to_csv_spark.operators.
    curation.flag_contaminated`'s n-gram flag only answers yes/no.
    ``max_shared_toks`` is the longest shared span (cap-clipped at
    ``k + w_cap``, the extents convention), ``bench_id`` a
    DETERMINISTIC WITNESS achieving it — the nearest suffix-order
    benchmark neighbor at the winning position (equal-slice ties
    take the smallest bench id via the total sort; across a doc's
    positions the smallest witness at the max wins), not necessarily
    the globally smallest id among all max-achieving benchmark docs.
    ``n_hit_positions`` counts corpus suffix positions whose >= k
    prefix appears verbatim in the benchmark.

    Algorithm — the two-set suffix identity (Lee et al. 2022's
    cross-set flavor of :func:`maximal_duplicated_extents`): the
    longest prefix of a corpus suffix matching ANY benchmark suffix
    equals its LCP with the NEAREST benchmark suffix above or below
    in suffix order. Both sides' (k + w_cap)-token slices union into
    the same per-k-gram windows (suffix order localizes as before);
    the nearest benchmark neighbors arrive as two running carries —
    ``last(bench_struct, ignorenulls)`` over the preceding frame and
    ``first(...)`` over the following frame — on ONE total-order
    sort (the c3 lesson: (side, id, p) tie-breakers, both engines).
    Gram pre-filter is exact and CROSS-SIDE: a corpus position can
    only produce a >= k cross-set match if its leading gram appears
    in the BENCHMARK, so the benchmark's distinct gram-hash set
    (bounded — thousands of docs → ~10⁵ 8-byte keys) BROADCASTS and
    the corpus stream filters map-side: ZERO corpus-scale shuffles
    before the window, whose volume is the intersection footprint
    plus the benchmark (the same reason the bm25 idf broadcast is
    query-bounded). No collect, no UDF, no single-partition window;
    hash collisions only admit extra window rows whose
    cross-boundary LCP < k, invisible past the >= k filter.
    Measured (mangled sf0.1 replicas, copy-0-mangled 200-doc bench,
    min-of-2, local[32]): the first cut's groupBy-form filter
    shuffled ~one gram key per corpus position and read 38.4 /
    172.5 s at 500k/1M with GC stalls at 2M; the broadcast form is
    near-flat — see the r10 ledger table.
    """
    frame = _xset_position_frame(
        docs, benchmark, k, w_cap, id_col, text_col, bench_id_col
    )
    return _xset_report(_xset_scored(frame, k), id_col)


def _xset_position_frame(
    docs: DataFrame,
    benchmark: DataFrame,
    k: int,
    w_cap: int,
    id_col: str,
    text_col: str,
    bench_id_col: str | None,
) -> DataFrame:
    """The cross-set suffix window pass of
    :func:`shared_extent_contamination`, stopping at the per-corpus-
    position neighbor frame ``(_id, _p, _s, _up, _dn)`` — factored
    out (r11) so the incremental path can persist and merge position
    tables. Expressions identical to the r10 kernel; the plan is
    unchanged up to column pruning."""
    bench_id = bench_id_col or id_col
    slice_len = k + w_cap

    def occ_of(df: DataFrame, idc: str, side: int) -> DataFrame:
        base = df.select(
            F.col(idc).alias("_id"), tokens(text_col).alias("_tk")
        ).filter(F.size("_tk") >= k)
        return base.select(
            "_id",
            F.explode(
                F.sequence(F.lit(0), F.size("_tk") - k)
            ).alias("_p"),
            "_tk",
        ).select(
            "_id",
            "_p",
            F.expr(f"slice(_tk, _p + 1, {slice_len})").alias("_s"),
            F.xxhash64(F.expr(f"slice(_tk, _p + 1, {k})")).alias("_gh"),
            F.lit(side).alias("_side"),
        )

    occ_c = occ_of(docs, id_col, 0)
    occ_b = occ_of(benchmark, bench_id, 1)
    # Cross-side gram filter via BROADCAST semi-join on the BENCH
    # gram set — the flag_contaminated device, and the scale fix the
    # first curve run forced: the first cut computed the cross-side
    # filter as min/max(side) over a (gh, side) groupBy, which
    # shuffles ~one key per corpus position (mangled replicas make
    # every gram distinct) — measured SUPERLINEAR, 38.4 s at 500k →
    # 172.5 s at 1M, GC-locker stalls at 2M. The benchmark side is
    # bounded (thousands of docs → ~10⁵ gram hashes, 8 bytes each),
    # so its distinct gram set broadcasts and the corpus stream
    # filters MAP-SIDE — zero corpus-scale shuffles before the
    # intersection-bounded window. Result set is identical: a corpus
    # position survives iff its gram appears in the benchmark
    # (the old filter's gram-in-corpus conjunct was trivially true).
    bench_grams = occ_b.select("_gh").distinct()
    both = occ_c.join(
        F.broadcast(bench_grams), "_gh", "left_semi"
    ).unionByName(occ_b)
    order = [
        F.col("_s").asc(),
        F.col("_side").asc(),
        F.col("_id").asc_nulls_first(),
        F.col("_p").asc(),
    ]
    wg = Window.partitionBy("_gh").orderBy(*order)
    bstruct = F.when(
        F.col("_side") == 1,
        F.struct(F.col("_s").alias("_bs"), F.col("_id").alias("_bid")),
    )
    up = F.last(bstruct, ignorenulls=True).over(
        wg.rowsBetween(Window.unboundedPreceding, 0)
    )
    dn = F.first(bstruct, ignorenulls=True).over(
        wg.rowsBetween(0, Window.unboundedFollowing)
    )
    return (
        both.withColumn("_up", up)
        .withColumn("_dn", dn)
        .filter(F.col("_side") == 0)
        .select("_id", "_p", "_s", "_up", "_dn")
    )


def _xset_lcp_against(nb: Column) -> Column:
    """LCP of the corpus slice ``_s`` against a neighbor struct's
    ``_bs`` (0 when the neighbor is NULL) — the r10 expression,
    shared by the from-scratch and merged-position paths."""
    zipped = F.zip_with(
        "_s", nb["_bs"], lambda x, y: x.eqNullSafe(y)
    )
    return F.when(nb.isNull(), F.lit(0)).otherwise(
        F.coalesce(
            F.nullif(
                F.array_position(zipped, F.lit(False)), F.lit(0)
            )
            - 1,
            F.least(F.size("_s"), F.size(nb["_bs"])),
        )
    )


def _xset_scored(frame: DataFrame, k: int) -> DataFrame:
    """Neighbor frame → per-position ``(_l, _partner)`` with the
    ``>= k`` report filter — the r10 scoring expressions (partner
    tie: equal LCPs take the smaller bench id). Keeps the frame
    columns so :func:`contamination_hit_positions` can re-select
    them; Catalyst prunes the extras in the aggregate-only path."""
    return (
        frame.select(
            "_id",
            "_p",
            "_s",
            "_up",
            "_dn",
            _xset_lcp_against(F.col("_up")).cast("bigint").alias("_lu"),
            _xset_lcp_against(F.col("_dn")).cast("bigint").alias("_ld"),
            F.col("_up._bid").alias("_bu"),
            F.col("_dn._bid").alias("_bd"),
        )
        .select(
            "_id",
            "_p",
            "_s",
            "_up",
            "_dn",
            F.greatest("_lu", "_ld").alias("_l"),
            F.when(F.col("_lu") > F.col("_ld"), F.col("_bu"))
            .when(F.col("_ld") > F.col("_lu"), F.col("_bd"))
            .otherwise(F.least("_bu", "_bd"))
            .alias("_partner"),
        )
        .filter(F.col("_l") >= k)
    )


def _xset_report(scored: DataFrame, id_col: str) -> DataFrame:
    """Per-doc contamination report from scored positions — the r10
    aggregate (max shared length; witness = argmax by (L desc,
    partner asc) via struct-max; hit-position count)."""
    return (
        scored.groupBy("_id")
        .agg(
            F.max("_l").cast("bigint").alias("max_shared_toks"),
            # struct-max argmax: max L first, then MIN partner id
            F.max(
                F.struct(
                    F.col("_l"), (-F.col("_partner")).alias("_nb")
                )
            ).alias("_mx"),
            F.count(F.lit(1)).cast("bigint").alias("n_hit_positions"),
        )
        .select(
            F.col("_id").alias(id_col),
            "max_shared_toks",
            (-F.col("_mx._nb")).cast("bigint").alias("bench_id"),
            "n_hit_positions",
        )
    )


def contamination_hit_positions(
    docs: DataFrame,
    benchmark: DataFrame,
    k: int = 6,
    w_cap: int = 18,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str | None = None,
) -> DataFrame:
    """Position-level cross-set contamination intermediate (r11,
    VERDICT r10 item 6): one row per corpus position whose >= ``k``-
    token prefix appears verbatim in ``benchmark`` — ``(id_col, p,
    s, up, dn)`` with the capped corpus slice and BOTH nearest-
    benchmark-neighbor structs ``(bs, bid)`` retained. This is the
    table an incremental pipeline PERSISTS per benchmark version:
    when a benchmark delta arrives, a delta-only run of this
    function merges with the stored table
    (:func:`merge_contamination_positions`) and re-aggregates —
    provably equal to a from-scratch run on the union (the suffix-
    identity max over a union of benchmark sets is the max of the
    per-set maxes, and the union's nearest neighbor at any position
    is the slice-order max/min of the per-set neighbors; the c3
    total-order tie-breaks make every step deterministic).

    Storage is contamination-footprint-bounded: positions with a
    >= k hit only, each carrying ≤ 3 capped slices.
    """
    frame = _xset_position_frame(
        docs, benchmark, k, w_cap, id_col, text_col, bench_id_col
    )
    return _xset_scored(frame, k).select(
        F.col("_id").alias(id_col),
        F.col("_p").alias("p"),
        F.col("_s").alias("s"),
        F.col("_up").alias("up"),
        F.col("_dn").alias("dn"),
    )


def merge_contamination_positions(
    pos_a: DataFrame,
    pos_b: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Merge two :func:`contamination_hit_positions` tables (same
    corpus, disjoint benchmark sets) into the union-benchmark
    position frame: full outer join on (id, p); the union's up-
    neighbor is the slice-order MAX of the per-set up-neighbors
    (the nearest-from-below among both sets' nearests), the union's
    dn-neighbor the slice-order MIN — ``greatest``/``least`` over
    the ``(bs, bid)`` structs, which skip NULLs and compare arrays
    lexicographically exactly like the window sort that produced
    them. The corpus slice rides through ``coalesce`` (identical on
    both sides wherever both are present).

    Plan shape: ONE equi-join keyed (id, p) on two contamination-
    footprint-scale tables — no corpus-scale work at all; this is
    the merge step's entire cost at 100 TB.
    """
    a = pos_a.select(
        F.col(id_col).alias("_id"),
        F.col("p").alias("_p"),
        F.col("s").alias("_sa"),
        F.col("up").alias("_ua"),
        F.col("dn").alias("_da"),
    )
    b = pos_b.select(
        F.col(id_col).alias("_id"),
        F.col("p").alias("_p"),
        F.col("s").alias("_sb"),
        F.col("up").alias("_ub"),
        F.col("dn").alias("_db"),
    )
    return a.join(b, ["_id", "_p"], "full_outer").select(
        F.col("_id").alias(id_col),
        F.col("_p").alias("p"),
        F.coalesce("_sa", "_sb").alias("s"),
        F.greatest("_ua", "_ub").alias("up"),
        F.least("_da", "_db").alias("dn"),
    )


def shared_extent_contamination_incremental(
    docs: DataFrame,
    bench_delta: DataFrame,
    old_positions: DataFrame,
    k: int = 6,
    w_cap: int = 18,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str | None = None,
) -> DataFrame:
    """Incremental cross-set ExactSubstr decontamination (r11,
    VERDICT r10 item 6): a new benchmark version arrives as
    ``bench_delta``; instead of re-running the union from scratch,
    run the suffix window pass against the DELTA ONLY (its gram set
    broadcasts — far smaller than the union's — so the window volume
    is the delta's intersection footprint), merge the resulting
    position table with the PERSISTED ``old_positions``
    (:func:`contamination_hit_positions` output for the previous
    benchmark version, same ``k``/``w_cap``), and re-aggregate.

    The result is provably equal to
    :func:`shared_extent_contamination` on ``bench_old ∪
    bench_delta`` — per corpus position, the longest shared prefix
    against a union of benchmark sets is the max of the per-set
    values, the union's nearest suffix-order neighbors are the
    slice-order extremes of the per-set neighbors, and gram-hash
    collisions cannot sort between a position and a true >= k match
    (the contiguous-prefix-range argument in the base kernel's
    docstring), so they never alter a reported value. Equality is
    test-pinned (tests/test_maximal_extents.py) AND driver-gated:
    the registered query's oracle IS the from-scratch union SQL.
    """
    delta_pos = contamination_hit_positions(
        docs, bench_delta, k, w_cap, id_col, text_col, bench_id_col
    )
    merged = merge_contamination_positions(
        old_positions, delta_pos, id_col
    )
    frame = merged.select(
        F.col(id_col).alias("_id"),
        F.col("p").alias("_p"),
        F.col("s").alias("_s"),
        F.col("up").alias("_up"),
        F.col("dn").alias("_dn"),
    )
    return _xset_report(_xset_scored(frame, k), id_col)
