"""Text-analysis functions for large-scale document pipelines.

Beyond the reference's surface (its only string ops are filename
endswith/split, utils.py:37-44): language-ID, quality scoring, token
counting, fingerprinting — the text layer a 100 TB training-data
pipeline needs (BASELINE.json north-star).

Everything here is a *Column expression builder* over built-in
``pyspark.sql.functions`` — JVM-side, whole-stage-codegen, zero Python
in the row path. Each builder's semantics are chosen to be exactly
reproducible in ANSI SQL so the DuckDB oracle can replay them
(length/replace/regexp arithmetic only).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword markers for the n-gram/stopword heuristic
# language ID. Space-padded so they match whole words. Deliberately
# small + deterministic: the point is the *operator* (argmax of marker
# hit-counts, oracle-reproducible), not linguistic accuracy.
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of ", " is "],
    "de": [" der ", " und ", " die ", " ist "],
    "fr": [" le ", " et ", " les ", " est "],
    "es": [" el ", " y ", " los ", " es "],
}

# BPE-ish pre-tokenization: runs of word chars OR runs of non-word,
# non-space chars. Same semantics in Java regex and RE2 (DuckDB).
BPE_REGEX = "[A-Za-z0-9_]+|[^A-Za-z0-9_ \\t\\n]"


def _q(name: str) -> str:
    """``name`` as a backquoted SQL identifier (inner backquotes doubled),
    so any column name can be spliced into SQL expression text."""
    return "`" + name.replace("`", "``") + "`"


def _col(col: Column | str) -> Column:
    """``col`` as a Column; a ``str`` is one column name, taken verbatim
    (``F.col`` would read dots as struct fields and parse backquotes)."""
    return F.col(_q(col)) if isinstance(col, str) else col


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization → array<string>, empty-safe.

    ``split`` of an empty/blank string yields ``[""]``; the filter
    drops empty tokens so blank docs get ``[]`` (the sf fixtures
    contain whitespace-only documents).
    """
    c = _col(col)
    return F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != "")


def synth_token_lines(col: Column | str, w: int = 4) -> Column:
    """Wrap a doc's whitespace tokens into ``w``-token lines joined
    by ``"\\n"`` — the deterministic line structure the line-dedup
    gate and its bench kernel share (r8 review: the bench copy had
    drifted — ``sequence(1, 0)`` is DESCENDING ``[1, 0]`` in Spark,
    so an unguarded empty doc produced two phantom blank lines).
    NULL text → NULL; token-less text → ``''`` (re-splitting gives
    one blank line, which the dedup exempts as structure).

    The token array is bound ONCE via the single-element
    ``transform(array(tokens), tk -> ...)``` trick: referencing
    ``tokens(col)`` in all four places re-runs the regex
    split+filter per reference (conditional branches block Spark's
    common-subexpression elimination) — measured +20% on the
    500k-doc line-dedup kernel before the bind."""

    def _lines(tk: Column) -> Column:
        chunks = F.transform(
            F.sequence(
                F.lit(1),
                F.ceil(F.size(tk) / F.lit(float(w))).cast("int"),
            ),
            lambda p: _token_line(tk, w, p),
        )
        return (
            F.when(tk.isNull(), F.lit(None).cast("string"))
            .when(F.size(tk) == 0, F.lit(""))
            .otherwise(F.array_join(chunks, "\n"))
        )

    return F.transform(F.array(tokens(col)), _lines)[0]


def _token_line(tk: Column, w: int, p: Column) -> Column:
    """Line ``p`` (1-based) of a token array wrapped at ``w`` tokens —
    THE line builder both synthesizers share (review r9: the lambda
    had been duplicated; a fix to the wrap rule must live once)."""
    return F.array_join(F.slice(tk, (p - 1) * w + 1, w), " ")


def synth_token_paragraphs(
    col: Column | str, w: int = 4, lines: int = 2
) -> Column:
    """Wrap a doc's whitespace tokens into ``w``-token lines and the
    lines into ``lines``-line PARAGRAPHS — lines joined by ``"\\n"``
    inside a paragraph, paragraphs joined by ``"\\n\\n"`` (Dolma's
    actual dedup unit). The two-level sibling of
    :func:`synth_token_lines`, sharing its contracts: NULL text →
    NULL, token-less text → ``''``, the token array bound ONCE via
    the single-element transform trick, and every ``sequence`` upper
    bound ≥ its lower bound by construction (the descending
    ``sequence(1, 0)`` trap)."""

    def _paras(tk: Column) -> Column:
        n_lines = F.ceil(F.size(tk) / F.lit(float(w))).cast("int")

        def _line(p: Column) -> Column:
            return _token_line(tk, w, p)

        paras = F.transform(
            F.sequence(
                F.lit(1),
                F.ceil(n_lines / F.lit(float(lines))).cast("int"),
            ),
            lambda q: F.array_join(
                F.transform(
                    F.sequence(
                        (q - 1) * lines + 1,
                        F.least(q * lines, n_lines),
                    ),
                    _line,
                ),
                "\n",
            ),
        )
        return (
            F.when(tk.isNull(), F.lit(None).cast("string"))
            .when(F.size(tk) == 0, F.lit(""))
            .otherwise(F.array_join(paras, "\n\n"))
        )

    return F.transform(F.array(tokens(col)), _paras)[0]


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def token_count_bpe(col: Column | str) -> Column:
    """BPE-ish token count: word runs + individual punctuation marks,
    the standard cheap proxy for LLM token budgeting."""
    c = _col(col)
    return F.size(F.regexp_extract_all(c, F.lit(BPE_REGEX), 0))


def normalize_text(col: Column | str) -> Column:
    """Canonical form for fingerprinting/dedup: lowercase, collapse
    whitespace runs, trim."""
    c = _col(col)
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def doc_fingerprint(col: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.

    md5 is identical in every engine — the fingerprint doubles as the
    exact-dedup key and the oracle-checkable content hash.
    """
    return F.md5(normalize_text(col))


def _count_occurrences(c: Column, needle: str) -> Column:
    """#occurrences of a literal in a string via length arithmetic —
    the one occurrence-counting form both Spark and DuckDB evaluate
    identically: (len(s) - len(replace(s, needle, ''))) / len(needle)."""
    return (
        F.length(c) - F.length(F.replace(c, F.lit(needle), F.lit("")))
    ) / len(needle)


def lang_marker_score(col: Column | str, lang: str) -> Column:
    """Total marker-stopword hits for one language."""
    c = _col(col)
    # Pad so edge words match; lowercase first.
    padded = F.concat(F.lit(" "), F.lower(c), F.lit(" "))
    score = F.lit(0.0)
    for m in LANG_MARKERS[lang]:
        score = score + _count_occurrences(padded, m)
    return score


def lang_id(col: Column | str) -> Column:
    """Heuristic language ID: argmax of per-language marker hits,
    fixed tie-break order en→de→fr→es, 'und' (undetermined) when no
    marker hits at all."""
    scores = {lang: lang_marker_score(col, lang) for lang in LANG_MARKERS}
    langs = list(LANG_MARKERS)
    best = scores[langs[0]]
    for lang in langs[1:]:
        best = F.greatest(best, scores[lang])
    out = F.when(best <= 0, F.lit("und"))
    for lang in langs:  # first max in fixed order wins ties
        out = out.when(scores[lang] == best, F.lit(lang))
    return out


def quality_features(col: Column | str) -> dict[str, Column]:
    """Quality-scoring feature set (length/punct/stopword ratios).

    Returned as name→Column so callers ``select(**)`` or pick subsets;
    all single-division doubles over exact integer counts — bitwise
    reproducible cross-engine.
    """
    c = _col(col)
    n_chars = F.length(c)
    toks = tokens(c)
    n_tokens = F.size(toks)
    n_alpha = F.length(F.regexp_replace(c, "[^A-Za-z]", ""))
    n_punct = F.length(F.regexp_replace(c, r"[^.,;:!?'\"]", ""))
    n_upper = F.length(F.regexp_replace(c, "[^A-Z]", ""))
    stop_hits = lang_marker_score(c, "en")
    safe = lambda num, den: F.when(den > 0, num.cast("double") / den.cast("double")).otherwise(F.lit(0.0))  # noqa: E731
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": n_tokens.cast("long"),
        "avg_token_len": safe(n_alpha, n_tokens),
        "alpha_ratio": safe(n_alpha, n_chars),
        "punct_ratio": safe(n_punct, n_chars),
        "upper_ratio": safe(n_upper, n_chars),
        "stopword_ratio": safe(stop_hits, n_tokens),
    }


def quality_score(col: Column | str) -> Column:
    """Scalar quality score in [0,1]: weighted blend of the features —
    the 'keep or drop' signal a pretraining filter thresholds on."""
    f = quality_features(col)
    length_ok = F.when(
        (f["n_tokens"] >= 5) & (f["n_chars"] >= 20), F.lit(1.0)
    ).otherwise(F.lit(0.0))
    return (
        0.4 * length_ok
        + 0.3 * F.least(f["alpha_ratio"] * 1.25, F.lit(1.0))
        + 0.2 * F.least(f["stopword_ratio"] * 4, F.lit(1.0))
        + 0.1 * (1.0 - F.least(f["punct_ratio"] * 5, F.lit(1.0)))
    )


def shingles(col: Column | str, k: int = 3) -> Column:
    """Word k-gram shingle set → array<string> (distinct), the unit of
    MinHash/Jaccard near-dup detection. Docs with < k tokens get their
    whole text as the single shingle (so short docs still compare)."""
    toks = tokens(col)
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(n - k, F.lit(0))),
        lambda i: F.array_join(F.slice(toks, i + 1, k), " "),
    )
    return F.array_distinct(
        F.when(n > 0, grams).otherwise(F.array())
    )


def ngrams(col: Column | str, n: int = 13) -> Column:
    """Ordered positional word n-grams of the lowercased text →
    array<string> (duplicates kept, one entry per start position).
    Unlike :func:`shingles` this is the decontamination unit: test-set
    overlap checks compare every occurrence, and the window is
    conventionally long (13 words) so a match is near-certain verbatim
    copying. Docs with < n tokens yield an empty array — a short doc
    can't contain a long benchmark gram.
    """
    toks = tokens(F.lower(_col(col)))
    cnt = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), cnt - (n - 1)),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    return F.when(cnt >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


# --------------------------------------------------------------------------
# PII redaction
# --------------------------------------------------------------------------

# Patterns restricted to the dialect java.util.regex and RE2 (DuckDB)
# agree on: literals, classes, bounded repetition — no lookaround, no
# backrefs. Order matters: emails are matched before bare phone-ish
# number runs so "user@host" isn't half-eaten by the phone rule.
PII_PATTERNS: list[tuple[str, str, str]] = [
    # (kind, pattern, replacement)
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\b\d{3}[-.]\d{3,4}[-.]?\d{0,4}\b", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
]


def redact_pii(col: Column | str) -> Column:
    """Mask emails / phone numbers / IPv4s / SSN-shaped ids with typed
    placeholder tags. Chained JVM ``regexp_replace`` — regex over
    100 TB of text is exactly where a Python UDF would be catastrophic,
    so this stays in whole-stage codegen end to end. SSN before phone:
    the phone pattern would otherwise swallow the first 7 digits of a
    123-45-6789 run."""
    c = _col(col)
    for kind in ("email", "ipv4", "ssn", "phone"):
        pattern, repl = next(
            (p, r) for k, p, r in PII_PATTERNS if k == kind
        )
        c = F.regexp_replace(c, pattern, repl)
    return c


def pii_counts(col: Column | str) -> dict[str, Column]:
    """Per-kind REDACTION counts — how many replacements
    :func:`redact_pii` actually makes, not independent raw-text match
    counts. Each kind counts on text with the prior kinds already
    replaced, in redact_pii's order (email→ipv4→ssn→phone): the
    patterns overlap (the phone regex matches inside an IPv4 like
    192.168.1.100), so independent counting would report phone
    redactions that never happen. Still pure chained JVM regex —
    one codegen projection."""
    c = _col(col)
    out: dict[str, Column] = {}
    for kind in ("email", "ipv4", "ssn", "phone"):
        pattern, repl = next(
            (p, r) for k, p, r in PII_PATTERNS if k == kind
        )
        out[f"n_{kind}"] = F.regexp_count(c, F.lit(pattern))
        c = F.regexp_replace(c, pattern, repl)
    return out


def md5_long(col: Column | str, salt: str = "") -> Column:
    """House cross-engine RNG draw: the first 60 bits of
    ``md5(salt || str(x))`` as a non-negative BIGINT. DuckDB twin:
    ``('0x' || substr(md5('salt' || CAST(x AS VARCHAR)), 1, 15))::BIGINT``.

    Extracted as the SHARED primitive behind the md5-parity /
    md5-selection idiom (:func:`...operators.curation.md5_parity_micro`
    is the gated precedent and is deliberately left untouched): new
    consumers (deterministic split points, selection gates) call this
    one rule so the Spark and oracle renderings cannot drift. 15 hex
    chars < 2^60, so the value is always positive and ``%`` agrees
    between engines (no negative-mod divergence).
    """
    c = _col(col)
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), c.cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")


def md5_long_sql(expr: str, salt: str = "") -> str:
    """The DuckDB rendering of :func:`md5_long` — kept beside it so
    the two strings are reviewed as one unit. The salt interpolates
    into a SQL string literal, so single quotes are doubled (ADVICE
    r11: an unescaped ``'`` would break — or inject into — the
    oracle while the Spark side handled it fine, a silent
    divergence); ``F.lit(salt)`` on the Spark side needs no escape,
    so values still agree byte-for-byte."""
    return (
        f"('0x' || substr(md5('{salt.replace(chr(39), chr(39) * 2)}' "
        f"|| CAST({expr} AS VARCHAR)), 1, 15))::BIGINT"
    )
