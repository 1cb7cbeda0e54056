"""URL column builders: canonicalization, host/domain extraction.

The web-corpus prerequisites for URL- and domain-level dedup (the
dedup family CommonCrawl-style pipelines run BEFORE content dedup:
RefinedWeb §3.1 and CCNet both dedup by canonical URL first because
it is free — one string normalization + one shuffle — and removes
the bulk of crawl-recrawl duplicates without touching text).

Everything here is pure Column algebra (no UDFs) built from the
string functions that exist verbatim in both Spark and DuckDB
(lower/regexp_replace/split/array_sort/...) so the gated queries can
replay the exact same surgery in the oracle — the repo's standard
cross-engine determinism contract (plans/registry.py).

Canonicalization spec (documented order, applied by
:func:`url_canonicalize`):

1. trim; drop the ``#fragment``;
2. split off the ``?query``;
3. strip the scheme (``[a-z][a-z0-9+.-]*://``);
4. host = lowercased authority up to the first ``/``; strip one
   leading ``www.``; elide a scheme-default port suffix (``:80`` /
   ``:443``) REGARDLESS of scheme — the scheme is dropped from the
   key anyway (step 3), so per-scheme elision is unrepresentable
   here, and an ``http://…:443`` crawl URL is noise, not a distinct
   origin. NON-default ports are preserved: ``example.com:8080`` is
   a different origin and must not collapse into ``example.com``
   (ADVICE/VERDICT r7 — the port rule is now part of the spec);
5. path keeps its case (RFC 3986: paths are case-sensitive, hosts
   are not) but loses trailing ``/`` runs;
6. query params: drop tracking params (``utm_*``, ``fbclid``,
   ``gclid``, ``mc_cid``, ``mc_eid``, ``ref``), drop empties, SORT
   the rest (param order is almost never semantic; sorting makes
   ``?a=1&b=2`` == ``?b=2&a=1``), rejoin with ``&``;
7. canonical = host + path + (``?`` + query if non-empty).

Registered-domain extraction is the simplified last-two-labels rule;
a production deployment swaps in a broadcast public-suffix-list
table (the operator seam is a join on host suffix — noted in
operators/urls.py) — the simplification only mislabels
country-code second-level domains (``example.co.uk`` →
``co.uk``), which the synthetic fixtures do not contain.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from convert_parquet_to_csv_spark.functions.text import _col

# one alternation, anchored at param start — mirrored verbatim in the
# oracle SQL of the gated queries
TRACKING_PARAM_REGEX = r"^(utm_[a-z]+|fbclid|gclid|mc_cid|mc_eid|ref)="


def url_strip_scheme(col: Column | str) -> Column:
    """URL minus fragment and scheme: ``host[/path][?query]``."""
    c = F.trim(_col(col))
    no_frag = F.regexp_replace(c, r"#.*$", "")
    return F.regexp_replace(no_frag, r"^[a-zA-Z][a-zA-Z0-9+.\-]*://", "")


def url_host(col: Column | str) -> Column:
    """Lowercased host, one leading ``www.`` stripped, scheme-default
    port (``:80``/``:443``) elided; other ports preserved (module
    docstring, step 4)."""
    rest = url_strip_scheme(col)
    host = F.lower(F.regexp_replace(rest, r"[/?].*$", ""))
    no_www = F.regexp_replace(host, r"^www\.", "")
    return F.regexp_replace(no_www, r":(80|443)$", "")


def url_registered_domain(col: Column | str) -> Column:
    """Simplified registered domain: the last two dot-labels of the
    host (see module docstring for the public-suffix caveat)."""
    return F.regexp_extract(url_host(col), r"([^.]+\.[^.]+)$", 1)


def url_canonicalize(col: Column | str) -> Column:
    """Canonical URL key per the module-docstring spec — the dedup
    join key for crawl-recrawl / tracking-link duplicates."""
    rest = url_strip_scheme(col)
    host = url_host(col)
    path_q = F.regexp_replace(rest, r"^[^/?]*", "")
    path = F.regexp_replace(
        F.regexp_replace(path_q, r"\?.*$", ""), r"/+$", ""
    )
    query = F.when(
        path_q.contains("?"), F.regexp_replace(path_q, r"^[^?]*\?", "")
    ).otherwise(F.lit(""))
    kept = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_REGEX),
        )
    )
    qjoin = F.array_join(kept, "&")
    return F.concat(
        host,
        path,
        F.when(qjoin != "", F.concat(F.lit("?"), qjoin)).otherwise(
            F.lit("")
        ),
    )
