"""Link extraction + URL frontier (the reference's S2 + T8, SURVEY §2.1).

The reference discovers pages by parsing every fetched document's ``<a href>``
anchors, URL-decoding them, matching them against four site-scoped regexes,
applying a non-decreasing-path-depth rule, and deduplicating the survivors
into the crawl frontier. There is no crawl here (the engine indexes transcript
tables, not the live web), but the *operator* is pure data transformation, so
it is reproduced batch-style over a DataFrame of already-fetched pages.

Reference semantics, item by item (citations into /root/reference):

- href harvest: jsoup ``doc.select("a")`` → ``link.attr("href")`` —
  ``indexing/PageIndexer.java:169-173,203``. Here a codegen'd
  ``regexp_extract_all`` over the raw HTML (double- or single-quoted
  ``href`` attributes).
- T8 URL decode: ``URLDecoder.decode(href, UTF_8)`` applied only when the
  href contains ``%``; a decode failure keeps the raw href —
  ``PageIndexer.java:195-202``. Mirrored with ``try_url_decode`` +
  ``coalesce`` (Spark's ``url_decode`` IS ``java.net.URLDecoder`` on the
  JVM, so byte semantics match the reference exactly, including ``+``→space).
- regex cascade, first match wins, reference order plain → .html → .php →
  cyrillic — ``PageIndexer.java:52-60,204-221``; pattern library
  ``indexing/Regexes.java:4-15``, carried over VERBATIM (Spark's ``rlike``
  runs ``java.util.regex`` on the JVM — the same engine the reference uses).
  All four patterns are anchored ``^(...)$`` and capture the entire match,
  so "which pattern matched first" never changes the output and the cascade
  collapses to a single OR of full-string memberships. Absolute ``http…``
  links are handled as the reference does (``PageIndexer.java:207-213``):
  the site's own domain is located inside the decoded href and the remainder
  must fully match one of the relative patterns; hrefs not containing the
  domain are foreign and yield no link.
- depth rule: keep a link iff it differs from the source page's path and its
  ``/``-count is >= the source page's (``urlLevel - subUrlLevel >= 0``) —
  ``PageIndexer.java:174-191``. A non-matching href becomes ``""`` (depth 0)
  and dies here, exactly as in the reference, because every real page path
  starts with ``/``.
- frontier dedup: survivors are deduplicated per (site, path) and filtered
  against the already-known page set —
  ``PageIndexer.java:76-77`` (ConcurrentSkipListSet keyed on path) and the
  ``pages.contains`` gate ``:186-189``.

Documented divergences (both strictly tighter than the reference, never
looser):

- ``site.getSubDomain()`` is assumed ``""`` — the reference's
  ``findSubDomainUrl`` (``indexing/IndexingThread.java:181-186``) returns
  ``""`` whenever a site is configured at its domain root, which every site
  in the reference's ``application.yaml`` is. Pass ``sub_domain=`` to scope
  a site deeper; it is embedded into the anchored patterns exactly as the
  reference embeds it (raw, at ``PageIndexer.java:52-60``).
- the reference concatenates the domain into the http-case pattern as RAW
  regex text, so the ``.`` characters in a real domain match any character;
  here the domain is matched as a literal string (``instr``), which accepts
  a subset of what the reference's accidental-metacharacter pattern accepts.

Scale: harvest, decode, cascade and depth rule are all whole-stage-codegen
JVM expressions over the page rows — zero Python, zero extra shuffle. The
only shuffles are the frontier's distinct on (site, path) and the
seen-set anti-join (broadcast when the page set is small, sort-merge when
it is not) — at 10^12 pages both are plain keyed shuffles with no skew
beyond the site key itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# --- Regexes.java:4-15, verbatim -------------------------------------------
TDT = r"\w+([\-_\w])*"  # Text - dash - text
RUDRU = r"[А-Яа-я]*\w*([\-_][А-Яа-я]*\w*)*"  # Russian - dash - russian
SLASH_TEXT_SLASH = f"((/{TDT})+/?)"
SLASH_TEXT_SLASH_RU = f"((/{RUDRU})+/?)"
SEARCH_PARAMS = f"(\\?{TDT}={TDT}(&{TDT}={TDT})*)?"
SEARCH_PARAMS_RU = f"(\\?{RUDRU}={RUDRU}(&{RUDRU}={RUDRU})*)?"
PHP_URL = f"{TDT}\\.php"
HTML_URL = f"{TDT}\\.html"

# href attribute harvest. jsoup (the reference's parser) matches attribute
# names case-insensitively, tolerates whitespace around '=', and accepts
# double-quoted / single-quoted / bare values — three exact patterns (a
# single ["']...["'] class would accept mismatched quotes). (?i) is valid
# in both java.util.regex (Spark) and RE2 (the DuckDB oracle). jsoup also
# HTML-entity-decodes attribute values before the reference ever sees the
# href; of the common entities only &amp; yields a character the site
# patterns can accept, so the harvest decodes exactly that (documented
# subset — &lt;/&gt;/&quot;/&#39; all decode to characters every pattern
# rejects, making them outcome-equivalent to not decoding).
HREF_PATTERNS = [
    r'(?i)<a\s[^>]*href\s*=\s*"([^"]*)"',
    r"(?i)<a\s[^>]*href\s*=\s*'([^']*)'",
    r"""(?i)<a\s[^>]*href\s*=\s*([^\s>"'][^\s>]*)""",
]


def site_link_patterns(sub_domain: str = "") -> list[str]:
    """The four anchored per-site patterns, reference order
    (PageIndexer.java:52-60): plain, .html, .php, cyrillic."""
    s = sub_domain
    return [
        f"^({s}{SLASH_TEXT_SLASH}{SEARCH_PARAMS})$",
        f"^({s}{SLASH_TEXT_SLASH}{HTML_URL}{SEARCH_PARAMS})$",
        f"^({s}{SLASH_TEXT_SLASH}{PHP_URL}{SEARCH_PARAMS})$",
        f"^({s}{SLASH_TEXT_SLASH_RU}{SEARCH_PARAMS_RU})$",
    ]


def link_candidates(
    pages: DataFrame,
    *,
    html_col: str = "html",
    path_col: str = "path",
    site_col: str = "site",
    domain_col: str = "domain",
    sub_domain: str = "",
) -> DataFrame:
    """Per-page harvested links after decode + regex cascade + depth rule.

    Input: one row per fetched page (site, domain, path, html). Output: one
    row per SURVIVING anchor — (site, path, link) — before frontier dedup.
    """
    harvested = F.concat(
        *[
            F.regexp_extract_all(F.col(html_col), F.lit(p), 1)
            for p in HREF_PATTERNS
        ]
    )
    out = pages.select(
        F.col(site_col).alias("site"),
        F.col(domain_col).alias("domain"),
        F.col(path_col).alias("path"),
        F.explode(harvested).alias("href_raw"),
    ).select(
        "site",
        "domain",
        "path",
        # jsoup entity-decodes attribute values; &amp; is the only common
        # entity whose decoded char the site patterns accept (see above)
        F.replace(F.col("href_raw"), F.lit("&amp;"), F.lit("&")).alias("href"),
    )
    # T8: decode only when '%' is present; failed decode keeps the raw href
    # (PageIndexer.java:195-202 catches IllegalArgumentException).
    dec = F.when(
        F.col("href").contains("%"),
        F.coalesce(F.try_url_decode("href"), F.col("href")),
    ).otherwise(F.col("href"))
    out = out.withColumn("dec", dec)
    # absolute links: locate the site's own domain, match the remainder
    # (PageIndexer.java:207-213); relative links match as-is.
    rel = F.when(~F.col("dec").startswith("http"), F.col("dec")).otherwise(
        F.when(
            F.expr("instr(dec, domain)") > 0,
            F.expr("substring(dec, instr(dec, domain) + length(domain))"),
        ).otherwise(F.lit(""))
    )
    out = out.withColumn("rel", rel)
    matched = None
    for pat in site_link_patterns(sub_domain):
        cond = F.col("rel").rlike(pat)
        matched = cond if matched is None else (matched | cond)
    link = F.when(matched, F.col("rel")).otherwise(F.lit(""))
    out = out.withColumn("link", link)

    def depth(c):  # '/'-count, calculateUrlLevel (PageIndexer.java:175-177)
        return F.length(c) - F.length(F.regexp_replace(c, "/", ""))

    # checkLink (PageIndexer.java:179-191): not the page itself, depth
    # non-decreasing. A "" non-match has depth 0 and dies here because every
    # page path contains at least one '/'.
    return out.filter(
        (F.col("link") != F.col("path")) & (depth("link") >= depth("path"))
    ).select("site", "path", "link")


def extract_frontier(
    pages: DataFrame,
    *,
    html_col: str = "html",
    path_col: str = "path",
    site_col: str = "site",
    domain_col: str = "domain",
    sub_domain: str = "",
) -> DataFrame:
    """S2 end-to-end: the deduplicated URL frontier — distinct surviving
    (site, path) links minus the already-known page set
    (PageIndexer.java:76-77,186-189)."""
    cands = link_candidates(
        pages,
        html_col=html_col,
        path_col=path_col,
        site_col=site_col,
        domain_col=domain_col,
        sub_domain=sub_domain,
    )
    new = cands.select("site", F.col("link").alias("path")).dropDuplicates(
        ["site", "path"]
    )
    seen = pages.select(
        F.col(site_col).alias("site"), F.col(path_col).alias("path")
    ).dropDuplicates(["site", "path"])
    return new.join(seen, ["site", "path"], "left_anti")
