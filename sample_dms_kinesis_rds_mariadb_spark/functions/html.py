"""HTML → text extraction as pure column expressions — the first
transform every crawl-corpus pipeline applies after WARC ingestion
(``sources/warc.py``), kept JVM-side so it runs at scan speed over
100 TB of crawl payloads: a chain of ``regexp_replace`` passes (codegen,
no Python workers, no shuffle).

Extraction contract (documented here, asserted against an independent
Python reference in ``tests/test_warc.py``, and oracle-checked against
DuckDB in the ``html_text_extract`` EXTRA catalog query — all three
engines run the same RE2-compatible patterns):

- ``<script>``/``<style>``/``<noscript>``/``<template>`` blocks drop
  with their CONTENT (case-insensitive, lazy to the matching close tag)
- HTML comments (``<!-- -->``) and CDATA sections drop
- block-level closers and separators (``</p> </div> </li> </h1-6>
  </tr> </table> </blockquote> </section> </article> <br> <hr>``)
  become newlines BEFORE generic tag stripping, so block structure
  survives as line structure
- every remaining tag (incl. ``<!DOCTYPE``) strips to nothing
- the common named entities decode (``&amp; &lt; &gt; &quot;
  &apos; &nbsp;``) plus the two numeric references that dominate real
  markup (``&#39;`` apostrophe, ``&#32;`` space); other entities pass
  through verbatim (an honest boundary — full entity tables are a
  dictionary lookup, not a scan-speed regexp)
- horizontal whitespace collapses to single spaces, space-padded
  newlines tighten, 3+ newlines collapse to exactly 2 (paragraph
  breaks), result is trimmed

All patterns avoid backreferences, lookaround, and lazy-dot-across-
newline ambiguity differences so Java regex (Spark), RE2 (DuckDB), and
Python ``re`` produce identical output on the same input.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# (pattern, replacement) in application order — THE extraction contract.
# (?is): case-insensitive + dot-matches-newline, supported by Java, RE2
# and Python alike.
HTML_TEXT_RULES: tuple[tuple[str, str], ...] = (
    (r"(?is)<script[^>]*>.*?</script\s*>", " "),
    (r"(?is)<style[^>]*>.*?</style\s*>", " "),
    (r"(?is)<noscript[^>]*>.*?</noscript\s*>", " "),
    (r"(?is)<template[^>]*>.*?</template\s*>", " "),
    (r"(?s)<!--.*?-->", " "),
    (r"(?s)<!\[CDATA\[.*?\]\]>", " "),
    (
        r"(?i)</(p|div|li|ul|ol|h1|h2|h3|h4|h5|h6|tr|table|blockquote|"
        r"section|article)\s*>|<(br|hr)\s*/?\s*>",
        "\n",
    ),
    (r"(?s)<[^>]*>", " "),
    (r"&nbsp;", " "),
    (r"&#32;", " "),
    (r"[ \t\r\x0b\f]+", " "),
    (r" ?\n ?", "\n"),
    (r"\n{3,}", "\n\n"),
)

# entity decodes that map to NON-space characters run after whitespace
# collapsing so the decoded characters can't merge with the collapse
HTML_ENTITY_RULES: tuple[tuple[str, str], ...] = (
    (r"&lt;", "<"),
    (r"&gt;", ">"),
    (r"&quot;", '"'),
    (r"&#39;", "'"),
    (r"&apos;", "'"),
    (r"&amp;", "&"),  # LAST: '&amp;lt;' must yield '&lt;', not '<'
)


def html_to_text(col: Column) -> Column:
    """Extract readable text from an HTML column at scan speed — the
    module-docstring contract, as one codegen'd ``regexp_replace``
    chain. NULL in ⇒ NULL out."""
    out = col
    for pat, rep in HTML_TEXT_RULES:
        out = F.regexp_replace(out, pat, rep)
    for pat, rep in HTML_ENTITY_RULES:
        out = F.regexp_replace(out, pat, rep)
    # explicit ASCII-whitespace trim: F.trim strips spaces only, and
    # Python's str.strip also eats unicode whitespace — the shared regexp
    # keeps all three engines (Java/RE2/Python) byte-identical
    return F.regexp_replace(out, _EDGE_WS, "")


_EDGE_WS = r"^[ \t\n\r\x0b\f]+|[ \t\n\r\x0b\f]+$"


def py_html_to_text(html: str) -> str:
    """Independent-execution Python mirror of :func:`html_to_text` (same
    published rule list, Python ``re`` engine) for parity tests."""
    import re

    out = html
    for pat, rep in HTML_TEXT_RULES:
        out = re.sub(pat, rep, out)
    for pat, rep in HTML_ENTITY_RULES:
        out = re.sub(pat, rep, out)
    return re.sub(_EDGE_WS, "", out)


def html_links(col: Column) -> Column:
    """ARRAY<STRING> of anchor href values, document order — a crawl's
    link edges after URL canonicalization. Pure codegen: two
    ``regexp_extract_all`` passes (one per quote style, concatenated) keep
    the pattern free of cross-engine alternation-group ambiguity."""
    dq = F.regexp_extract_all(
        col, F.lit("(?is)<a\\s[^>]*?href\\s*=\\s*\"([^\"<>]*)\""), 1
    )
    sq = F.regexp_extract_all(
        col, F.lit("(?is)<a\\s[^>]*?href\\s*=\\s*'([^'<>]*)'"), 1
    )
    return F.concat(dq, sq)


def py_html_links(html: str) -> list[str]:
    """Python mirror of :func:`html_links` (same two patterns, same
    double-then-single ordering) for parity tests."""
    import re

    dq = re.findall(r"(?is)<a\s[^>]*?href\s*=\s*\"([^\"<>]*)\"", html)
    sq = re.findall(r"(?is)<a\s[^>]*?href\s*=\s*'([^'<>]*)'", html)
    return dq + sq


def sitemap_urls(col: Column) -> Column:
    """ARRAY<STRING> of ``<loc>`` values from a sitemap / sitemap-index
    XML column — with :func:`html_links` and ``operators/robots.py``
    this completes the crawl-frontier toolkit (robots ``Sitemap:``
    lines → sitemap fetch → URL list → robots_filter → frontier).
    Back-compat name: delegates to the one implementation,
    ``operators/robots.py::sitemap_locs`` (r12 — adds the XML
    named-entity unescape the sitemap spec requires plus
    attribute-bearing tags; CDATA still literal)."""
    from sample_dms_kinesis_rds_mariadb_spark.operators.robots import (
        sitemap_locs,
    )

    return sitemap_locs(col)


# href + anchor-text in one pattern (groups 1/2); extracting each group
# with the SAME pattern guarantees equal match counts, so arrays_zip is
# positionally safe
_ANCHOR_PATTERN = (
    "(?is)<a\\s[^>]*?href\\s*=\\s*\"([^\"<>]*)\"[^>]*>(.*?)</a\\s*>"
)


def html_link_anchors(col: Column) -> Column:
    """ARRAY<STRUCT<href,anchor>> of double-quoted links WITH their
    anchor text (inner tags stripped, whitespace collapsed, trimmed) —
    anchor text is the classic relevance/quality signal attached to
    link-graph edges. Pure codegen: two ``regexp_extract_all`` passes
    over one shared pattern + ``arrays_zip`` + a ``transform`` cleanup.
    Single-quoted hrefs (see :func:`html_links`) are out of this
    function's contract — the zip needs one pattern for positional
    pairing."""
    hrefs = F.regexp_extract_all(col, F.lit(_ANCHOR_PATTERN), 1)
    texts = F.regexp_extract_all(col, F.lit(_ANCHOR_PATTERN), 2)
    cleaned = F.transform(
        texts,
        lambda t: F.trim(
            F.regexp_replace(
                F.regexp_replace(t, r"(?s)<[^>]*>", " "), r"\s+", " "
            )
        ),
    )
    return F.arrays_zip(hrefs.alias("href"), cleaned.alias("anchor"))


def py_html_link_anchors(html: str) -> list[tuple[str, str]]:
    """Python mirror of :func:`html_link_anchors` for parity tests."""
    import re

    out = []
    for href, text in re.findall(
        r"(?is)<a\s[^>]*?href\s*=\s*\"([^\"<>]*)\"[^>]*>(.*?)</a\s*>", html
    ):
        t = re.sub(r"\s+", " ", re.sub(r"(?s)<[^>]*>", " ", text)).strip()
        out.append((href, t))
    return out


# --------------------------------------------------------------------------
# page metadata (r12): title / meta / OpenGraph / canonical / JSON-LD
# --------------------------------------------------------------------------

_Q = "[\"']"


def _decode_entities(col: Column) -> Column:
    for pat, rep in HTML_ENTITY_RULES:
        col = F.regexp_replace(col, pat, rep)
    return col


def _nullif_blank(col: Column) -> Column:
    return F.nullif(F.trim(col), F.lit(""))


def _meta_content(col: Column, key: str) -> Column:
    """content= of a <meta name=...> / <meta property=...> tag, both
    attribute orders and both quote styles — four anchored
    ``regexp_extract`` passes coalesced; '' (no match) becomes NULL."""
    pats = [
        f"(?is)<meta\\s[^>]*?(?:name|property)\\s*=\\s*{_Q}{key}{_Q}"
        "[^>]*?content\\s*=\\s*\"([^\"]*)\"",
        f"(?is)<meta\\s[^>]*?(?:name|property)\\s*=\\s*{_Q}{key}{_Q}"
        "[^>]*?content\\s*=\\s*'([^']*)'",
        "(?is)<meta\\s[^>]*?content\\s*=\\s*\"([^\"]*)\""
        f"[^>]*?(?:name|property)\\s*=\\s*{_Q}{key}{_Q}",
        "(?is)<meta\\s[^>]*?content\\s*=\\s*'([^']*)'"
        f"[^>]*?(?:name|property)\\s*=\\s*{_Q}{key}{_Q}",
    ]
    return F.coalesce(
        *[_nullif_blank(F.regexp_extract(col, p, 1)) for p in pats]
    )


def html_page_metadata(col: Column) -> Column:
    """STRUCT<title, description, og_title, og_description, og_image,
    canonical, lang, robots_meta> — the page-level curation signals a
    crawl pipeline routes and filters on, extracted as pure codegen
    ``regexp_extract`` passes (both meta attribute orders, both quote
    styles; title/description entity-decoded with the module's
    published chain; absent fields are NULL, never ''). At 100 TB this
    is a scan: no Python, no shuffle, no parse tree."""
    title = _nullif_blank(_decode_entities(F.regexp_extract(
        col, r"(?is)<title[^>]*>\s*(.*?)\s*</title", 1
    )))
    canonical = F.coalesce(
        _nullif_blank(F.regexp_extract(
            col,
            f"(?is)<link\\s[^>]*?rel\\s*=\\s*{_Q}canonical{_Q}"
            "[^>]*?href\\s*=\\s*[\"']([^\"']*)", 1)),
        _nullif_blank(F.regexp_extract(
            col,
            "(?is)<link\\s[^>]*?href\\s*=\\s*[\"']([^\"']*)[\"']"
            f"[^>]*?rel\\s*=\\s*{_Q}canonical{_Q}", 1)),
    )
    lang = _nullif_blank(F.regexp_extract(
        col, r"(?is)<html\s[^>]*?lang\s*=\s*[\"']([^\"']*)", 1
    ))
    return F.struct(
        title.alias("title"),
        _decode_entities(_meta_content(col, "description"))
        .alias("description"),
        _decode_entities(_meta_content(col, "og:title")).alias("og_title"),
        _decode_entities(_meta_content(col, "og:description"))
        .alias("og_description"),
        _meta_content(col, "og:image").alias("og_image"),
        canonical.alias("canonical"),
        lang.alias("lang"),
        _meta_content(col, "robots").alias("robots_meta"),
    )


def jsonld_blocks(col: Column) -> Column:
    """ARRAY<STRING> of ``<script type="application/ld+json">`` bodies —
    the schema.org structured data riding most commercial pages. Raw
    JSON strings (trimmed), ready for ``F.get_json_object`` /
    ``F.from_json`` downstream with whatever schema the caller expects;
    this function deliberately does NOT parse them (schemas vary
    per site). Pure codegen."""
    return F.regexp_extract_all(
        col,
        F.lit(r"(?is)<script\s[^>]*?type\s*=\s*[\"']application/ld\+json[\"']"
              r"[^>]*>\s*(.*?)\s*</script"),
        1,
    )
