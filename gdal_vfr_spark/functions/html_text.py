"""HTML -> text extraction with a byte-identical-per-url guarantee.

The north-star input is a Common-Crawl-style webpages table
``(url, warc_ts, html:binary, text, lang)`` and its per-row invariant
is *byte-identical extracted text per url* versus the reference
semantics (BASELINE.json:input_hint). The reference engine has no HTML
at all — its analogue is the GML scan whose extraction is fully
deterministic per feature (vfr4ogr/vfrogr.py:556-609 clones each
feature's fields bit-for-bit). This module is the webtext counterpart:
a fixed, engine-versioned extraction pipeline where the same ``html``
bytes always produce the same ``text`` bytes, on any executor, at any
parallelism.

Extraction pipeline (order matters and is part of the contract):

1. decode UTF-8;
2. drop ``<script>``/``<style>`` elements *with their contents*;
3. strip remaining tags (each replaced by one space so adjacent text
   nodes never fuse);
4. decode the five predefined entities (``&amp;`` last, so
   ``&amp;lt;`` decodes to the literal ``&lt;`` — single-pass HTML
   semantics, not recursive);
5. collapse runs of ``[ \\t\\n\\r]`` to one space and trim.

One implementation, :func:`extract_text_expr`: a pure Catalyst
expression chain (JVM regex, whole-stage codegen; zero Python
boundary), the 10^12-row hot path. Its second opinion is the DuckDB
oracle's ``_duck_extract_expr`` (``duck_sql``), byte-identical by
test (tests/test_html_extract.py).

The regex subset used is valid and equivalent in Java (Spark) and RE2
(DuckDB oracle): inline ``(?s)``, non-greedy ``.*?``, explicit
whitespace classes (NOT ``\\s`` — Java's ``\\s`` includes ``\\x0b``,
RE2's does not).
"""

from __future__ import annotations

from pyspark.sql import functions as F

# (?s) so script/style bodies may span newlines; [^<]* after the tag
# name guard keeps `<scriptx>` from matching.
BLOCK_RE = r"(?s)<(?:script|style)(?:>|[ \t][^>]*>).*?</(?:script|style)[ \t]*>"
TAG_RE = r"<[^>]*>"
WS_RE = r"[ \t\n\r]+"

# single-pass entity decode; ampersand LAST (HTML semantics)
ENTITIES = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
)


def extract_text_expr(html, binary: bool = True) -> F.Column:
    """Catalyst-expression extraction (the scale path; no UDF)."""
    c = F.col(html) if isinstance(html, str) else html
    s = F.decode(c, "UTF-8") if binary else c
    s = F.regexp_replace(s, BLOCK_RE, " ")
    s = F.regexp_replace(s, TAG_RE, " ")
    for ent, ch in ENTITIES:
        s = F.replace(s, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(s, WS_RE, " "))


def escape_text_expr(text) -> F.Column:
    """Inverse helper (entity-encode text for embedding into HTML);
    used by datagen/tests to build pages whose expected extraction is
    known by construction. Ampersand FIRST (mirror of decode order)."""
    c = F.col(text) if isinstance(text, str) else text
    for ent, ch in (("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
                    ("&quot;", '"'), ("&#39;", "'")):
        c = F.replace(c, F.lit(ch), F.lit(ent))
    return c
