"""Byte-identical HTML -> text extraction (BASELINE.json:input_hint
per-row invariant: 'byte-identical extracted text per url')."""

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from gdal_vfr_spark import datagen, duck_sql
from gdal_vfr_spark.functions import html_text

CASES = [
    # (html, expected extracted text)
    (b"<html><body>hello world</body></html>", "hello world"),
    (b"<p>a</p><p>b</p>", "a b"),  # tags become separators
    (b"<div>x<script>if(a<b&&c>0){go()}</script>y</div>", "x y"),
    (b"<style type='text/css'>p{color:red}</style>t", "t"),
    (b"<script>\nmulti\nline\n</script>after", "after"),
    (b"<p>&lt;tag&gt; &amp; &quot;q&quot; &#39;s&#39;</p>", "<tag> & \"q\" 's'"),
    (b"&amp;lt;", "&lt;"),  # single-pass decode, not recursive
    (b"  a \t b \n\n c  ", "a b c"),
    (b"<scriptx>not a script</scriptx>", "not a script"),
    (b"", ""),
]


def _spark_extract(spark, rows):
    """{i: extract_text_expr(html)} over (i, html bytes) rows."""
    df = spark.createDataFrame(rows, "i int, html binary")
    return {
        r["i"]: r["t"]
        for r in df.select("i", html_text.extract_text_expr("html").alias("t")).collect()
    }


def _duck_extract(rows):
    """{i: the DuckDB oracle's extraction} over the same rows (the
    oracle's pages are text, so the UTF-8 decode happens here)."""
    con = duckdb.connect()
    try:
        con.register(
            "pages", pd.DataFrame({"i": [i for i, _ in rows], "html": [h.decode() for _, h in rows]})
        )
        return dict(con.sql(f"SELECT i, {duck_sql._duck_extract_expr()} FROM pages").fetchall())
    finally:
        con.close()


def test_expr_extraction_cases(spark):
    got = _spark_extract(spark, [(i, h) for i, (h, _) in enumerate(CASES)])
    for i, (_, want) in enumerate(CASES):
        assert got[i] == want, (i, CASES[i][0], got[i], want)


def test_arrow_path_matches_expr_path(spark):
    """The Catalyst extraction is byte-identical to the DuckDB oracle's
    (_duck_extract_expr) on every crafted case."""
    rows = [(i, h) for i, (h, _) in enumerate(CASES)]
    got = _spark_extract(spark, rows)
    assert len(got) == len(CASES)
    assert got == _duck_extract(rows)


def test_webpages_per_url_invariant(spark):
    """The north-star invariant on the webpages table itself:
    extract(html) == text, byte-identical, for every url."""
    pages = datagen.gen_webpages(spark, n=500, seed=7)
    ext = pages.select(
        "url", "text", html_text.extract_text_expr("html").alias("t")
    )
    n_total = ext.count()
    n_match = ext.where(
        F.col("t").eqNullSafe(F.coalesce(F.trim(F.regexp_replace("text", html_text.WS_RE, " ")), F.lit("")))
    ).count()
    assert n_total == 500 and n_match == n_total


def test_escape_roundtrip(spark):
    raw = '<a href="x">&amp; \'q\'</a>'
    df = spark.createDataFrame([(raw,)], "text string")
    out = df.select(
        html_text.extract_text_expr(
            F.concat(F.lit("<p>"), html_text.escape_text_expr("text"), F.lit("</p>")),
            binary=False,
        ).alias("t")
    ).collect()[0]["t"]
    assert out == raw


def test_hypothesis_arrow_expr_parity(spark):
    """Property test: Java regex (Spark) and RE2 (DuckDB oracle) give
    byte-identical extractions on adversarial strings — angle brackets,
    partial entities, script/style fragments, whitespace runs."""
    from hypothesis import given, settings, strategies as st

    alphabet = st.sampled_from(
        list("abzAZ09 \t\n\r<>&;/\"'=!-")
        + ["<script>", "</script>", "<style", "&amp;", "&lt;", "&#39;", "<p>", "</p>"]
    )
    texts = st.lists(alphabet, max_size=30).map("".join)

    @settings(max_examples=30, deadline=None)
    @given(st.lists(texts, min_size=1, max_size=20))
    def check(batch):
        rows = [(i, t.encode("utf-8")) for i, t in enumerate(batch)]
        assert _spark_extract(spark, rows) == _duck_extract(rows)

    check()
