"""Canonical text expressions shared by dedup/text operators and their
DuckDB oracles.

Design constraint: every function must have a DuckDB-SQL twin producing
byte-identical results, so all hashing derives from md5 (both engines
agree bit-for-bit).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

TOKEN_SPLIT_RE = "[^a-z0-9]+"


def tokens_expr(text: str | Column) -> Column:
    """lower -> split on non-alphanumeric -> drop empties.
    DuckDB twin: list_filter(regexp_split_to_array(lower(t),'[^a-z0-9]+'), x -> x <> '')"""
    t = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(t), TOKEN_SPLIT_RE), lambda x: x != "")


def shingles_expr(text: str | Column, n: int = 5) -> Column:
    """Distinct character n-grams of the raw text (no tokenization —
    shingling operates on the byte/char stream like MinHash literature).
    DuckDB twin: list_distinct(list_transform(range(1, greatest(len(t)-n+2,1)), i -> t[i:i+n-1]))."""
    t = F.col(text) if isinstance(text, str) else text
    idx = F.sequence(F.lit(1), F.greatest(F.length(t) - F.lit(n - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: F.substring(t, i, n)))


def shingle_hash_expr(shingle: Column) -> Column:
    """64-bit join key for a shingle: the first md5 half as 16 hex
    chars — 5x narrower than a 13-word shingle string, identical in
    both engines (DuckDB twin: substr(md5(s), 1, 16)). Collisions are
    2^-64-scale — semantically exact for contamination counting."""
    return F.substring(F.md5(shingle), 1, 16)


def band_keys_expr(signature: Column, bands: int, rows: int) -> Column:
    """LSH banding: split the signature into `bands` groups of `rows`
    values; band key = band index || md5(joined slice). Two docs
    sharing any band key are near-dup candidates.
    DuckDB twin: md5 over concat_ws of the slice (BIGINTs render
    identically as decimal strings in both engines).
    """
    keys = [
        F.concat(
            F.lit(f"{b}:"),
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.element_at(signature, b * rows + r + 1).cast("string")
                        for r in range(rows)
                    ],
                )
            ),
        )
        for b in range(bands)
    ]
    return F.array(*keys)
