"""DuckDB SQL builders for the oracle twins of `__spark_entry__.queries()`.

Each builder returns DuckDB SQL that recomputes an engine operator's
output from the same parquet tables without running the engine;
`__spark_entry__.oracle_sql()` assembles them into the 118 oracle
texts, which tests/test_oracle.py compares with the Spark queries and
tests/test_oracle_pin.py pins byte for byte. The tests also run single
builders on crafted rows as the second opinion of one operator.
"""

from __future__ import annotations

from gdal_vfr_spark.functions import html_text
from gdal_vfr_spark.operators import text as text_ops

# lon in (14, 15), lat in (49.5, 50.5); odd thousandths => never on the
# 0.1-degree obce grid boundaries; event_id % 20 == 0 => NULL geotag
# (the reference's missing-geometry rows, vfrogr.py:592-598).

GEO_SQL = """
SELECT event_id, event_type, user_id, value,
  CASE WHEN event_id % 20 = 0 THEN NULL
       ELSE 14.0 + (2 * ((event_id * 7919) % 500) + 1) / 1000.0 END AS lon,
  CASE WHEN event_id % 20 = 0 THEN NULL
       ELSE 49.5 + (2 * ((event_id * 104729) % 500) + 1) / 1000.0 END AS lat
FROM events
"""


# shared with the Spark queries: the synthesized page around `text`
_PAGE_HEAD = "<html><head><title>T</title><style>p{color:red}</style></head><body><p>"
_PAGE_TAIL = "</p><div>&amp; &lt;mix&gt;</div><script>if(x<y&&y>0){go()}</script></body></html>"


# res-12 tile-index bounds of the synthetic bbox (lon 14..15, lat 49.5..50.5)
_TILE_RES = 12
_TX0 = int((14.0 + 180.0) / 360.0 * (1 << _TILE_RES))
_TX1 = int((15.0 + 180.0) / 360.0 * (1 << _TILE_RES))
_TY0 = int((49.5 + 90.0) / 180.0 * (1 << _TILE_RES))
_TY1 = int((50.5 + 90.0) / 180.0 * (1 << _TILE_RES))


# oracle-side obec kod from floor arithmetic (ground truth by construction)
ORACLE_OBEC = (
    "(500000 + CAST(floor((lat - 49.5) / 0.1) AS BIGINT) * 10"
    " + CAST(floor((lon - 14.0) / 0.1) AS BIGINT))"
)


def _duck_spread(e: str) -> str:
    """DuckDB SQL for the Morton part1by1 bit spread (mirror of
    cells._part1by1 / cells.with_cell)."""
    out = f"(({e}) & 4294967295)"
    for sh, mask in ((16, 0x0000FFFF0000FFFF), (8, 0x00FF00FF00FF00FF),
                     (4, 0x0F0F0F0F0F0F0F0F), (2, 0x3333333333333333),
                     (1, 0x5555555555555555)):
        out = f"((({out}) | (({out}) << {sh})) & {mask})"
    return out


def _duck_cell(lon: str, lat: str, res: int) -> str:
    n = 1 << res
    ix = f"least(greatest(CAST(floor((({lon}) + 180.0) / 360.0 * {float(n)}) AS BIGINT), 0), {n - 1})"
    iy = f"least(greatest(CAST(floor((({lat}) + 90.0) / 180.0 * {float(n)}) AS BIGINT), 0), {n - 1})"
    morton = f"(({_duck_spread(ix)}) | (({_duck_spread(iy)}) << 1))"
    return f"CASE WHEN ({lon}) IS NULL OR ({lat}) IS NULL THEN -1 ELSE (({morton}) << 5) | {res} END"


def _duck_tile_join_sql() -> str:
    """Oracle for q_geo_tile_join: same raster dim (tile-index ranges +
    Morton spread) and the same tile assignment on the point side."""
    geo = GEO_SQL.strip()
    return f"""
    WITH dim AS (
      SELECT ix.i AS ix, iy.i AS iy
      FROM (SELECT unnest(range({_TX0}, {_TX1 + 1})) AS i) ix,
           (SELECT unnest(range({_TY0}, {_TY1 + 1})) AS i) iy
    ), dimk AS (
      SELECT ((({_duck_spread('ix')}) | (({_duck_spread('iy')}) << 1)) << 5) | {_TILE_RES} AS tile_key,
             (ix + iy) % 5 AS zone
      FROM dim
    ), pts AS (
      SELECT {_duck_cell('lon', 'lat', _TILE_RES)} AS tile_key
      FROM ({geo}) WHERE lon IS NOT NULL
    )
    SELECT zone, count(*) AS n_pages, count(DISTINCT p.tile_key) AS n_tiles
    FROM pts p JOIN dimk d ON p.tile_key = d.tile_key
    GROUP BY zone ORDER BY zone
    """


def _duck_page_synthesis() -> tuple[str, str]:
    """(html_expr, want_expr) for the synthesized page over `text` —
    shared by the text_extract and pipeline_e2e oracles."""
    esc = "coalesce(text, '')"
    for ch, ent in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"),
                    ('"', "&quot;"), ("''", "&#39;")):
        esc = f"replace({esc}, '{ch}', '{ent}')"
    html = f"'{_PAGE_HEAD}' || {esc} || '{_PAGE_TAIL.replace(chr(39), chr(39) * 2)}'"
    want = (
        f"trim(regexp_replace('T ' || coalesce(text, '') || ' & <mix>',"
        f" '{html_text.WS_RE}', ' ', 'g'))"
    )
    return html, want


def _duck_extract_expr(col: str = "html") -> str:
    """The 5-step extraction pipeline (html_text module docstring) in RE2."""
    dec = f"""regexp_replace(regexp_replace({col},
        '{html_text.BLOCK_RE}', ' ', 'g'), '{html_text.TAG_RE}', ' ', 'g')"""
    for ent, ch in html_text.ENTITIES:
        ch = ch.replace("'", "''")
        dec = f"replace({dec}, '{ent}', '{ch}')"
    return f"trim(regexp_replace({dec}, '{html_text.WS_RE}', ' ', 'g'))"


def _duck_text_extract_sql() -> str:
    """Oracle for q_text_extract: same page synthesis and extraction."""
    html, want = _duck_page_synthesis()
    return f"""
    WITH pages AS (
      SELECT lang, {html} AS html, {want} AS want FROM documents
    ), ext AS (
      SELECT lang, want, {_duck_extract_expr()} AS t FROM pages
    )
    SELECT lang, count(*) AS n_docs,
           CAST(sum(CASE WHEN t = want THEN 1 ELSE 0 END) AS BIGINT) AS n_match
    FROM ext GROUP BY lang ORDER BY lang
    """


def _duck_pipeline_sql(quality_min: float = 0.45) -> str:
    """Oracle for q_pipeline_e2e: the full training-data pipeline —
    synthesize page -> extract -> byte-identity gate -> quality filter
    -> lang ID -> exact dedup (min doc_id per content hash) -> geotag
    -> containment (floor-arithmetic ground truth) -> per-(obec, lang)
    counts."""
    html, want = _duck_page_synthesis()
    toks = _duck_tokens("text")
    return f"""
    WITH pages AS (
      SELECT doc_id, text, {html} AS html, {want} AS want FROM documents
    ), inv AS (
      SELECT doc_id, text
      FROM (SELECT doc_id, text, {_duck_extract_expr()} AS t, want FROM pages)
      WHERE t = want
    ), scored AS (
      SELECT doc_id, text, {_duck_quality_expr()} AS quality, {_duck_lang_case()} AS lang_pred
      FROM (SELECT doc_id, text, {toks} AS __toks FROM inv)
    ), kept AS (
      SELECT doc_id, lang_pred FROM scored WHERE quality >= {quality_min}
      QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
    ), geo AS (
      SELECT doc_id, lang_pred,
             14.0 + (2 * ((doc_id * 7919) % 500) + 1) / 1000.0 AS lon,
             49.5 + (2 * ((doc_id * 104729) % 500) + 1) / 1000.0 AS lat
      FROM kept
    )
    SELECT {ORACLE_OBEC} AS obec_kod, lang_pred, count(*) AS n_docs
    FROM geo GROUP BY 1, 2 ORDER BY obec_kod, lang_pred
    """


# --------------------------------------------------------------------------
# Text twins (tokenizer / stopwords shared with operators.text)
# --------------------------------------------------------------------------

def _duck_tokens(t: str) -> str:
    return f"list_filter(regexp_split_to_array(lower({t}), '[^a-z0-9]+'), x -> x <> '')"


def _duck_word_shingles(toks: str, n: int) -> str:
    """Distinct non-empty word n-grams of the token list `toks` (twin of
    the shingles dedup.word_shingle_hash_rows hashes): an n-token window
    joined by single spaces; a list shorter than n gives one shingle of
    all its tokens, and an empty list none."""
    return (
        f"list_filter(list_distinct(list_transform("
        f"range(1, greatest(len({toks}) - {n - 1}, 1) + 1),"
        f" i -> array_to_string({toks}[i:i+{n - 1}], ' '))), x -> x <> '')"
    )


def _duck_stoplist(lang: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in text_ops.STOPWORDS[lang]) + "]"


def _duck_lang_case() -> str:
    """lang-ID CASE expression over a column named __toks."""
    scores = {
        lang: f"len(list_filter(__toks, t -> list_contains({_duck_stoplist(lang)}, t)))"
        for lang in sorted(text_ops.STOPWORDS)
    }
    best = "greatest(" + ", ".join(scores.values()) + ")"
    case = "CASE WHEN " + best + " = 0 THEN 'und' "
    for lang in sorted(text_ops.STOPWORDS):
        case += f"WHEN {scores[lang]} = {best} THEN '{lang}' "
    case += "ELSE 'und' END"
    return case


def _duck_lang_sql(src: str = "documents") -> str:
    toks = _duck_tokens("text")
    return (
        f"SELECT doc_id, {_duck_lang_case()} AS lang_pred"
        f" FROM (SELECT doc_id, {toks} AS __toks, text FROM {src})"
    )


def _duck_quality_expr() -> str:
    """quality expression over columns __toks and text."""
    all_stop = "[" + ", ".join(
        f"'{w}'" for lang in sorted(text_ops.STOPWORDS) for w in text_ops.STOPWORDS[lang]
    ) + "]"
    # rounding spelled out as floor(x*1e6 + 0.5)/1e6: engine round()
    # built-ins diverge on true decimal halves (found at sf0.1,
    # doc 1214: Spark 0.504688 vs DuckDB 0.504687); the explicit form
    # runs the same float64 ops in both engines
    return f"""(floor((
        0.4 * least(CAST(len(__toks) AS DOUBLE) / 100.0, 1.0)
      + 0.3 * (CASE WHEN len(__toks) > 0
               THEN CAST(len(list_filter(__toks, x -> list_contains({all_stop}, x))) AS DOUBLE)
                    / CAST(len(__toks) AS DOUBLE) ELSE 0.0 END)
      + 0.3 * (CASE WHEN length(text) > 0
               THEN CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
                    / CAST(length(text) AS DOUBLE) ELSE 0.0 END)
      ) * 1000000.0 + 0.5) / 1000000.0)"""


def _duck_quality_sql(src: str = "documents") -> str:
    toks = _duck_tokens("text")
    return f"""
    SELECT doc_id, {_duck_quality_expr()} AS quality
    FROM (SELECT doc_id, {toks} AS __toks, text FROM {src})
    """


def _duck_repetition_sql(src: str = "documents") -> str:
    """Per-doc repetition stats incl. keep_repetition (twin of
    text.repetition_stats); no ORDER BY so it nests as a CTE."""
    return f"""
            WITH w AS (
              SELECT doc_id, {_duck_tokens('text')} AS w FROM {src}
            ),
            ex AS (
              SELECT doc_id, 1 AS n, unnest(w) AS gram FROM w
              UNION ALL
              SELECT doc_id, 2 AS n,
                     unnest(CASE WHEN len(w) >= 2
                       THEN list_transform(range(1, len(w)),
                              i -> array_to_string(w[i:i+1], ' '))
                       ELSE [] END) AS gram FROM w
              UNION ALL
              SELECT doc_id, 5 AS n,
                     unnest(CASE WHEN len(w) >= 5
                       THEN list_transform(range(1, len(w) - 3),
                              i -> array_to_string(w[i:i+4], ' '))
                       ELSE [] END) AS gram FROM w
            ),
            c AS (
              SELECT doc_id, n, count(*) AS cnt,
                     count(*) * len(replace(gram, ' ', '')) AS cov
              FROM ex GROUP BY doc_id, n, gram
            ),
            a AS (
              SELECT doc_id,
                     CAST(sum(CASE WHEN n = 1 THEN cnt END) AS BIGINT) AS n_words,
                     CAST(sum(CASE WHEN n = 1 THEN cov END) AS BIGINT) AS word_chars,
                     CAST(count(CASE WHEN n = 1 THEN 1 END) AS BIGINT) AS distinct_words,
                     CAST(coalesce(max(CASE WHEN n = 2 THEN cov END), 0) AS BIGINT) AS top2_chars,
                     CAST(coalesce(sum(CASE WHEN n = 5 AND cnt > 1 THEN cov END), 0) AS BIGINT) AS dup5_chars
              FROM c GROUP BY doc_id
            )
            SELECT *, CAST(CASE WHEN top2_chars * 5 <= word_chars
                            AND dup5_chars * 20 <= word_chars * 3
                       THEN 1 ELSE 0 END AS INTEGER) AS keep_repetition
            FROM a
    """


def _duck_sig_bands_cte(num_hashes: int = 16, bands: int = 8, shingle_n: int = 5) -> str:
    """The sig/bands CTE pair shared by every MinHash oracle: exact
    Kirsch-Mitzenmacher signatures + LSH band keys over `documents`
    (twin of operators.dedup.with_minhash /
    functions.text_expr.band_keys_expr)."""
    rows = num_hashes // bands
    sh = (
        f"list_distinct(list_transform(range(1, greatest(length(text) - {shingle_n - 1}, 1) + 1),"
        f" i -> substr(text, i, {shingle_n})))"
    )
    p = 2147483647
    a = f"(('0x' || substr(md5(s), 17, 16))::UBIGINT % {p})"
    b = f"(('0x' || substr(md5(s), 1, 16))::UBIGINT % {p})"
    sigs = ", ".join(
        f"list_min(list_transform(__sh, s -> CAST(({a} + {i}::UBIGINT * {b}) % {p} AS BIGINT))) AS s{i}"
        for i in range(num_hashes)
    )
    band_keys = ", ".join(
        "concat('%d:', md5(concat_ws('|', %s))) AS b%d"
        % (b, ", ".join(f"s{b * rows + r}" for r in range(rows)), b)
        for b in range(bands)
    )
    band_list = "[" + ", ".join(f"b{b}" for b in range(bands)) + "]"
    return f"""sig AS (
      SELECT doc_id, {sigs} FROM (SELECT doc_id, {sh} AS __sh FROM documents)
    ), bands AS (
      SELECT doc_id, unnest({band_list}) AS band_key
      FROM (SELECT doc_id, {band_keys} FROM sig)
    )"""


def _duck_minhash_star_sql(
    num_hashes: int = 16, bands: int = 8, shingle_n: int = 5, cap: int = 8
) -> str:
    """Capped-bucket twin of _duck_minhash_sql: buckets <= cap all-pairs,
    buckets > cap star-linked to the bucket-min doc (minhash_lsh_pairs
    max_bucket semantics)."""
    eq_count = " + ".join(
        f"(CASE WHEN a.s{i} = b.s{i} THEN 1 ELSE 0 END)" for i in range(num_hashes)
    )
    return f"""
    WITH {_duck_sig_bands_cte(num_hashes, bands, shingle_n)}, bstats AS (
      SELECT band_key, count(*) AS bn, min(doc_id) AS bmin
      FROM bands GROUP BY band_key
    ), pairs AS (
      SELECT DISTINCT id_a, id_b FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a
        JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
        JOIN bstats s ON a.band_key = s.band_key
        WHERE s.bn <= {cap}
        UNION ALL
        SELECT s.bmin AS id_a, a.doc_id AS id_b
        FROM bands a JOIN bstats s ON a.band_key = s.band_key
        WHERE s.bn > {cap} AND a.doc_id <> s.bmin
      )
    )
    SELECT p.id_a, p.id_b,
           CAST(({eq_count}) AS DOUBLE) / {float(num_hashes)} AS jaccard_est
    FROM pairs p JOIN sig a ON p.id_a = a.doc_id JOIN sig b ON p.id_b = b.doc_id
    """


def _duck_minhash_sql(num_hashes: int = 16, bands: int = 8, shingle_n: int = 5) -> str:
    eq_count = " + ".join(
        f"(CASE WHEN a.s{i} = b.s{i} THEN 1 ELSE 0 END)" for i in range(num_hashes)
    )
    return f"""
    WITH {_duck_sig_bands_cte(num_hashes, bands, shingle_n)}, pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    )
    SELECT p.id_a, p.id_b,
           CAST(({eq_count}) AS DOUBLE) / {float(num_hashes)} AS jaccard_est
    FROM pairs p JOIN sig a ON p.id_a = a.doc_id JOIN sig b ON p.id_b = b.doc_id
    """


def _duck_jaccard_sql(shingle_n: int = 5) -> str:
    mh = _duck_minhash_sql()
    sh = (
        f"list_distinct(list_transform(range(1, greatest(length(text) - {shingle_n - 1}, 1) + 1),"
        f" i -> substr(text, i, {shingle_n})))"
    )
    return f"""
    WITH mh_pairs AS ({mh}),
    shs AS (SELECT doc_id, {sh} AS sh FROM documents)
    SELECT p.id_a, p.id_b,
      CAST(len(list_filter(a.sh, s -> list_contains(b.sh, s))) AS DOUBLE)
      / CAST(len(a.sh) + len(b.sh) - len(list_filter(a.sh, s -> list_contains(b.sh, s))) AS DOUBLE)
      AS jaccard
    FROM mh_pairs p JOIN shs a ON p.id_a = a.doc_id JOIN shs b ON p.id_b = b.doc_id
    """


def _duck_simhash_sql(bits: int = 32) -> str:
    """Relational SimHash twin: explode tokens x bits, majority vote,
    pack. Independent formulation from the Spark fold — a genuine
    cross-check."""
    toks = _duck_tokens("text")
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest({toks}) AS tok FROM documents
    ), th AS (
      SELECT doc_id, substr(md5(tok), 1, {bits // 4}) AS h FROM toks
    ), bitsv AS (
      SELECT doc_id, j,
        SUM(CASE WHEN ((strpos('0123456789abcdef', substr(h, CAST(j // 4 AS INT) + 1, 1)) - 1)
                       >> CAST(3 - (j % 4) AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      FROM th, (SELECT unnest(range(0, {bits})) AS j)
      GROUP BY doc_id, j
    )
    SELECT doc_id,
      CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << CAST({bits - 1} - j AS INT))
               ELSE 0 END) AS BIGINT) AS simhash
    FROM bitsv GROUP BY doc_id
    """


def _duck_cosine_topk_sql(k: int = 3, n_queries: int = 5) -> str:
    dot = (
        "list_reduce(list_prepend(0.0, list_transform(list_zip(e.embedding, q.qv),"
        " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (x, y) -> x + y)"
    )
    norm = (
        "sqrt(list_reduce(list_prepend(0.0, list_transform({v},"
        " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (x, y) -> x + y))"
    )
    return f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < {n_queries}
    ), scored AS (
      SELECT q.query_id, e.vec_id,
        ({dot}) / ({norm.format(v='e.embedding')} * {norm.format(v='q.qv')}) AS cosine
      FROM embeddings e CROSS JOIN q
    )
    SELECT query_id, vec_id, CAST(rank AS BIGINT) AS rank FROM (
      SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


def _duck_srp_near_dup_sql(threshold: float = 0.4, n_planes: int = 4, dim: int = 64) -> str:
    """Twin of similarity.cosine_near_dup_pairs, (id_a, id_b, cosine):
    the same seeded hyperplane constants (full-precision repr
    round-trips the exact double), the same sequential-fold dot, the
    same MSB-first sign-bit bucket — so the SRP candidate set and every
    cosine are bit-identical cross-engine."""
    from gdal_vfr_spark.operators.similarity import random_hyperplanes

    planes = random_hyperplanes(dim, n_planes)

    def dot_const(v: str, const: list[float]) -> str:
        arr = "[" + ", ".join(repr(float(x)) for x in const) + "]"
        return (
            f"list_reduce(list_prepend(0.0, list_transform(list_zip({v}, CAST({arr} AS DOUBLE[])),"
            " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (x, y) -> x + y)"
        )

    bits = " + ".join(
        f"(CASE WHEN ({dot_const('embedding', p)}) >= 0 THEN {1 << (n_planes - 1 - i)} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    pair_dot = (
        "list_reduce(list_prepend(0.0, list_transform(list_zip(a.embedding, b.embedding),"
        " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (x, y) -> x + y)"
    )
    norm = (
        "sqrt(list_reduce(list_prepend(0.0, list_transform({v},"
        " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (x, y) -> x + y))"
    )
    return f"""
    WITH bk AS (
      SELECT vec_id, embedding, {bits} AS bucket FROM embeddings
    ), scored AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        ({pair_dot}) / ({norm.format(v='a.embedding')} * {norm.format(v='b.embedding')}) AS cosine
      FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cosine FROM scored WHERE cosine >= {threshold}
    """


def _duck_int8_topk_sql(k: int = 3, n_queries: int = 5) -> str:
    """Twin of similarity.int8_topk with queries vec_id < n_queries:
    the same float64 fold norm, round-half-away int8 codes, zero vectors
    dropped, and an exact BIGINT dot."""
    norm = _DUCK_NORM_SQL.format(v="embedding")
    return f"""
    WITH normed AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE) / {norm}) AS ne
      FROM embeddings
      WHERE {norm} > 0
    ),
    codes AS (
      SELECT vec_id,
             list_transform(ne, x -> CAST(round(x * 127.0) AS INT)) AS c
      FROM normed
    ),
    q AS (SELECT vec_id AS query_id, c AS qc FROM codes WHERE vec_id < {n_queries}),
    scored AS (
      SELECT q.query_id, codes.vec_id,
             list_reduce(list_prepend(0::BIGINT,
               list_transform(list_zip(q.qc, codes.c),
                 p -> CAST(p[1] AS BIGINT) * CAST(p[2] AS BIGINT))),
               (a, b) -> a + b) AS score
      FROM q, codes
    )
    SELECT query_id, vec_id, score, rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
      FROM scored
    ) WHERE rank <= {k} ORDER BY query_id, rank
    """


def _duck_srp_topk_sql(k: int = 3, n_queries: int = 5, n_planes: int = 8, dim: int = 64) -> str:
    """Twin of similarity.lsh_bucketed_topk: same seeded hyperplanes
    (repr round-trips the exact double), same MSB-first sign-bit bucket,
    same sequential-fold cosine — the approximate result set is a
    deterministic function of those constants, so it IS exactly
    checkable even though the algorithm is approximate."""
    from gdal_vfr_spark.operators.similarity import random_hyperplanes

    planes = random_hyperplanes(dim, n_planes)

    def dot_const(v: str, const: list[float]) -> str:
        arr = "[" + ", ".join(repr(float(x)) for x in const) + "]"
        return (
            f"list_reduce(list_prepend(0.0, list_transform(list_zip({v}, CAST({arr} AS DOUBLE[])),"
            " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (x, y) -> x + y)"
        )

    bits = " + ".join(
        f"(CASE WHEN ({dot_const('embedding', p)}) >= 0 THEN {1 << (n_planes - 1 - i)} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    pair_dot = (
        "list_reduce(list_prepend(0.0, list_transform(list_zip(e.embedding, q.embedding),"
        " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (x, y) -> x + y)"
    )
    norm = (
        "sqrt(list_reduce(list_prepend(0.0, list_transform({v},"
        " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (x, y) -> x + y))"
    )
    return f"""
    WITH bk AS (
      SELECT vec_id, embedding, {bits} AS bucket FROM embeddings
    ), scored AS (
      SELECT q.vec_id AS query_id, e.vec_id,
        ({pair_dot}) / ({norm.format(v='e.embedding')} * {norm.format(v='q.embedding')}) AS cosine
      FROM bk e JOIN bk q ON e.bucket = q.bucket
      WHERE q.vec_id < {n_queries}
    )
    SELECT query_id, vec_id, CAST(rank AS BIGINT) AS rank FROM (
      SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
      FROM scored
    ) WHERE rank <= {k} ORDER BY query_id, rank
    """


def _duck_streets_scored_ctes(geo: str, pts_filter: str = "event_id % 100 = 1") -> str:
    """Shared CTE block for the street-distance oracles: exact
    regeneration of datagen.gen_ulice_pdf endpoints + the clamped-
    projection point->segment distance in the same float64 op order as
    geo.knn._point_seg_dist2. Yields CTEs prm/streets/pts/scored."""
    t = (
        "((p.lon - st.x1) * (st.x2 - st.x1) + (p.lat - st.y1) * (st.y2 - st.y1))"
        " / ((st.x2 - st.x1) * (st.x2 - st.x1) + (st.y2 - st.y1) * (st.y2 - st.y1))"
    )
    ex = f"(p.lon - (st.x1 + LEAST(GREATEST({t}, 0), 1) * (st.x2 - st.x1)))"
    ey = f"(p.lat - (st.y1 + LEAST(GREATEST({t}, 0), 1) * (st.y2 - st.y1)))"
    return f"""prm AS (
              SELECT (CAST(15 AS DOUBLE) - 14) / 10 AS gdx,
                     (CAST(50.5 AS DOUBLE) - 49.5) / 10 AS gdy,
                     CAST(1 AS DOUBLE) / 10 AS f01,
                     CAST(9 AS DOUBLE) / 10 AS f09
            ), streets AS (
              SELECT 100000 + (iy.i * 10 + ix.i) * 2 + s.i AS kod,
                     (14 + ix.i * prm.gdx) + prm.f01 * prm.gdx AS x1,
                     (49.5 + iy.i * prm.gdy) + (CAST(s.i + 1 AS DOUBLE) / 3) * prm.gdy AS y1,
                     (14 + ix.i * prm.gdx) + prm.f09 * prm.gdx AS x2,
                     (49.5 + iy.i * prm.gdy) + (CAST(s.i + 1 AS DOUBLE) / 3) * prm.gdy AS y2
              FROM (SELECT unnest(range(0, 10)) AS i) ix,
                   (SELECT unnest(range(0, 10)) AS i) iy,
                   (SELECT unnest(range(0, 2)) AS i) s, prm
            ), pts AS (
              SELECT event_id, lon, lat FROM ({geo})
              WHERE lon IS NOT NULL AND {pts_filter}
            ), scored AS (
              SELECT p.event_id, st.kod, {ex} * {ex} + {ey} * {ey} AS d2
              FROM pts p CROSS JOIN streets st
            )"""


def _duck_streets_large_scored_ctes(
    geo: str, n_side: int = 350, pts_filter: str = "event_id % 200 = 1"
) -> str:
    """Large-street-grid variant of _duck_streets_scored_ctes: exact
    regeneration of datagen.gen_ulice_large endpoints (one horizontal
    mid-cell segment per grid cell, 0.2..0.8 of the cell width) + the
    same clamped-projection distance."""
    t = (
        "((p.lon - st.x1) * (st.x2 - st.x1) + (p.lat - st.y1) * (st.y2 - st.y1))"
        " / ((st.x2 - st.x1) * (st.x2 - st.x1) + (st.y2 - st.y1) * (st.y2 - st.y1))"
    )
    ex = f"(p.lon - (st.x1 + LEAST(GREATEST({t}, 0), 1) * (st.x2 - st.x1)))"
    ey = f"(p.lat - (st.y1 + LEAST(GREATEST({t}, 0), 1) * (st.y2 - st.y1)))"
    return f"""prm AS (
              SELECT (CAST(15 AS DOUBLE) - 14) / {n_side} AS gdx,
                     (CAST(50.5 AS DOUBLE) - 49.5) / {n_side} AS gdy
            ), streets AS (
              SELECT 60000000 + iy.i * {n_side} + ix.i AS kod,
                     (14 + ix.i * prm.gdx) + 0.2 * prm.gdx AS x1,
                     (49.5 + iy.i * prm.gdy) + 0.5 * prm.gdy AS y1,
                     (14 + ix.i * prm.gdx) + 0.8 * prm.gdx AS x2,
                     (49.5 + iy.i * prm.gdy) + 0.5 * prm.gdy AS y2
              FROM (SELECT unnest(range(0, {n_side})) AS i) ix,
                   (SELECT unnest(range(0, {n_side})) AS i) iy, prm
            ), pts AS (
              SELECT event_id, lon, lat FROM ({geo})
              WHERE lon IS NOT NULL AND {pts_filter}
            ), scored AS (
              SELECT p.event_id, st.kod, {ex} * {ex} + {ey} * {ey} AS d2
              FROM pts p CROSS JOIN streets st
            )"""


def _duck_points_large_scored_ctes(
    geo: str, n_side: int = 350, pts_filter: str = "event_id % 200 = 1"
) -> str:
    """Large-address-point variant of _duck_streets_large_scored_ctes:
    exact regeneration of datagen.gen_adresni_mista_large coordinates
    (one point per grid cell at 0.3/0.7 of the cell) + squared
    euclidean distance."""
    return f"""prm AS (
              SELECT (CAST(15 AS DOUBLE) - 14) / {n_side} AS gdx,
                     (CAST(50.5 AS DOUBLE) - 49.5) / {n_side} AS gdy
            ), ampts AS (
              SELECT 80000000 + iy.i * {n_side} + ix.i AS kod,
                     (14 + ix.i * prm.gdx) + 0.3 * prm.gdx AS x,
                     (49.5 + iy.i * prm.gdy) + 0.7 * prm.gdy AS y
              FROM (SELECT unnest(range(0, {n_side})) AS i) ix,
                   (SELECT unnest(range(0, {n_side})) AS i) iy, prm
            ), pts AS (
              SELECT event_id, lon, lat FROM ({geo})
              WHERE lon IS NOT NULL AND {pts_filter}
            ), scored AS (
              SELECT p.event_id, t.kod,
                     (p.lon - t.x) * (p.lon - t.x)
                     + (p.lat - t.y) * (p.lat - t.y) AS d2
              FROM pts p CROSS JOIN ampts t
            )"""


def _duck_dist_sql(v: str, c: str) -> str:
    """Squared-L2 as the same sequential float64 fold Spark uses."""
    return (
        f"list_reduce(list_prepend(0.0, list_transform(list_zip({v}, {c}),"
        " p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2]))),"
        " (x, y) -> x + y)"
    )


_DUCK_NORM_SQL = (
    "sqrt(list_reduce(list_prepend(0.0, list_transform({v},"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (x, y) -> x + y))"
)


def _duck_pair_dot_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(0.0, list_transform(list_zip({a}, {b}),"
        " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (x, y) -> x + y)"
    )


def _duck_lloyd_af_ctes(n_centroids: int, n_iter: int, dim: int):
    """Shared Lloyd-unroll CTE chain for the k-means oracles
    (ann_ivf_topk / ann_ivf_indexed / dedup_semantic): c0..c{n_iter}
    centroid tables, ``af`` = final nearest-centroid assignment of
    every corpus vector. Cross-engine exactness holds because
    (a) centroid means are FIXED-POINT — sum(floor(x*2^20)) as bigint
    is order-free, so the partition-order-dependent float-sum problem
    never arises — and (b) every distance/cosine is the same
    sequential left fold in float64 both engines already agree on
    (ann_topk). Returns (ctes, final_centroid_cte_name)."""
    scale = "1048576.0"  # 2^20, matches similarity.QUANT_SCALE
    dist = _duck_dist_sql
    sums = ", ".join(
        f"sum(CAST(floor(CAST(embedding[{i + 1}] AS DOUBLE) * {scale}) AS BIGINT)) AS s{i}"
        for i in range(dim)
    )
    mean_list = "[" + ", ".join(
        f"CAST(u.s{i} AS DOUBLE) / (CAST(u.cnt AS DOUBLE) * {scale})" for i in range(dim)
    ) + "]"
    ctes = [
        f"""c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c
      FROM (SELECT vec_id, embedding FROM embeddings
            ORDER BY vec_id LIMIT {n_centroids}))"""
    ]
    for t in range(1, n_iter + 1):
        ctes.append(f"""a{t} AS (
      SELECT vec_id, embedding, cid FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {dist('e.embedding', 'c.c')}, c.cid) AS rn
        FROM embeddings e CROSS JOIN c{t - 1} c
      ) WHERE rn = 1)""")
        ctes.append(f"u{t} AS (SELECT cid, count(*) AS cnt, {sums} FROM a{t} GROUP BY cid)")
        ctes.append(f"""c{t} AS (
      SELECT p.cid, CASE WHEN u.cid IS NULL THEN p.c ELSE {mean_list} END AS c
      FROM c{t - 1} p LEFT JOIN u{t} u ON p.cid = u.cid)""")
    cf = f"c{n_iter}"
    ctes.append(f"""af AS (
      SELECT vec_id, embedding, cid FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {dist('e.embedding', 'c.c')}, c.cid) AS rn
        FROM embeddings e CROSS JOIN {cf} c
      ) WHERE rn = 1)""")
    return ctes, cf


def _duck_semantic_dedup_sql(
    threshold: float = 0.4,
    n_centroids: int = 8,
    n_iter: int = 2,
    dim: int = 64,
) -> str:
    """Twin of similarity.semantic_dedup (SemDeDup): shared Lloyd
    CTEs, per-row centroid cosine, then the relational drop rule —
    x is dropped iff a same-cluster y exists with cos(x,y) >=
    threshold and (lower centroid similarity, or equal and lower id).
    Survivor columns are both integers, so the hash is float-free;
    the float comparisons inside the rule are safe because both
    engines compute bit-identical cosines (same sequential fold over
    identical fixed-point centroids)."""
    norm = _DUCK_NORM_SQL
    ctes, cf = _duck_lloyd_af_ctes(n_centroids, n_iter, dim)
    cent_dot = _duck_pair_dot_sql("af.embedding", "c.c")
    pair_cos = (
        f"({_duck_pair_dot_sql('x.embedding', 'y.embedding')})"
        f" / (x.nrm * y.nrm)"
    )
    ctes.append(f"""csim AS (
      SELECT af.vec_id, af.embedding, af.cid,
             {norm.format(v='af.embedding')} AS nrm,
             ({cent_dot}) / ({norm.format(v='af.embedding')} * {norm.format(v='c.c')}) AS cs
      FROM af JOIN {cf} c ON af.cid = c.cid)""")
    ctes.append(f"""dropped AS (
      SELECT DISTINCT x.vec_id
      FROM csim x JOIN csim y ON x.cid = y.cid AND x.vec_id <> y.vec_id
      WHERE {pair_cos} >= {float(threshold)}
        AND (y.cs < x.cs OR (y.cs = x.cs AND y.vec_id < x.vec_id)))""")
    return "WITH " + ",\n    ".join(ctes) + """
    SELECT s.vec_id, CAST(s.cid AS BIGINT) AS cid
    FROM csim s LEFT JOIN dropped d ON s.vec_id = d.vec_id
    WHERE d.vec_id IS NULL
    ORDER BY s.vec_id
    """


def _duck_ivf_topk_sql(
    k: int = 3,
    n_queries: int = 5,
    n_centroids: int = 8,
    nprobe: int = 2,
    n_iter: int = 2,
    dim: int = 64,
) -> str:
    """Twin of similarity.ivf_topk over the shared Lloyd-unroll CTEs
    (see _duck_lloyd_af_ctes for the exactness argument)."""
    dist = _duck_dist_sql
    norm = _DUCK_NORM_SQL
    pair_dot = _duck_pair_dot_sql("af.embedding", "qp.qv")
    ctes, cf = _duck_lloyd_af_ctes(n_centroids, n_iter, dim)
    ctes.append(f"""qp AS (
      SELECT query_id, qv, cid FROM (
        SELECT q.vec_id AS query_id, q.embedding AS qv, c.cid,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY {dist('q.embedding', 'c.c')}, c.cid) AS rn
        FROM embeddings q CROSS JOIN {cf} c WHERE q.vec_id < {n_queries}
      ) WHERE rn <= {nprobe})""")
    ctes.append(f"""scored AS (
      SELECT qp.query_id, af.vec_id,
        ({pair_dot}) / ({norm.format(v='af.embedding')} * {norm.format(v='qp.qv')}) AS cosine
      FROM af JOIN qp ON af.cid = qp.cid)""")
    return "WITH " + ",\n    ".join(ctes) + f"""
    SELECT query_id, vec_id, CAST(rank AS BIGINT) AS rank FROM (
      SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
      FROM scored
    ) WHERE rank <= {k} ORDER BY query_id, rank
    """


def _duck_pagerank_sql(n_iter: int = 3) -> str:
    ctes = [
        """e AS (SELECT DISTINCT CAST(user_id % 50 AS BIGINT) AS src,
                      CAST((user_id * 7 + event_id) % 50 AS BIGINT) AS dst
               FROM events
               WHERE user_id % 50 <> (user_id * 7 + event_id) % 50)""",
        "nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e))",
        "deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src)",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        # init = PR_SCALE // n (python int floor division); base =
        # int((1.0 - 0.85) * 1e6 / n) — mirrored op order exactly
        """r0 AS (SELECT node,
                 CAST(1000000 // (SELECT n FROM nn) AS BIGINT) AS pr FROM nodes)""",
    ]
    base = (
        "CAST(floor((1.0 - 0.85) * 1000000 / CAST((SELECT n FROM nn) AS DOUBLE))"
        " AS BIGINT)"
    )
    for t in range(1, n_iter + 1):
        ctes.append(
            f"""c{t} AS (SELECT e.dst AS node,
                 CAST(sum(r.pr // d.outdeg) AS BIGINT) AS s
               FROM e JOIN r{t - 1} r ON e.src = r.node
                      JOIN deg d ON e.src = d.src
               GROUP BY e.dst)"""
        )
        ctes.append(
            f"""r{t} AS (SELECT n.node,
                 CAST({base} + floor(0.85 * CAST(COALESCE(c.s, 0) AS DOUBLE))
                      AS BIGINT) AS pr
               FROM nodes n LEFT JOIN c{t} c ON n.node = c.node)"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"\n    SELECT node, pr AS pr_fp FROM r{n_iter} ORDER BY node"
    )


# Shared by dedup_decontaminate and dedup_decontaminate_bloom — the
# bloom variant is a different physical strategy with identical
# output, so both check against this one oracle.
_DECON_ORACLE = f"""
    WITH btoks AS (
      SELECT {_duck_tokens('substr(text, 10, 200)')} AS toks
      FROM documents WHERE doc_id % 50 = 7
    ), bench AS (
      SELECT DISTINCT sh FROM (
        SELECT unnest({_duck_word_shingles('toks', 13)}) AS sh FROM btoks
      )
    ), dtoks AS (
      SELECT doc_id, {_duck_tokens('text')} AS toks FROM documents
    ), d AS (
      SELECT doc_id, unnest({_duck_word_shingles('toks', 13)}) AS sh FROM dtoks
    )
    SELECT d.doc_id, count(*) AS n_contaminated
    FROM d JOIN bench ON d.sh = bench.sh
    GROUP BY d.doc_id ORDER BY d.doc_id
"""
