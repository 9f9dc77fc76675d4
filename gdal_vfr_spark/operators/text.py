"""Text analysis for training-data pipelines: language ID, quality
scoring, token counting, document fingerprinting.

Catalyst expressions or Arrow kernels over the shared tokenizer
contract (functions.text_expr.tokens_expr) — each has an exact
DuckDB-SQL twin in duck_sql.py, compared by tests/test_oracle.py.
Heuristics are deliberately simple/deterministic (n-gram/stopword
evidence), not model-based: the engine ships no ML runtime, and
determinism is what the oracle gate needs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from gdal_vfr_spark.functions.text_expr import tokens_expr

# Tiny, fixed stopword evidence sets (public common-words lists).
STOPWORDS = {
    "en": ["the", "of", "and", "to", "in", "is", "for", "on", "with", "as"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "ein"],
    "cs": ["a", "se", "na", "je", "v", "z", "do", "pro", "ze", "si"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "du", "est", "dans"],
}


def token_count_expr(text) -> F.Column:
    """Whitespace-ish token count (the BPE-ish proxy: alnum runs)."""
    return F.size(tokens_expr(text))


def fingerprint_expr(text) -> F.Column:
    """Content fingerprint: md5 of the sorted distinct token set —
    invariant to word order/whitespace (boilerplate-shuffle robust)."""
    toks = tokens_expr(text)
    return F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " "))


_TOKEN_RE = "[^a-z0-9]+"  # the tokens_expr contract (functions.text_expr)


def with_lang_id(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "lang_pred",
) -> DataFrame:
    """Language ID column: an Arrow pandas UDF. Tokens follow the
    tokens_expr contract (lower, split [^a-z0-9]+, drop empties — the
    word_shingle_hash_rows precedent), per-language stopword hits are
    set lookups, and the argmax breaks ties by language-code order;
    zero evidence (empty or null text) gives 'und'. Stopword hits are
    exact integer counts, so the result equals the DuckDB twin
    (`_duck_lang_case` in duck_sql.py) exactly: tests/test_oracle.py
    checks the text_lang query and tests/test_dedup_text.py the crafted
    null / empty / digits-only rows. Only the text column crosses the
    boundary (a Catalyst higher-order array_contains chain measured
    5.5 s at sf1.0 vs ~1 s for this pass).
    """
    import re as _re

    langs = sorted(STOPWORDS)
    sets = [frozenset(STOPWORDS[lang]) for lang in langs]
    tok_re = _re.compile(_TOKEN_RE)

    @F.pandas_udf("string")
    def _lang(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append("und")
                continue
            toks = [x for x in tok_re.split(t.lower()) if x]
            scores = [0] * len(sets)
            for x in toks:
                for i, s in enumerate(sets):
                    if x in s:
                        scores[i] += 1
            best = max(scores)
            out.append(
                langs[scores.index(best)] if best > 0 else "und"
            )
        return pd.Series(out, dtype="object")

    from gdal_vfr_spark.plans.skew import spread_small_input

    return spread_small_input(df).withColumn(out_col, _lang(F.col(text_col)))


def with_quality(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "quality",
) -> DataFrame:
    """Deterministic quality score in [0,1] as an Arrow pandas UDF:
    0.4*length_score + 0.3*stop_ratio + 0.3*alpha_ratio, evaluated
    left-associatively in float64, where length_score saturates at 100
    tokens. Rounded to 6 digits via an EXPLICIT floor(x*1e6 + 0.5)/1e6
    — engine round() built-ins diverge on true decimal halves (Spark
    BigDecimal half-up on the shortest repr vs DuckDB's multiply trick
    on the binary double); the explicit form is the same float64 ops
    in both engines, so it is bit-stable. The score equals the DuckDB
    twin (`_duck_quality_expr` in duck_sql.py) bit-for-bit:
    tests/test_oracle.py checks the text_quality query and
    tests/test_dedup_text.py the crafted null / empty / digits-only /
    150-token rows. A null text scores 0.4, as in the oracle: the
    token count is null, least() skips it (length_score = 1.0), and
    both ratio guards give 0.0. Only the text column crosses the
    boundary (a Catalyst array_contains chain plus a regex rewrite of
    the full text measured 5.6 s at sf1.0 vs ~1 s for this pass).
    """
    import math as _math
    import re as _re

    all_stop = frozenset(
        s for langset in sorted(STOPWORDS) for s in STOPWORDS[langset]
    )
    tok_re = _re.compile(_TOKEN_RE)
    non_alpha_re = _re.compile("[^a-z]")

    @F.pandas_udf("double")
    def _quality(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                # null token count: least() SKIPS nulls, so
                # length_score = 1.0 and the guards give 0.0 ratios
                toks = None
                n = 0.0
                length_score = 1.0
            else:
                toks = [x for x in tok_re.split(t.lower()) if x]
                n = float(len(toks))
                length_score = min(n / 100.0, 1.0)
            if n > 0:
                hits = 0
                for x in toks:
                    if x in all_stop:
                        hits += 1
                stop_ratio = float(hits) / n
            else:
                stop_ratio = 0.0
            if t is not None and len(t) > 0:
                alpha = float(len(non_alpha_re.sub("", t.lower())))
                alpha_ratio = alpha / float(len(t))
            else:
                alpha_ratio = 0.0
            raw = 0.4 * length_score + 0.3 * stop_ratio + 0.3 * alpha_ratio
            out.append(_math.floor(raw * 1000000.0 + 0.5) / 1000000.0)
        return pd.Series(out, dtype="float64")

    from gdal_vfr_spark.plans.skew import spread_small_input

    return spread_small_input(df).withColumn(out_col, _quality(F.col(text_col)))


# Conservative PII patterns restricted to the regex subset Java
# (Spark) and RE2 (DuckDB) agree on: no backrefs, no lookaround.
PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_PHONE_RE = "\\+?[0-9]{3}[- .][0-9]{3}[- .][0-9]{3,4}"


def scrub_pii_expr(text) -> F.Column:
    """Email/phone redaction for training corpora: emails -> [EMAIL],
    phone-shaped number groups -> [PHONE]. Pure Catalyst regexp_replace
    chain (order matters: emails first so digits inside them are gone
    before the phone pass). Patterns are deliberately conservative —
    the cost of a missed weird format is lower than mangling code/math
    text, the standard trade in web-corpus scrubbing."""
    t = F.col(text) if isinstance(text, str) else text
    out = F.regexp_replace(t, PII_EMAIL_RE, "[EMAIL]")
    return F.regexp_replace(out, PII_PHONE_RE, "[PHONE]")


def vocab_topn(df: DataFrame, text_col: str = "text", n: int = 20) -> DataFrame:
    """Corpus vocabulary head: top-n tokens by occurrence (ties to the
    lexicographically smaller token — deterministic cut). explode ->
    partial+final hash count -> TakeOrdered: Spark's orderBy+limit
    plans as a per-partition top-n merge, NOT a global sort, so this
    holds at 10^12 documents."""
    toks = df.select(F.explode(tokens_expr(text_col)).alias("token"))
    return (
        toks.groupBy("token")
        .agg(F.count("*").alias("n_occ"))
        .orderBy(F.desc("n_occ"), F.asc("token"))
        .limit(n)
    )


def source_stats(df: DataFrame, text_col: str = "text", group_col: str = "source") -> DataFrame:
    """Per-source corpus health: doc count + quality distribution.
    The mean uses a DECIMAL sum (quality is already rounded to 1e-6,
    so the sum is exact and order-free) divided once in float64 —
    bit-stable across partitionings and engines."""
    q = with_quality(df, text_col)
    return q.groupBy(group_col).agg(
        F.count("*").alias("n_docs"),
        (
            F.sum(F.col("quality").cast("decimal(18,6)")).cast("double")
            / F.count("*").cast("double")
        ).alias("avg_quality"),
        F.min("quality").alias("min_quality"),
        F.max("quality").alias("max_quality"),
    )


def pack_bins(
    df: DataFrame,
    budget: int,
    text_col: str = "text",
    order_col: str = "doc_id",
    shard_col: str | None = None,
) -> DataFrame:
    """Concat-and-chunk sequence packing (GPT-style pretraining prep):
    documents are laid end-to-end in order_col order and cut into
    token-budget bins — bin = floor(tokens_before / budget), offset =
    tokens_before % budget. One running-sum window; at scale pass
    shard_col (packing is per-shard in production pipelines) so the
    window partitions instead of globally sorting. Omitting shard_col
    emits a loud warning: the unpartitioned window funnels the whole
    table through ONE reducer — fine for a unit test, a stall at
    corpus scale."""
    from pyspark.sql import Window

    if shard_col is None:
        import warnings

        warnings.warn(
            "pack_bins called without shard_col: the running-sum window is "
            "unpartitioned and will run on a SINGLE reducer. Pass shard_col "
            "for any corpus-scale input.",
            stacklevel=2,
        )
    n = token_count_expr(text_col)
    w = (
        Window.partitionBy(shard_col) if shard_col else Window.partitionBy()
    ).orderBy(order_col).rowsBetween(Window.unboundedPreceding, -1)
    before = F.coalesce(F.sum(n).over(w), F.lit(0))
    cols = [order_col] + ([shard_col] if shard_col else [])
    return df.select(
        *cols,
        n.alias("n_tokens"),
        F.floor(before / F.lit(budget)).alias("bin"),
        (before % F.lit(budget)).alias("bin_offset"),
    )


def chunk_tokens(
    df: DataFrame,
    size: int,
    overlap: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window document chunking (embedding-corpus prep): one
    row per (doc, window) with the chunk text — starts at 0, size-
    overlap, 2*(size-overlap), ... while < n_tokens. 1:N explode, all
    Catalyst; empty docs yield no chunks."""
    if overlap >= size:
        raise ValueError("overlap must be < size")
    step = size - overlap
    toks = tokens_expr(text_col)
    base = df.select(
        id_col, toks.alias("__toks"), F.size(toks).alias("__n")
    ).where(F.col("__n") > 0)
    out = base.select(
        id_col,
        "__toks",
        "__n",
        F.explode(
            F.sequence(F.lit(0), F.col("__n") - 1, F.lit(step))
        ).alias("token_start"),
    )
    chunk_len = F.least(F.lit(size), F.col("__n") - F.col("token_start"))
    return out.select(
        id_col,
        "token_start",
        chunk_len.alias("chunk_len"),
        F.array_join(
            F.slice(F.col("__toks"), F.col("token_start") + 1, chunk_len), " "
        ).alias("chunk_text"),
    )


def analyze(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach all four analysis columns: n_tokens, lang_pred (with_lang_id),
    quality (with_quality) and fingerprint."""
    out = df.select("*", token_count_expr(text_col).alias("n_tokens"))
    out = with_quality(with_lang_id(out, text_col), text_col)
    return out.withColumn("fingerprint", fingerprint_expr(text_col))


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_col: str = "query",
) -> DataFrame:
    """BM25-lite keyword retrieval: top-k docs per query string (the
    inverted-index workload a corpus-curation pipeline runs for
    benchmark mining / targeted filtering; engine addition, no
    reference analogue).

    Two deliberate exactness choices (see engine oracle rules):
    - idf is the RATIONAL Robertson form (N - df + 0.5)/(df + 0.5)
      WITHOUT the log — log/ln differ in the last ulp across libm
      implementations; the rational form is ratio-monotone in df, so
      rankings are BM25-faithful and the DuckDB twin is bit-identical.
    - the per-doc score sums fixed-point bigints (floor(term_score *
      2^20)), which is order-free across partitions; ties break by id.

    Scale shape: query terms (tiny) broadcast and PRUNE the term-freq
    table before anything else; df counts are computed only for the
    surviving query terms. Shuffles: tf groupBy(doc, term), the per-
    (query, doc) score aggregate, and the per-query top-k window —
    all keyed, no cross join. The corpus is tokenized ONCE per call;
    at 10^12 docs you would materialize tf/dl as a posting-list table
    and reuse it across query batches (same once-per-job vs per-batch
    split as the PIP joiners)."""
    from pyspark.sql import Window

    # ONE corpus tokenization feeds both tf and dl: dl = sum(tf) over
    # the doc partition (a window on the already-aggregated tf table —
    # no second scan, no corpus-sized sort-merge join back to docs)
    from gdal_vfr_spark.plans.skew import spread_small_input

    docs = spread_small_input(docs.select(id_col, text_col))
    # Tokenize ONCE: the per-doc token arrays are persisted and feed
    # both the tf explode AND the avgdl stats aggregate (round-6: the
    # stats branch used to re-run the regex tokenizer over the whole
    # corpus a second time — guide §1.2 "don't compute things twice").
    # sum(size(__toks)) is the same integer as sum(token_count_expr):
    # token_count_expr IS size(tokens_expr), including the size(null)
    # = -1 null-text behavior, so avgdl is bit-identical.
    base = docs.select(F.col(id_col), tokens_expr(text_col).alias("__toks")).persist()
    toks = base.select(F.col(id_col), F.explode("__toks").alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    tf = tf.withColumn("dl", F.sum("tf").over(Window.partitionBy(id_col)))
    stats = base.agg(
        F.count("*").alias("n"), F.sum(F.size("__toks")).alias("total")
    ).first()
    n_docs = int(stats["n"])
    avgdl = float(stats["total"]) / float(n_docs) if n_docs else 1.0
    qterms = queries.select(
        F.col(query_id_col), F.explode(tokens_expr(query_col)).alias("term")
    ).distinct()
    # prune by the term set FIRST (query-id-free, so df counts stay
    # per-term even when several queries share a term). df is a COUNT
    # WINDOW over the pruned slice, not a separate aggregate branch — a
    # second branch would re-tokenize the whole corpus inside its
    # broadcast subtree (Spark does not share unpersisted subplans);
    # the window costs one exchange of the tiny pruned table instead
    pruned = tf.join(F.broadcast(qterms.select("term").distinct()), "term")
    pruned = pruned.withColumn(
        "df", F.count("*").over(Window.partitionBy("term"))
    )
    dfd = F.col("df").cast("double")
    tfd = F.col("tf").cast("double")
    dld = F.col("dl").cast("double")
    idf = (F.lit(float(n_docs)) - dfd + F.lit(0.5)) / (dfd + F.lit(0.5))
    norm = (tfd * F.lit(k1 + 1.0)) / (
        tfd + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (dld / F.lit(avgdl)))
    )
    contrib = F.floor((idf * norm) * F.lit(1048576.0)).cast("long")
    scored = (
        pruned.join(F.broadcast(qterms), "term")
        .select(query_id_col, id_col, contrib.alias("s"))
        .groupBy(query_id_col, id_col)
        .agg(F.sum("s").alias("score_fp"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("score_fp"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "score_fp", F.col("rank").cast("long").alias("rank"))
    )


def value_quantiles(
    df: DataFrame,
    group_col: str = "source",
    value_col: str = "n_chars",
    id_col: str = "doc_id",
    ps: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """EXACT per-group quantiles by rank selection (corpus length/
    quality distribution profiling): q(p) = the value at row_number
    floor((n-1) * p) + 1 in ascending (value, id) order — a pure
    integer selection, so the cross-engine oracle is exact where
    percentile_approx/percentile_cont float interpolation is not.

    One window shuffle on the group key (rank + count over the same
    partition — single exchange); the quantile filter is a map-side
    OR over the requested ranks. For 100 TB profiling you'd typically
    pre-aggregate to (group, value, count) first — same shape, smaller
    window input."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        F.col(value_col).asc(), F.col(id_col).asc()
    )
    wn = Window.partitionBy(group_col)
    ranked = df.select(
        F.col(group_col),
        F.col(value_col),
        F.row_number().over(w).alias("__rn"),
        F.count("*").over(wn).alias("__n"),
    )
    # ONE pass: explode the (p, target-rank) pairs and filter — a
    # unionByName of per-p branches would recompute the window subtree
    # once per quantile (Spark shares no unpersisted subplans)
    targets = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(float(p)).alias("p"),
                    (
                        F.floor((F.col("__n") - 1) * F.lit(float(p))).cast("long")
                        + 1
                    ).alias("t"),
                )
                for p in ps
            ]
        )
    ).alias("pt")
    return (
        ranked.select(group_col, value_col, "__rn", targets)
        .where(F.col("pt.t") == F.col("__rn"))
        .select(
            group_col, F.col("pt.p").alias("p"), F.col(value_col).alias("value")
        )
    )


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = 2,
    dup_n: int = 5,
) -> DataFrame:
    """Gopher-style repetition profile per document, integer-exact
    (semantics class: Rae et al. 2021, "Scaling Language Models"
    §A1.1 repetition filters, re-expressed over the shared tokenizer).

    Emits INTEGER character budgets, never float fractions, so the
    cross-engine oracle is exact:
      n_words / word_chars / distinct_words — token tally over the
        shared tokenizer (word_chars excludes separators);
      top{top_n}_chars — chars covered by the single most-covering
        top_n-gram: max over grams of count * charlen(gram), where
        charlen excludes the joining spaces (deterministic — an
        integer max needs no most-frequent tie-break rule);
      dup{dup_n}_chars — chars covered by dup_n-grams occurring more
        than once (count * charlen summed over those grams);
      keep_repetition — the filter verdict via integer
        cross-multiplication (no float division): top-gram coverage
        <= 20% of word_chars AND dup-gram coverage <= 15%.

    Plan shape (scales): every budget is a PER-DOCUMENT aggregate, so
    the default path is MAP-ONLY — an Arrow mapInPandas pass that
    tokenizes (the tokens_expr contract: lower, split [^a-z0-9]+,
    drop empties — the word_shingle_hash_rows precedent) and counts
    each doc's n-grams locally. Zero shuffles: the n-gram stream
    never crosses the wire at all (round-6 optimization; the old
    tagged-explode + groupBy(id, n, gram) + groupBy(id) shape
    shuffled ~12 gram rows per token twice — 19.7 s at sf1.0 vs the
    per-doc counter's integer arithmetic). Every budget is an integer
    computed from exact token counts, so the result equals the DuckDB
    twin (`_duck_repetition_sql` in duck_sql.py, the
    tagged-explode + two-aggregate shape) exactly: tests/test_oracle.py
    checks the text_repetition query and tests/test_dedup_text.py the
    crafted docs. Documents with zero tokens (or null text) emit no
    row, mirroring the oracle's inner unnest.
    """
    import re as _re

    import pandas as _pd

    id_dt = df.schema[id_col].dataType.simpleString()
    schema = (
        f"{id_col} {id_dt}, n_words long, word_chars long,"
        f" distinct_words long, top{top_n}_chars long,"
        f" dup{dup_n}_chars long, keep_repetition int"
    )
    src = df.select(id_col, text_col)
    # small inputs arrive as 1-2 parquet splits; spread the map work
    # (same trigger as word_shingle_hash_rows — at production partition
    # counts this branch never fires)
    if not src.isStreaming:
        para = src.sparkSession.sparkContext.defaultParallelism
        if src.rdd.getNumPartitions() < para:
            src = src.repartition(para)
    tok_re = _re.compile(r"[^a-z0-9]+")

    def _stats(batches):
        from collections import Counter

        for pdf in batches:
            ids = pdf[id_col]
            texts = pdf[text_col]
            o_id, o_nw, o_wc, o_dw, o_top, o_dup, o_keep = [], [], [], [], [], [], []
            for j in range(len(pdf)):
                t = texts.iloc[j]
                if t is None or (isinstance(t, float)):
                    continue
                toks = [x for x in tok_re.split(str(t).lower()) if x]
                if not toks:
                    continue
                lens = [len(x) for x in toks]
                n_words = len(toks)
                word_chars = sum(lens)
                distinct_words = len(set(toks))
                top_chars = 0
                if top_n == 1:
                    cnt = Counter(toks)
                    top_chars = max(c * len(g) for g, c in cnt.items())
                elif n_words >= top_n:
                    cnt = Counter(
                        tuple(toks[i : i + top_n])
                        for i in range(n_words - top_n + 1)
                    )
                    # charlen excludes the joining spaces = sum of
                    # member token lengths
                    top_chars = max(
                        c * sum(len(w) for w in g) for g, c in cnt.items()
                    )
                dup_chars = 0
                if dup_n == 1:
                    cnt = Counter(toks)
                    dup_chars = sum(c * len(g) for g, c in cnt.items() if c > 1)
                elif n_words >= dup_n:
                    cnt = Counter(
                        tuple(toks[i : i + dup_n])
                        for i in range(n_words - dup_n + 1)
                    )
                    dup_chars = sum(
                        c * sum(len(w) for w in g)
                        for g, c in cnt.items()
                        if c > 1
                    )
                keep = int(
                    top_chars * 5 <= word_chars
                    and dup_chars * 20 <= word_chars * 3
                )
                o_id.append(ids.iloc[j])
                o_nw.append(n_words)
                o_wc.append(word_chars)
                o_dw.append(distinct_words)
                o_top.append(top_chars)
                o_dup.append(dup_chars)
                o_keep.append(keep)
            yield _pd.DataFrame(
                {
                    id_col: _pd.Series(o_id, dtype=ids.dtype),
                    "n_words": _pd.Series(o_nw, dtype="int64"),
                    "word_chars": _pd.Series(o_wc, dtype="int64"),
                    "distinct_words": _pd.Series(o_dw, dtype="int64"),
                    f"top{top_n}_chars": _pd.Series(o_top, dtype="int64"),
                    f"dup{dup_n}_chars": _pd.Series(o_dup, dtype="int64"),
                    "keep_repetition": _pd.Series(o_keep, dtype="int32"),
                }
            )

    return src.mapInPandas(_stats, schema)


# --- line-level cleaning (C4 §2.2 / RefinedWeb line-wise filters) --------
#
# Web pages carry structural junk BETWEEN good sentences: nav stubs,
# "enable javascript" banners, cookie notices, short menu fragments.
# Document-level filters can't remove them without dropping the whole
# page; line-level rules rewrite the text. Both operators below keep
# the text column map-only where possible and only ever shuffle narrow
# (hash, count) keys — the reference's analogue is the per-feature
# geometry-column rewrite chain (vfr4ogr/vfrogr.py:737-776 modifyFeature),
# re-expressed for per-line text rewriting.

LINE_BLOCK_MARKERS = ("javascript", "lorem ipsum", "cookie")
_TERMINAL = (".", "!", "?", '"', "'")


def clean_lines_expr(
    text,
    min_words: int = 3,
    markers: tuple = LINE_BLOCK_MARKERS,
) -> F.Column:
    """Array of surviving lines of `text` under the C4 line rules:
    a line survives iff it has >= min_words whitespace words, ends in
    terminal punctuation (. ! ? " ' after rtrim), and contains no
    blocked marker substring (case-insensitive). Pure Catalyst
    higher-order filter — one projection, no Python, no shuffle."""
    text = F.col(text) if isinstance(text, str) else text
    lines = F.split(text, "\n")

    def _keep(l):
        t = F.trim(l)
        wordy = F.size(F.split(t, r"\s+")) >= min_words
        punct = F.substring(F.rtrim(l), -1, 1).isin(*_TERMINAL)
        low = F.lower(l)
        marked = None
        for m in markers:
            hit = low.contains(F.lit(m))
            marked = hit if marked is None else (marked | hit)
        return wordy & punct & (~marked if marked is not None else F.lit(True))

    return F.filter(lines, _keep)


def clean_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 3,
    min_lines: int = 1,
    markers: tuple = LINE_BLOCK_MARKERS,
) -> DataFrame:
    """Per-document line-rule rewrite: appends n_lines (original),
    n_kept, keep_doc (1 iff n_kept >= min_lines) and clean_text (the
    surviving lines rejoined). Map-only — a projection chain over the
    text column; at 100 TB this is the same shape as any other text
    scan stage and composes with the doc-level gates."""
    kept = clean_lines_expr(text_col, min_words=min_words, markers=markers)
    out = df.withColumn("__kept", kept)
    return (
        out.withColumn("n_lines", F.size(F.split(F.col(text_col), "\n")))
        .withColumn("n_kept", F.size("__kept"))
        .withColumn("keep_doc", (F.col("n_kept") >= min_lines).cast("int"))
        .withColumn("clean_text", F.array_join("__kept", "\n"))
        .drop("__kept")
    )
