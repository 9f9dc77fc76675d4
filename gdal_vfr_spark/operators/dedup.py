"""Deduplication family for web-scale training-data pipelines.

Exact (hash groupBy), MinHash+LSH (shingle -> signature -> band ->
bucket self-join), SimHash (bitwise majority over token hashes), and
exact n-gram Jaccard verification for candidate pairs. All hot paths
are built-in Catalyst expressions (JVM, codegen) — no Python UDFs —
which also makes them DuckDB-oracle-checkable.

Scale notes (100 TB):
- exact_dedup shuffles once on a 128-bit content hash; AQE skew-split
  handles boilerplate-heavy hash collisions groups.
- LSH self-join shuffles on band keys; band buckets are tiny by
  construction (b*r tuned for the similarity threshold), so the
  pair-explosion is bounded; a hot bucket (exact-duplicate cluster)
  is exactly what exact_dedup removes first — run it upstream.
- simhash is a pure map + single groupBy; near-dup query is a
  Hamming-ball probe over rotated keys.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import ArrayType, LongType, StringType

from gdal_vfr_spark.functions.text_expr import (
    TOKEN_SPLIT_RE,
    band_keys_expr,
    shingle_hash_expr,
    shingles_expr,
    tokens_expr,
)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the smallest id per exact text content (md5 group key)."""
    return (
        df.withColumn("__h", F.md5(F.col(text_col)))
        .groupBy("__h")
        .agg(F.min(F.col(id_col)).alias(id_col), F.count("*").alias("n_dups"))
        .drop("__h")
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    char_shingles: bool = False,
) -> DataFrame:
    """Benchmark decontamination — the train/test overlap removal every
    LLM training pipeline runs before the dedup'd corpus ships: flag
    each training document that shares ANY word n-gram with the
    evaluation corpus, with the per-doc count of contaminated shingles
    (no analogue in the reference; standard public technique — the
    GPT-3/PaLM appendix 13-gram-token overlap, parameterized here;
    char_shingles=True selects character n-grams instead).

    Returns (id_col, n_contaminated) for contaminated docs only; feed
    to drop_contaminated for the cleaned corpus.

    Scale shape: the benchmark side is the SMALL one (eval suites are
    10^3-10^6 rows) — its distinct shingle set broadcasts, hashed to
    16-hex-char keys (shingle_hash_expr) so the broadcast is ~5x
    narrower than the shingle strings; the corpus side is one map-side
    explode + broadcast semi-join, then one partial+final count keyed
    by doc id. Word shingles do O(words) probe work per doc, not
    O(chars) — the round-3 headline's biggest map-side cost cut. The
    10^12-doc side never shuffles its text, only (id, matched-hash)
    survivors."""
    if char_shingles:
        # explode must stay a top-level generator; hash in a 2nd select
        bench = (
            benchmark.select(
                F.explode(shingles_expr(F.col(bench_text_col), n)).alias("__s")
            )
            .select(shingle_hash_expr(F.col("__s")).alias("__sh"))
            .distinct()
        )
        probe = docs.select(
            F.col(id_col), F.explode(shingles_expr(F.col(text_col), n)).alias("__s")
        ).select(id_col, shingle_hash_expr(F.col("__s")).alias("__sh"))
    else:
        bench = word_shingle_hash_rows(
            benchmark.select(F.col(bench_text_col).alias("__t")), "__t", None, n
        ).distinct()
        probe = word_shingle_hash_rows(docs, text_col, id_col, n)
    return (
        probe.join(F.broadcast(bench), "__sh")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_contaminated"))
    )


def word_shingle_hash_rows(
    df: DataFrame,
    text_col: str,
    id_col: str | None,
    n: int = 13,
) -> DataFrame:
    """Exploded (id_col?, __sh) rows — one per DISTINCT word n-gram of
    each document, keyed by the 16-hex-char md5-half shingle hash
    (shingle_hash_expr semantics). An Arrow mapInPandas pass (regex
    tokenize + window join + hashlib md5 per distinct window): a
    Catalyst higher-order-function construction pays ~18µs of
    interpreter overhead PER WINDOW (slice + concat_ws are interpreted
    per element), which measured 2x slower than the whole char-shingle
    path despite 6x fewer units. Tokenization is the tokens_expr
    contract: lower, split on [^a-z0-9]+, drop empties; docs shorter
    than n tokens contribute their full sequence; empty and null texts
    contribute nothing. The DuckDB twin is `_duck_word_shingles` in
    duck_sql.py (the dedup_decontaminate oracle);
    tests/test_dedup_text.py compares the hashes with it on crafted docs
    at n = 3 and 13."""
    cols = ([id_col] if id_col else []) + [text_col]
    src = df.select(*cols)
    # a corpus at scale arrives in thousands of parquet splits; a
    # bench-sized fixture arrives as ONE small file, which would
    # serialize the Arrow pass on a single python worker. Spreading a
    # tiny input is a trivial shuffle; at production partition counts
    # this branch never fires (so "the corpus never shuffles its text"
    # still holds where it matters).
    # (streaming inputs skip the check: .rdd is undefined on a stream,
    # and micro-batch partitioning is the trigger's concern)
    if not src.isStreaming:
        para = src.sparkSession.sparkContext.defaultParallelism
        if src.rdd.getNumPartitions() < para:
            src = src.repartition(para)
    schema = (
        f"{src.schema[id_col].name} {src.schema[id_col].dataType.simpleString()}, __sh string"
        if id_col
        else "__sh string"
    )
    tok_re = re.compile(r"[^a-z0-9]+")

    def _rows(batches):
        for pdf in batches:
            ids_out: list = []
            sh_out: list[str] = []
            texts = pdf[text_col]
            ids = pdf[id_col] if id_col else None
            for j in range(len(pdf)):
                text = texts.iloc[j]
                if text is None:  # null text: no shingle, as in the DuckDB twin
                    continue
                toks = [t for t in tok_re.split(str(text).lower()) if t]
                if len(toks) <= n:
                    grams = {" ".join(toks)} if toks else set()
                else:
                    grams = {
                        " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
                    }
                hs = [
                    hashlib.md5(g.encode("utf-8")).hexdigest()[:16] for g in grams
                ]
                sh_out.extend(hs)
                if id_col is not None:
                    ids_out.extend([ids.iloc[j]] * len(hs))
            data = {"__sh": sh_out}
            if id_col is not None:
                data = {id_col: ids_out, "__sh": sh_out}
            yield pd.DataFrame(data)

    return src.mapInPandas(_rows, schema)


def drop_contaminated(
    docs: DataFrame, contaminated: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Cleaned corpus: anti-join against decontaminate()'s flag set."""
    return docs.join(contaminated.select(id_col), on=id_col, how="left_anti")


def with_minhash(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 5,
    out_col: str = "minhash",
) -> DataFrame:
    """MinHash signature column (array<long>) as an Arrow pandas UDF:
    ONE hashlib md5 per distinct character shingle, split into two
    big-endian halves (a, b) mod P=2^31-1, then the whole k-hash
    family h_i = (a + i*b) mod P in one numpy matrix op
    (Kirsch-Mitzenmacher double hashing — k-fold less hashing than a
    per-(i, shingle) md5, which is what holds at 10^12 docs). The
    DuckDB twin is the `sig` CTE of `_duck_sig_bands_cte` in
    duck_sql.py; tests/test_dedup_text.py compares the
    signatures with it on crafted docs, and tests/test_oracle.py every
    MinHash query."""
    P = 2147483647

    @F.pandas_udf(ArrayType(LongType()))
    def _sig(texts: pd.Series) -> pd.Series:
        out = []
        md5 = hashlib.md5
        idx = np.arange(num_hashes, dtype=np.uint64)
        pnp = np.uint64(P)
        # per-batch shingle->(a, b) cache: web text repeats shingles
        # heavily across documents (500x on the fixture corpus, 5-20x
        # on real crawl data), so hashing each DISTINCT shingle once
        # per Arrow batch removes most of the md5 grind. Size-capped so
        # a pathological batch can't blow executor memory.
        cache: dict[str, tuple[int, int]] = {}

        def ab_of(s: str) -> tuple[int, int]:
            v = cache.get(s)
            if v is None:
                d = md5(s.encode()).digest()
                v = (
                    int.from_bytes(d[8:16], "big") % P,
                    int.from_bytes(d[:8], "big") % P,
                )
                if len(cache) > 4_000_000:
                    cache.clear()
                cache[s] = v
            return v

        for t in texts:
            t = t or ""
            upper = max(len(t) - shingle_n + 1, 1)
            shingles = {t[i : i + shingle_n] for i in range(upper)}
            ab = np.asarray([ab_of(s) for s in shingles], dtype=np.uint64)
            sig = ((ab[:, 0:1] + idx[None, :] * ab[:, 1:2]) % pnp).min(axis=0)
            out.append(sig.astype(np.int64).tolist())
        return pd.Series(out)

    return df.withColumn(out_col, _sig(F.col(text_col)))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 5,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs (a < b) sharing >=1 LSH band bucket,
    with the MinHash Jaccard estimate (fraction of agreeing signature
    positions). bands*rows == num_hashes.

    max_bucket caps the band self-join's quadratic blowup: a template
    duplicated B times co-buckets in (almost) every band and all-pairs
    emits O(B^2) rows per band — B=10^5 boilerplate copies (the normal
    case in web corpora) is 5*10^9 pairs from ONE bucket, a straggler
    that no shuffle setting fixes (measured: tools/lsh_skew_run.py /
    BASELINE.md). Buckets larger than the cap emit STAR pairs instead —
    (bucket-min id, member) for every other member: O(B) rows,
    component-preserving (every member stays connected to the rest of
    the bucket through the min), pair-lossy (within-bucket non-min
    pairs are dropped; connected_components / dedup_keep_representatives
    consumers are unaffected, pinned in tests/test_dedup.py). The
    bucket stats come from a map-side-combined groupBy joined back on
    band_key — the same skew-safe shape as exact_substring_spans'
    duplicate marking, never a window over a content key. max_bucket=
    None keeps exact all-pairs output (the oracle-checked default)."""
    rows = num_hashes // bands
    if bands * rows != num_hashes:
        raise ValueError("bands must divide num_hashes")
    # repartition first: a small parquet input arrives as 1-2 partitions
    # and the md5 signature grind would run on one core; at real scale
    # the input is already thousands of partitions and this coalesces to
    # the same shuffle the join needs anyway.
    # persist the signature: without a materialization boundary,
    # Catalyst's CollapseProject inlines the 16-min signature expression
    # into every band-key expression (9x recompute of all the md5 work)
    spark = df.sparkSession
    sig = (
        with_minhash(
            df.repartition(spark.sparkContext.defaultParallelism, id_col),
            text_col,
            num_hashes,
            shingle_n,
        )
        .select(id_col, "minhash")
        .persist()
    )
    # materialize EAGERLY: the band self-join's a/b map stages are
    # independent and run concurrently — on a cold cache each side
    # recomputes the signature grind for partitions the other hasn't
    # finished caching (2x the md5 work, contending for every core).
    # One count() up front means every downstream scan (a-side, b-side,
    # sa/sb rejoin) is a warm cache read. Re-invocations of the same
    # plan dedupe through CacheManager, so repeated calls pay once.
    n_sig = sig.count()
    # Range partitions for the pair-table distinct, derived from input
    # size (guide §2.2/§5): the partition-local distinct hash table and
    # the callers' sort buffer scale with pairs-per-task, and the
    # fixture corpus generates ~1.8k candidate pairs per doc — ~1M
    # pairs per partition at n_sig/500 partitions (measured at the 10x
    # scale: 90M pairs, 11.5s at 1x parallelism vs 7.2s at 3x). Small
    # corpora stay at defaultParallelism (a larger fan-out measured
    # +0.3s at sf0.1); the 6x cap keeps the local bench comparable —
    # production sets spark.sql.shuffle.partitions for its own scale.
    para = spark.sparkContext.defaultParallelism
    n_range = max(para, min(6 * para, n_sig // 500))
    exploded = sig.select(
        id_col, "minhash", F.explode(band_keys_expr(F.col("minhash"), bands, rows)).alias("band_key")
    )
    if max_bucket is None:
        # (round-6 measured negative result: computing the agreement
        # INLINE in the band join — minhash arrays on both join sides,
        # distinct over (id_a, id_b, jaccard) — was 6x SLOWER (90.8s vs
        # 15.7s at sf1.0): the 90M-row join output materializes two
        # 16-long arrays per candidate row BEFORE the distinct, where
        # the bare-id shape pays two broadcast hash probes AFTER the
        # distinct instead. Keep bare-id pairs + post-distinct rejoin.)
        a = exploded.select(F.col(id_col).alias("id_a"), F.col("band_key")).alias("a")
        b = exploded.select(F.col(id_col).alias("id_b"), F.col("band_key")).alias("b")
        # distinct over bare id pairs (cheap), then rejoin the cached
        # signatures once per pair for the agreement estimate.
        # The distinct's exchange is a RANGE partition on (id_a, id_b):
        # RangePartitioning satisfies the aggregate's ClusteredDistribution,
        # and — because the broadcast rejoins and the jaccard projection
        # preserve the streamed side's partitioning — it ALSO satisfies
        # the OrderedDistribution of the callers' orderBy(id_a, id_b),
        # which then plans as a partition-local sort instead of a second
        # full exchange of the ~87M-row pair table (guide §2.4: two
        # operations keyed the same way share one exchange).
        # 3x parallelism range partitions (guide §5: smaller per-task
        # state): the partition-local distinct builds a hash table and
        # the callers' sort buffers the partition, so ~1M-pair tasks
        # beat ~3M-pair tasks on GC (measured 11.5s / 9.0s / 7.2s at
        # 1x / 2x / 3x on the 90M-pair 10x-scale input). Scales with
        # the cluster, not a local constant. (Also measured negative:
        # persisting the pre-distinct pair table to spare the range
        # sampler its re-generation — 10.0s; the columnar cache write
        # of 90M rows costs more than the broadcast-probe re-run.)
        pairs = (
            a.join(b, on="band_key")
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .repartitionByRange(n_range, F.asc("id_a"), F.asc("id_b"))
            .distinct()
        )
    else:
        stats = exploded.groupBy("band_key").agg(
            F.count("*").alias("__bn"), F.min(id_col).alias("__bmin")
        )
        pair_src = exploded.join(stats, "band_key")
        small = pair_src.where(F.col("__bn") <= max_bucket)
        sa_ = small.select(F.col(id_col).alias("id_a"), "band_key").alias("a")
        sb_ = small.select(F.col(id_col).alias("id_b"), "band_key").alias("b")
        all_pairs = (
            sa_.join(sb_, on="band_key")
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
        # hot buckets: O(B) star rows, map-only after the stats join
        # (AQE splits the skewed join partition; output is one row per
        # member, never per pair)
        star = (
            pair_src.where((F.col("__bn") > max_bucket) & (F.col(id_col) != F.col("__bmin")))
            .select(F.col("__bmin").alias("id_a"), F.col(id_col).alias("id_b"))
        )
        # plain distinct here, unlike the uncapped branch: the capped
        # pair table is O(corpus) small (405k rows at the 10x scale),
        # so the orderBy exchange it saves is cheap while the range
        # sampler re-runs the stats-join subtree — same-process A/B
        # measured the range-distinct equal-or-slower (2.6s vs
        # 2.3-2.6s). A lazy localCheckpoint of the union was also
        # slower (3.8s vs 3.0s: the checkpoint job + block-store
        # round-trip costs more than the subtree re-run).
        pairs = all_pairs.unionByName(star).distinct()
    sa = sig.select(F.col(id_col).alias("id_a"), F.col("minhash").alias("mh_a"))
    sb = sig.select(F.col(id_col).alias("id_b"), F.col("minhash").alias("mh_b"))
    # agreement as an unrolled element_at sum, NOT zip_with+filter:
    # higher-order functions are interpreted per element and fall out
    # of whole-stage codegen — at sf1.0 the pair table is ~87M rows, so
    # the HOF paid ~1.4G interpreted steps (round-6; same integer count,
    # bit-identical jaccard_est)
    agree = None
    for i in range(1, num_hashes + 1):
        term = F.when(
            F.element_at(F.col("mh_a"), i) == F.element_at(F.col("mh_b"), i),
            F.lit(1),
        ).otherwise(F.lit(0))
        agree = term if agree is None else agree + term
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard_est", agree.cast("double") / F.lit(float(num_hashes)))
        .select("id_a", "id_b", "jaccard_est")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 5,
) -> DataFrame:
    """EXACT Jaccard over distinct n-gram shingle sets for candidate
    pairs — the verification stage after LSH. |A ∩ B| / |A ∪ B| via two
    broadcast-able joins against the shingle-set table."""
    sh = df.select(
        F.col(id_col), shingles_expr(text_col, shingle_n).alias("sh"), F.length(text_col)
    ).select(id_col, F.col("sh"), F.size("sh").alias("n_sh"))
    a = sh.select(
        F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"), F.col("n_sh").alias("na")
    )
    b = sh.select(
        F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"), F.col("n_sh").alias("nb")
    )
    joined = pairs.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return joined.select(
        "id_a",
        "id_b",
        (inter.cast("double") / (F.col("na") + F.col("nb") - inter).cast("double")).alias(
            "jaccard"
        ),
    )


def with_simhash(
    df: DataFrame, text_col: str = "text", bits: int = 64, out_col: str = "simhash"
) -> DataFrame:
    """SimHash fingerprint column (bit j = majority vote of bit j of
    md5(token) across tokens, MSB-first). Near-dup = small Hamming
    distance; query via bit_count(a ^ b) <= d on candidate pairs.

    An Arrow pandas UDF (hashlib + numpy bit unpack); a Catalyst
    fold measured ~20x slower. The DuckDB twin is `_duck_simhash_sql`
    in duck_sql.py, a relational token x bit vote;
    tests/test_dedup_text.py compares it at 32 and 64 bits on crafted
    docs, and tests/test_oracle.py the dedup_simhash query."""
    nhex = bits // 4
    token_re = re.compile(TOKEN_SPLIT_RE)

    @F.pandas_udf(LongType())
    def _sh(texts: pd.Series) -> pd.Series:
        md5 = hashlib.md5
        out = np.zeros(len(texts), dtype=np.int64)
        weights = (np.int64(1) << np.arange(bits - 1, -1, -1).astype(np.int64))
        for row, t in enumerate(texts):
            toks = [x for x in token_re.split((t or "").lower()) if x]
            if not toks:
                out[row] = 0
                continue
            # nibble matrix: (n_tokens, nhex) -> bit matrix (n_tokens, bits)
            hexes = np.frombuffer(
                b"".join(md5(tok.encode()).hexdigest()[:nhex].encode() for tok in toks),
                dtype=np.uint8,
            ).reshape(len(toks), nhex)
            nibbles = np.where(hexes >= 97, hexes - 87, hexes - 48).astype(np.int16)
            shifts = np.asarray([3, 2, 1, 0], dtype=np.int16)
            bits_m = ((nibbles[:, :, None] >> shifts[None, None, :]) & 1).reshape(
                len(toks), bits
            )
            votes = (2 * bits_m.astype(np.int64) - 1).sum(axis=0)
            out[row] = int(((votes > 0).astype(np.int64) * weights).sum())
        return pd.Series(out)

    return df.withColumn(out_col, _sh(F.col(text_col)))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bits: int = 64,
    block_bits: int = 16,
) -> DataFrame:
    """Near-dup pairs by SimHash: block on each of the 4 16-bit chunks
    (pigeonhole: hamming<=3 over 4 chunks → at least one chunk equal),
    then verify exact Hamming distance with bit_count(xor)."""
    nblocks = bits // block_bits
    if max_hamming >= nblocks:
        raise ValueError("need max_hamming < number of blocks for pigeonhole blocking")
    sh = with_simhash(df, text_col, bits).select(id_col, "simhash")
    blocks = sh.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.concat(
                        F.lit(f"{i}:"),
                        F.shiftright(F.col("simhash"), i * block_bits).bitwiseAND(
                            F.lit((1 << block_bits) - 1)
                        ),
                    )
                    for i in range(nblocks)
                ]
            )
        ).alias("block_key"),
    )
    a, b = blocks.alias("a"), blocks.alias("b")
    pairs = (
        a.join(b, "block_key")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )
    return pairs


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    node_col: str = "node",
    label_col: str = "component",
    max_iter: int = 25,
) -> DataFrame:
    """True transitive collapse of the near-dup pair graph: every node
    that appears in any pair, labeled with the MINIMUM id reachable
    through any chain of pairs (the component id). This is the
    guarantee `dedup_keep_representatives`' greedy per-pair rule does
    NOT give (a star (1,5),(3,5) greedily keeps both 1 and 3).

    Iterative min-label propagation: each round joins labels to the
    symmetric edge list and takes the min over neighbors — one shuffle
    per round, converging in O(component diameter) rounds. Near-dup
    clusters in web corpora have tiny diameters (dups of a page are
    dups of each other), so rounds stay in the low single digits; from
    round 3 on, a pointer-jumping step (label <- label(label), path
    halving) kicks in so adversarial long-chain graphs converge in
    O(log diameter) rounds instead — the halving join is skipped for
    the common shallow graphs that converge before it engages.
    Pointer-jumping preserves the invariant "label is reachable and
    <= node": label(u)=v means v is reachable from u, so label(v) is
    too. Lineage is cut per round with localCheckpoint so the plan
    doesn't grow superlinearly; the driver-side loop only ever
    collects a scalar convergence count."""
    # symmetrize with ONE scan of pairs (explode, not union: the pairs
    # plan is usually an un-cached LSH join — a union would run it twice)
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
                    F.struct(F.col(id_b).alias("src"), F.col(id_a).alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
        .persist()
    )
    labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    changed = -1  # never-ran marker so the non-convergence raise below
    # stays a RuntimeError even when max_iter <= 0
    for it in range(max_iter):
        nb_min = (
            edges.join(
                labels.select(F.col("node").alias("dst"), F.col("label").alias("dl")),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("dl").alias("nb_label"))
        )
        stepped = labels.join(
            nb_min.select(F.col("src").alias("node"), "nb_label"), "node", "left"
        ).select(
            "node",
            F.least(F.col("label"), F.coalesce("nb_label", "label")).alias("label"),
            (F.coalesce("nb_label", "label") < F.col("label")).alias("chg"),
        )
        if it >= 2:
            # pointer jumping: label <- min(label, label(label)). Every
            # label value is itself a node (labels start as node ids and
            # min-over-neighbors only moves node ids around), so the
            # self-join always finds its row; coalesce guards the
            # left-join anyway.
            parent = stepped.select(
                F.col("node").alias("label"), F.col("label").alias("plabel")
            )
            stepped = stepped.join(parent, "label", "left").select(
                "node",
                F.least(F.col("label"), F.coalesce("plabel", "label")).alias("label"),
                (
                    F.col("chg") | (F.coalesce("plabel", "label") < F.col("label"))
                ).alias("chg"),
            )
        # checkpoint FIRST (eager), then read the change tally off the
        # materialized rows — counting the un-checkpointed plan would
        # execute the round's joins twice (once for the count, once for
        # the eager localCheckpoint)
        stepped = stepped.localCheckpoint()
        changed = stepped.where("chg").count()
        labels = stepped.select("node", "label")
        if changed == 0:
            break
    else:
        # exhausting max_iter without convergence means the labels are
        # only partially propagated — silently returning them would make
        # downstream keep/drop policies act on WRONG component ids
        edges.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in max_iter={max_iter} "
            f"rounds ({changed} labels still changing); raise max_iter "
            "(pointer-jumping makes rounds O(log diameter), so this "
            "indicates a pathological graph, not normal data)"
        )
    edges.unpersist()
    return labels.select(F.col("node").alias(node_col), F.col("label").alias(label_col))


def assign_components(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    label_col: str = "component",
    max_iter: int = 25,
) -> DataFrame:
    """Full doc_id -> component mapping: paired docs get their
    connected-component min-id, unpaired docs are their own singleton
    component. The component column is the canonical group-by key for
    cluster-level policies (keep-one, keep-best-quality, ...)."""
    cc = connected_components(pairs, node_col=id_col, label_col=label_col, max_iter=max_iter)
    return df.join(cc, id_col, "left").withColumn(
        label_col, F.coalesce(F.col(label_col), F.col(id_col))
    )


def dedup_keep_representatives(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Drop the larger id of every near-dup pair (greedy representative
    selection — the standard web-pipeline policy). NOTE: this is the
    greedy per-pair rule, not connected components: a star component
    with pairs (1,5),(3,5) keeps BOTH 1 and 3 (no 1-3 pair exists).
    For transitive collapse run an iterative min-label propagation over
    the pair graph instead; web pipelines generally accept the greedy
    rule because LSH pair generation is itself approximate."""
    victims = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(victims, on=id_col, how="left_anti")


def incremental_dedup(
    history: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 5,
) -> DataFrame:
    """Cross-snapshot incremental dedup — the daily-crawl shape: a NEW
    batch is classified against the HISTORICAL corpus without ever
    re-deduping history against itself. Per new doc:

      'exact' — content hash (md5 of text) already in history
      'near'  — not exact, but shares >= 1 MinHash LSH band bucket
                with a historical doc
      'kept'  — neither

    Scale shape: both probes are narrow-key equi-joins — the hash
    probe joins on a 32-hex key, the near probe on band keys, and the
    history side reduces to its DISTINCT hash/band-key sets (in
    production these are the persisted index tables a pipeline carries
    between snapshots; rebuilding them here is the same plan). The
    batch is never cross-joined against history and history text is
    touched exactly once. Returns (id_col, status), one row per batch
    doc.
    """
    rows = num_hashes // bands
    if bands * rows != num_hashes:
        raise ValueError("bands must divide num_hashes")
    from gdal_vfr_spark.plans.skew import spread_small_input

    # round-6: both signature grinds are the map-heavy passes; spread
    # single-row-group fixture scans (no-op at production counts)
    history = spread_small_input(history.select(id_col, text_col))
    batch = spread_small_input(batch.select(id_col, text_col))
    hist_hashes = history.select(F.md5(F.col(text_col)).alias("__h")).distinct()
    batch_hashed = batch.select(id_col, F.md5(F.col(text_col)).alias("__h"))
    exact_ids = (
        batch_hashed.join(hist_hashes, "__h", "left_semi")
        .select(id_col)
        .withColumn("__exact", F.lit(True))
    )
    hist_bands = (
        with_minhash(history, text_col, num_hashes, shingle_n)
        .select(
            F.explode(band_keys_expr(F.col("minhash"), bands, rows)).alias(
                "band_key"
            )
        )
        .distinct()
    )
    batch_bands = with_minhash(batch, text_col, num_hashes, shingle_n).select(
        id_col,
        F.explode(band_keys_expr(F.col("minhash"), bands, rows)).alias("band_key"),
    )
    near_ids = (
        batch_bands.join(hist_bands, "band_key", "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("__near", F.lit(True))
    )
    return (
        batch.select(id_col)
        .join(exact_ids, id_col, "left")
        .join(near_ids, id_col, "left")
        .select(
            id_col,
            F.when(F.col("__exact"), F.lit("exact"))
            .when(F.col("__near"), F.lit("near"))
            .otherwise(F.lit("kept"))
            .alias("status"),
        )
    )


def decontaminate_bloom(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    checkpoint: bool = True,
) -> DataFrame:
    """decontaminate() with a Bloom pre-filter — SAME result, different
    physical shape for when the benchmark shingle set outgrows an
    exact-set broadcast (10^8 shingles ~ 1.6 GB of 16-hex keys; the
    filter is a fixed 128 KB (word, bits) table regardless):

      1. build the Bloom filter over the benchmark shingle hashes
         (one bit_or groupBy — mergeable, constant-size);
      2. probe every corpus (doc, shingle) row against the BROADCAST
         filter — map-side, no false negatives, drops ~all clean rows;
      3. exact-confirm the few survivors against the benchmark set
         (now a join whose left side is survivor-sized, so it can be
         a shuffle join against a DISTRIBUTED benchmark table at any
         scale) and count per doc.

    Exactness: the confirm join removes Bloom false positives, so the
    output is row-identical to decontaminate() — the two queries share
    one oracle."""
    from gdal_vfr_spark.operators.sketches import bloom_build, bloom_probe

    # persist + materialize: bench feeds BOTH the bloom build and the
    # confirm join — without the boundary the Arrow shingle pass and
    # the bench scan run twice (same eager-cache rationale as
    # minhash_lsh_pairs' signature table). The cache is RELEASED
    # before returning (round-4 advice: the old lazy plan kept bench
    # persisted for the session lifetime, leaking executor storage
    # across repeated calls): the per-doc counts are eagerly
    # materialized via localCheckpoint — output is survivor-sized
    # (contaminated docs only), so the checkpoint blocks are tiny and
    # are cleaned by the ContextCleaner when the returned DataFrame
    # is garbage-collected — then bench is unpersisted.
    bench_lazy = word_shingle_hash_rows(
        benchmark.select(F.col(bench_text_col).alias("__t")), "__t", None, n
    ).distinct()
    if not checkpoint:
        # Plan-visibility mode (tools/explain_audit.py): no persist, no
        # checkpoint — the returned LAZY plan shows the full physical
        # shape (bloom bit_or build, broadcast probe, confirm join)
        # that the checkpointed production path executes but hides
        # behind Scan ExistingRDD. The bench shingle pass is NOT
        # cached here, so each consumer action recomputes it — use for
        # explain or one-shot runs only (result-parity with the
        # default path is pinned in tests/test_sketches.py).
        bloom = bloom_build(bench_lazy, "__sh")
        probe = word_shingle_hash_rows(docs, text_col, id_col, n)
        survivors = bloom_probe(probe, "__sh", bloom)
        return (
            survivors.join(bench_lazy, "__sh")
            .groupBy(id_col)
            .agg(F.count("*").alias("n_contaminated"))
        )
    bench = bench_lazy.persist()
    try:
        bench.count()
        bloom = bloom_build(bench, "__sh")
        probe = word_shingle_hash_rows(docs, text_col, id_col, n)
        survivors = bloom_probe(probe, "__sh", bloom)
        out = (
            survivors.join(bench, "__sh")
            .groupBy(id_col)
            .agg(F.count("*").alias("n_contaminated"))
        )
        return out.localCheckpoint(eager=True)
    finally:
        bench.unpersist(blocking=False)


def exact_substring_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window_tokens: int = 20,
) -> DataFrame:
    """Exact-substring duplication profile (semantics class: Lee et
    al. 2021, "Deduplicating Training Data Makes Language Models
    Better" — their suffix-array ExactSubstr criterion re-expressed
    for a shared-nothing engine): every window of `window_tokens`
    consecutive tokens that occurs MORE THAN ONCE anywhere in the
    corpus (another doc or elsewhere in the same doc) marks its span
    duplicated; overlapping duplicated windows merge into maximal
    spans (gaps-and-islands, pure Catalyst). Returns one row per
    document that carries at least one duplicated window:
    n_words, n_dup_spans, n_dup_windows, dup_tokens (tokens covered
    by the merged spans — the count ExactSubstr would cut).

    Plan shape (scales): tokenize once, explode the (start, hash)
    window stream (hash = 16-hex md5 half of the joined window —
    64 bits, the repo's standard oracle-parity key); duplicated
    hashes are found with a MAP-SIDE-COMBINED groupBy("h").count()
    joined back on h — NOT count-over-window: a window partitioned
    by a content hash has no partial aggregation and AQE cannot
    split a window partition, so one boilerplate n-gram shared by
    10^8 pages (cookie banners, nav text) would land every
    occurrence in a single un-splittable task (round-4 verdict
    item 1; the megacity-cell analogue of SURVEY §4 item 2 —
    reference ground: J3's duplicate handling, vfrogr.py:817-829).
    With groupBy+join, full window rows still move only once (into
    the h-join); the extra exchange carries (h, partial-count)
    pairs, and the join is AQE-skew-splittable. Then filter to
    duplicated windows only (tiny in clean corpora); ONE shuffle on
    the doc id, after which the island window, the per-island
    aggregate, and the per-doc aggregate all reuse the same hash
    partitioning (no further exchange — Spark's
    ClusteredDistribution(id, island) is satisfied by
    HashPartitioning(id)). A suffix array is the single-machine
    shape; the window-hash shuffle is the 1000-executor shape.
    """
    L = int(window_tokens)
    if L < 2:
        raise ValueError(f"window_tokens must be >= 2, got {L}")
    from gdal_vfr_spark.plans.skew import spread_small_input

    # round-6: the window construction (slice + concat_ws + md5 per
    # window) is the map-heavy pass; a single-row-group fixture file
    # otherwise runs it on one core
    words = spread_small_input(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), tokens_expr(text_col).alias("__w")
    )
    w = F.col("__w")
    starts = F.when(
        F.size(w) >= L,
        F.sequence(F.lit(1), F.size(w) - F.lit(L - 1)),
    ).otherwise(F.array().cast("array<int>"))
    wins = words.select(
        F.col(id_col),
        F.size(w).alias("n_words"),
        F.explode(starts).alias("start"),
        w.alias("__w"),
    ).select(
        id_col,
        "n_words",
        "start",
        F.substring(
            F.md5(F.concat_ws(" ", F.slice(w, F.col("start"), L))), 1, 16
        ).alias("h"),
    )
    # persist + eager count: the window stream feeds BOTH the
    # duplicate-hash aggregate and the join's probe side — without the
    # boundary the slice+concat_ws+md5 per-window pass runs twice
    # (round-6, guide §1.2; measured 2.0-2.4s -> ~1.1s at the 10x
    # scale). The cached row is (id, n_words, start, h) — ~40 bytes
    # per window vs re-hashing every window; MEMORY_AND_DISK spills
    # gracefully when a corpus-scale window stream outgrows storage.
    wins = wins.persist()
    wins.count()
    dup_h = (
        wins.groupBy("h")
        .agg(F.count("*").alias("__hc"))
        .where(F.col("__hc") > 1)
        .select("h")
    )
    dup = wins.join(dup_h, "h").drop("h")
    by_doc = Window.partitionBy(id_col).orderBy("start")
    brk = F.when(
        F.col("start") > F.lag("start").over(by_doc) + F.lit(L - 1), 1
    ).otherwise(0)
    isl = dup.withColumn("brk", brk).withColumn(
        "isl",
        F.sum("brk").over(by_doc.rowsBetween(Window.unboundedPreceding, 0)),
    )
    spans = isl.groupBy(id_col, "n_words", "isl").agg(
        F.count("*").alias("n_wins"),
        F.min("start").alias("s0"),
        F.max("start").alias("s1"),
    )
    return spans.groupBy(id_col, "n_words").agg(
        F.count("*").cast("long").alias("n_dup_spans"),
        F.sum("n_wins").cast("long").alias("n_dup_windows"),
        F.sum(F.col("s1") - F.col("s0") + F.lit(L)).cast("long").alias("dup_tokens"),
    ).withColumn("n_words", F.col("n_words").cast("long"))


# --- corpus-global boilerplate-line removal -------------------------------
#
# The line-granularity sibling of exact_substring_spans: nav bars,
# footers and cookie notices repeat VERBATIM as whole lines across
# millions of pages (RefinedWeb/MassiveText both strip them line-wise
# before any document-level dedup). Removing a line needs corpus-global
# evidence — a line is boilerplate because OTHER documents carry it —
# so the plan must count line occurrences across the corpus without
# ever putting one hot line's occurrences in a single task.


def boilerplate_line_hashes(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
) -> DataFrame:
    """(line md5, n_docs) for every non-blank line occurring in >=
    min_docs DISTINCT documents. Two skew-safe shuffles: distinct over
    (doc, hash) pairs (hash-partitioned on BOTH columns, so a line
    repeated in 10^8 docs spreads across the cluster), then a map-side-
    combining groupBy on the hash — never a window over the line hash
    (the exact_substring_spans lesson)."""
    lines = docs.select(
        F.col(id_col).alias("__d"),
        F.explode(F.split(F.col(text_col), "\n")).alias("__l"),
    ).where(F.trim("__l") != "")
    keyed = lines.select("__d", F.md5(F.col("__l")).alias("__lh")).distinct()
    return (
        keyed.groupBy("__lh")
        .agg(F.count("*").alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
    )


def strip_boilerplate_lines(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
    out_col: str = "clean_text",
) -> DataFrame:
    """Rewrite every document with its corpus-boilerplate lines removed
    (lines occurring in >= min_docs distinct docs), preserving the
    order of survivors. Blank lines are dropped too (they carry no
    content and would otherwise alias across docs).

    Plan: posexplode -> narrow (id, position, hash) anti-join against
    the hot-hash set (small by construction — only boilerplate hashes
    survive the threshold, so Catalyst broadcasts it) -> one groupBy(id)
    to reassemble in position order. The full text column crosses the
    wire once, in doc-sized groups keyed by the near-unique doc id.
    Documents whose every line was boilerplate come back with
    out_col = '' and n_kept_lines = 0 (left join keeps them)."""
    hot = boilerplate_line_hashes(
        docs, text_col=text_col, id_col=id_col, min_docs=min_docs
    ).select("__lh")
    pos = docs.select(
        F.col(id_col), F.posexplode(F.split(F.col(text_col), "\n")).alias("__p", "__l")
    ).where(F.trim("__l") != "")
    keep = pos.withColumn("__lh", F.md5("__l")).join(hot, on="__lh", how="left_anti")
    rebuilt = keep.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__p", "__l"))),
                lambda s: s["__l"],
            ),
            "\n",
        ).alias(out_col),
        F.count("*").alias("n_kept_lines"),
    )
    return (
        docs.join(rebuilt, on=id_col, how="left")
        .withColumn(out_col, F.coalesce(F.col(out_col), F.lit("")))
        .withColumn("n_kept_lines", F.coalesce("n_kept_lines", F.lit(0)))
    )
