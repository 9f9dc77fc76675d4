"""Similarity search over embedding columns (array<float>).

- brute_force_topk: exact cosine top-k, the correctness baseline.
  Dot products are sequential left-to-right folds (F.aggregate) in
  float64 — bit-identical to the DuckDB oracle's list_reduce fold, so
  results hash-match without tolerance fudging.
- lsh_bucketed_topk: the scale path — sign-random-projection (SimHash
  for vectors) buckets as an equi-join pre-filter; exactness bounded by
  probe count. Hyperplanes are seeded numpy constants shipped as column
  literals, so results stay deterministic across runs/engines.
- cosine_near_dup_pairs: embedding near-duplicate detection for
  training-data dedup (cosine >= threshold within LSH buckets).

At 100 TB the corpus side stays partitioned; the query side is the
small side and broadcasts. No Python in any hot path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import ArrayType, IntegerType


def dot_expr(a, b) -> F.Column:
    """Sequential fold dot product in float64 (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_expr(a) -> F.Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine_expr(a, b) -> F.Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the
    corpus, score every pair, rank per query. Output: (query_id,
    neighbor id, rank); ties broken by corpus id (deterministic)."""
    from gdal_vfr_spark.plans.skew import spread_small_input

    q = queries.select(query_id_col, query_vec_col)
    # the interpreted fold cosine per (corpus, query) pair is the whole
    # cost; spread a few-partition corpus scan so it uses every core
    scored = spread_small_input(corpus.select(id_col, vec_col)).crossJoin(
        F.broadcast(q)
    ).select(
        F.col(query_id_col),
        F.col(id_col),
        cosine_expr(F.col(vec_col), F.col(query_vec_col)).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def near_dup_pairs_exact(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact embedding-cosine near-dup: every (a < b) pair with cosine
    >= threshold. Broadcast self cross-join — the small-corpus path and
    the verification stage behind cosine_near_dup_pairs' LSH
    pre-filter; at 100 TB run it only on bucket-cojoined candidates."""
    # norms precomputed once per row BEFORE the join (bit-identical to
    # per-pair recomputation, 3x less interpreted fold work per pair)
    a = corpus.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        norm_expr(F.col(vec_col)).alias("na"),
    )
    b = corpus.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        norm_expr(F.col(vec_col)).alias("nb"),
    )
    return (
        a.crossJoin(F.broadcast(b))
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (dot_expr(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias("cosine"),
        )
        .where(F.col("cosine") >= F.lit(float(threshold)))
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Seeded Gaussian hyperplanes (public SRP-LSH construction)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def srp_bucket_expr(vec_col, planes: list[list[float]]) -> F.Column:
    """Sign-random-projection bucket id: bit i = sign(v . plane_i)."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    out = F.lit(0).cast("long")
    for p in planes:
        d = dot_expr(v, F.array(*[F.lit(float(x)) for x in p]))
        out = F.shiftleft(out, 1).bitwiseOR(F.when(d >= 0, F.lit(1)).otherwise(F.lit(0)).cast("long"))
    return out


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    n_planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Approximate top-k: score only corpus vectors in the query's SRP
    bucket. Equi-join on bucket replaces the cross join — at 10^12
    vectors this is the difference between feasible and not. Recall is
    tunable via n_planes (fewer planes = bigger buckets = higher
    recall/cost)."""
    planes = random_hyperplanes(dim, n_planes, seed)
    # norms precomputed per ROW before the join (bit-identical to the
    # per-pair recomputation, but evaluated once per vector instead of
    # once per candidate pair — the fold is interpreted, so this is the
    # dominant cost at scale)
    c = (
        corpus.select(id_col, vec_col)
        .withColumn("bucket", srp_bucket_expr(vec_col, planes))
        .withColumn("__cn", norm_expr(F.col(vec_col)))
    )
    q = (
        queries.select(query_id_col, query_vec_col)
        .withColumn("bucket", srp_bucket_expr(query_vec_col, planes))
        .withColumn("__qn", norm_expr(F.col(query_vec_col)))
    )
    scored = c.join(F.broadcast(q), on="bucket").select(
        F.col(query_id_col),
        F.col(id_col),
        (
            dot_expr(F.col(vec_col), F.col(query_vec_col))
            / (F.col("__cn") * F.col("__qn"))
        ).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


# NOTE (measured negative result): an Arrow pandas_udf cosine scorer
# for the bucketed candidate joins (per-dim sequential accumulation,
# bit-identical to the fold) was tried and REVERTED — per-row
# list->ndarray conversion at the Arrow boundary made it 4-9x SLOWER
# than the interpreted JVM fold (embedding_near_dup 1.5s -> 13.4s at
# sf0.1). The fold + precomputed per-row norms stays; Arrow wins only
# where it amortizes per-row overhead into matrix work (kmeans
# assignment, PIP winding refine).


QUANT_SCALE = 1 << 20  # fixed-point centroid quantum (see kmeans_centroids)


def _assign_arrow_udf(centroids: list[tuple[int, list[float]]]):
    """Nearest-centroid id as an Arrow UDF. The squared-L2 distance
    accumulates one dimension at a time across the whole batch
    (d += t*t in dim order), so every float64 add/multiply happens in
    the sequential-fold order of the DuckDB twin (`_duck_dist_sql`),
    and ties keep the first (smallest) cid like the twin's
    ORDER BY dist, cid. ~100x faster than an interpreted Catalyst fold
    over a 512-literal centroid array, which also re-codegens per
    call."""
    C = np.asarray([c for _, c in centroids], dtype=np.float64)
    cids = np.asarray([cid for cid, _ in centroids], dtype=np.int64)

    @F.pandas_udf("int")
    def _assign(vecs: pd.Series) -> pd.Series:
        n = len(vecs)
        if n == 0:
            return pd.Series([], dtype="int32")
        E = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        best_d = None
        best = None
        for j in range(C.shape[0]):
            d = np.zeros(n)
            cj = C[j]
            for i in range(E.shape[1]):
                t = E[:, i] - cj[i]
                d = d + t * t
            if best_d is None:
                best_d, best = d, np.full(n, cids[j])
            else:
                m = d < best_d
                best_d = np.where(m, d, best_d)
                best = np.where(m, cids[j], best)
        return pd.Series(best.astype(np.int32))

    return _assign


def _probe_arrow_udf(centroids: list[tuple[int, list[float]]], nprobe: int):
    """nprobe nearest centroid ids, ordered by (dist, cid) — same
    per-dim sequential accumulation as _assign_arrow_udf, stable
    lexsort for the tie order."""
    C = np.asarray([c for _, c in centroids], dtype=np.float64)
    cids = np.asarray([cid for cid, _ in centroids], dtype=np.int64)

    @F.pandas_udf(ArrayType(IntegerType()))
    def _probe(vecs: pd.Series) -> pd.Series:
        out = []
        for v in vecs:
            x = np.asarray(v, dtype=np.float64)
            d = np.zeros(C.shape[0])
            for i in range(x.shape[0]):
                t = x[i] - C[:, i]
                d = d + t * t
            order = np.lexsort((cids, d))
            out.append(cids[order[:nprobe]].astype(np.int32).tolist())
        return pd.Series(out)

    return _probe


def _kmeans_iter_partials(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str,
    dim: int,
) -> DataFrame:
    """One fused Lloyd-iteration pass: per task, assign every vector to
    its nearest centroid with EXACTLY _assign_arrow_udf's float64 op
    order (per-dimension sequential accumulation, strict < keeps the
    smallest cid on ties) and accumulate per-(cid, pos) bigint sums of
    floor(val * 2^20) plus member counts. Emits k*dim partial rows per
    task; summing partials downstream reproduces a per-(cid, pos)
    aggregate over every element (the DuckDB twin's) bit-for-bit
    because integer addition is order-free."""
    C = np.asarray([c for _, c in centroids], dtype=np.float64)
    cids = np.asarray([cid for cid, _ in centroids], dtype=np.int64)
    scale = float(QUANT_SCALE)
    k = C.shape[0]

    def _it(batches):
        S = np.zeros((k, dim), dtype=np.int64)
        CNT = np.zeros(k, dtype=np.int64)
        seen = False
        for pdf in batches:
            if not len(pdf):
                continue
            E = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            n = E.shape[0]
            best_d = None
            best = None
            for j in range(k):
                d = np.zeros(n)
                cj = C[j]
                for i in range(E.shape[1]):
                    t = E[:, i] - cj[i]
                    d = d + t * t
                if best_d is None:
                    best_d, best = d, np.full(n, j)
                else:
                    m = d < best_d
                    best_d = np.where(m, d, best_d)
                    best = np.where(m, j, best)
            # a null element arrives as NaN: it joins no fixed-point sum
            # (as DuckDB's sum skips a NULL) but its vector still counts
            Q = np.floor(np.where(np.isfinite(E), E, 0.0) * scale).astype(np.int64)
            for j in range(k):
                mask = best == j
                if mask.any():
                    S[j] += Q[mask].sum(axis=0)
                    CNT[j] += int(mask.sum())
            seen = True
        if seen:
            nz = CNT > 0
            jj = np.nonzero(nz)[0]
            yield pd.DataFrame(
                {
                    "cid": np.repeat(cids[jj], dim),
                    "pos": np.tile(np.arange(dim, dtype=np.int64), len(jj)),
                    "s": S[jj].ravel(),
                    "cnt": np.repeat(CNT[jj], dim),
                }
            )

    return corpus.select(vec_col).mapInPandas(
        _it, "cid long, pos long, s long, cnt long"
    )


def kmeans_centroids(
    corpus: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> list[tuple[int, list[float]]]:
    """Deterministic Lloyd's k-means for the IVF coarse quantizer.

    Init = the k smallest-id vectors, relabelled cid 0..k-1 in id order
    (deterministic, SQL-replicable via row_number over ORDER BY id, and
    independent of the corpus id scheme — ids need not be dense or
    0-based). Raises if the corpus has fewer than k rows, or if a seed
    vector is null or holds a null element (a centroid cannot start
    from a hole).
    Each iteration is ONE fused Arrow pass (_kmeans_iter_partials:
    map-side nearest-centroid assignment plus per-task partial sums, no
    shuffle of vectors), then ONE partial+final aggregation keyed by
    (cid, pos). Centroid means use FIXED-POINT sums —
    sum(floor(x * 2^20)) as bigint — because float summation order is
    partition-dependent; integer sums are exact and order-free, so the
    result is bit-identical across partitionings AND engines (the
    DuckDB oracle unrolls the same iterations). The ~1e-6 quantization
    is irrelevant to a coarse quantizer. Collecting k*(dim+1) numbers
    per round to the driver is the standard distributed-kmeans shape
    (k=4096, dim=1024 is still <50 MB at 100 TB corpus scale).
    Empty clusters keep their previous centroid. A null (or other
    non-finite) element of a non-seed vector is left out of its
    position's sum while the vector still counts toward the member
    count, like DuckDB's `sum` skipping a NULL; every distance of such
    a vector is NaN, so it joins cid 0 (the oracle's NULL distances tie
    and fall back to the smallest cid). The centroids equal
    the DuckDB twin's unroll of the same Lloyd iterations
    (`_duck_lloyd_af_ctes`) bit for bit (tests/test_dedup_text.py); the
    ann_ivf_topk, ann_ivf_indexed and dedup_semantic oracles
    (tests/test_oracle.py) build on them."""
    seeds = (
        corpus.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    )
    if len(seeds) < k:
        raise ValueError(
            f"kmeans_centroids: corpus has {len(seeds)} rows < k={k} seeds"
        )
    for r in seeds:
        if r[vec_col] is None or None in r[vec_col]:
            raise ValueError(
                f"kmeans_centroids: seed vector {id_col}={r[id_col]} is null or "
                "holds a null element"
            )
    cents = [(i, [float(x) for x in r[vec_col]]) for i, r in enumerate(seeds)]
    scale = float(QUANT_SCALE)
    for _ in range(n_iter):
        # fused Arrow iteration (round-6): assignment AND the
        # fixed-point partial sums in ONE kernel pass — a posexplode
        # would blow each vector into `dim` rows (1.28M rows per
        # iteration at 20k x 64) only to feed an integer sum that numpy
        # can partial-aggregate per task; bigint sums of per-element
        # floor(val * 2^20) are order-free, so the collected
        # (cid, pos, s, cnt) totals — and therefore the centroids — do
        # not depend on the partitioning. Shuffle payload is k*dim rows
        # per TASK (guide §2.3 "aggregate before you shuffle").
        stats = (
            _kmeans_iter_partials(corpus, cents, vec_col, dim)
            .groupBy("cid", "pos")
            .agg(F.sum("s").alias("s"), F.sum("cnt").alias("cnt"))
            .collect()
        )
        got: dict[int, dict[int, tuple[int, int]]] = {}
        for r in stats:
            got.setdefault(int(r["cid"]), {})[int(r["pos"])] = (r["s"], r["cnt"])
        cents = [
            (
                cid,
                [got[cid][i][0] / (got[cid][i][1] * scale) for i in range(dim)]
                if cid in got
                else old,
            )
            for cid, old in cents
        ]
    return cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_centroids: int = 8,
    nprobe: int = 2,
    n_iter: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: k-means coarse quantizer,
    corpus partitioned by nearest centroid, queries probe only their
    nprobe nearest cells. vs SRP-LSH: recall degrades gracefully with
    nprobe instead of cliffing on bucket boundaries, and the cell
    assignment doubles as the physical partitioning key at scale
    (write corpus partitioned/bucketed by cid -> probe = partition
    pruning, scanning nprobe/n_centroids of the data). The DuckDB twin
    is `_duck_ivf_topk_sql` (the ann_ivf_topk oracle in
    tests/test_oracle.py)."""
    # spread once and cache the narrow (id, vec) relation: k-means scans
    # it n_iter+1 times and the assignment once — the same size-gated
    # spread+persist shape as semantic_dedup (round-6, guide §5/§6)
    from gdal_vfr_spark.plans.skew import spread_small_input

    narrow = corpus.select(id_col, vec_col)
    spreadv = spread_small_input(narrow, min_bytes=4 << 20)
    corpus = spreadv.persist() if spreadv is not narrow else narrow
    cents = kmeans_centroids(corpus, n_centroids, n_iter, id_col, vec_col, dim)
    # coalesce makes the join key provably non-nullable (the UDF never
    # returns null anyway): without it Catalyst inserts IsNotNull(cid)
    # under the probe join and evaluates the Arrow assignment TWICE —
    # once for the filter, once for the output (two full corpus passes)
    assigned = corpus.select(id_col, vec_col).withColumn(
        "cid", F.coalesce(_assign_arrow_udf(cents)(F.col(vec_col)), F.lit(-1))
    ).withColumn("__cn", norm_expr(F.col(vec_col)))
    probes = queries.select(query_id_col, query_vec_col).withColumn(
        "cid", F.explode(_probe_arrow_udf(cents, nprobe)(F.col(query_vec_col)))
    )
    probes = probes.withColumn("__qn", norm_expr(F.col(query_vec_col)))
    scored = assigned.join(F.broadcast(probes), on="cid").select(
        F.col(query_id_col),
        F.col(id_col),
        (
            dot_expr(F.col(vec_col), F.col(query_vec_col))
            / (F.col("__cn") * F.col("__qn"))
        ).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def write_ivf_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> list[tuple[int, list[float]]]:
    """Materialize the IVF index as a cid-partitioned parquet layout:
    one directory per coarse cell. This is THE scale story for IVF
    serving — a probe reads nprobe/n_centroids of the data as a
    partition-pruned scan (PartitionFilters in the plan), no shuffle,
    no full-corpus pass. Returns the centroids (persist them next to
    the index in production). Per-row norms are precomputed into the
    layout so serving never re-folds them."""
    cents = kmeans_centroids(corpus, n_centroids, n_iter, id_col, vec_col, dim)
    assigned = corpus.select(id_col, vec_col).withColumn(
        "cid", F.coalesce(_assign_arrow_udf(cents)(F.col(vec_col)), F.lit(-1))
    ).withColumn("__cn", norm_expr(F.col(vec_col)))
    assigned.write.mode("overwrite").partitionBy("cid").parquet(path)
    return cents


def ivf_topk_indexed(
    spark,
    path: str,
    cents: list[tuple[int, list[float]]],
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Serve top-k from a write_ivf_index layout with STATIC partition
    pruning: the (tiny) query side's probe cells are collected to a
    literal isin filter, so the scan touches only those cid=...
    directories — the plan shows PartitionFilters [cid IN (...)] and
    the other cells are never read. Results are identical to ivf_topk
    given the same centroids (pinned by test)."""
    probes = queries.select(query_id_col, query_vec_col).withColumn(
        "cid", F.explode(_probe_arrow_udf(cents, nprobe)(F.col(query_vec_col)))
    ).withColumn("__qn", norm_expr(F.col(query_vec_col)))
    probe_cids = sorted(
        {int(r["cid"]) for r in probes.select("cid").distinct().collect()}
    )
    idx = spark.read.parquet(path).where(F.col("cid").isin(probe_cids))
    scored = idx.join(F.broadcast(probes), on="cid").select(
        F.col(query_id_col),
        F.col(id_col),
        (
            dot_expr(F.col(vec_col), F.col(query_vec_col))
            / (F.col("__cn") * F.col("__qn"))
        ).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def cosine_near_dup_pairs(
    df: DataFrame,
    threshold: float,
    dim: int,
    n_planes: int = 6,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block: int = 2048,
) -> DataFrame:
    """Embedding near-duplicate pairs (id_a < id_b, cosine >= threshold)
    found within SRP buckets (blocked per-bucket kernel, not O(n^2)
    across the corpus).

    One shuffle groups each SRP bucket into a task; inside the task a
    chunked numpy kernel accumulates every pairwise dot ONE DIMENSION
    AT A TIME across the block (acc += outer(x_i, y_i) in dim order) —
    exactly the sequential fold's float64 op sequence, so every cosine
    and therefore every threshold decision is bit-identical to the
    DuckDB twin (`_duck_srp_near_dup_sql`: the embedding_near_dup
    oracle in tests/test_oracle.py, and exact cosines on crafted
    vectors in tests/test_dedup_text.py). The old band
    self-join materialized B^2/2 pair ROWS per bucket and paid an
    interpreted 64-step higher-order fold per pair (measured 102 s at
    20k vectors / 16 buckets, sf1.0); the kernel pays ~dim vectorized
    ops per block and emits only surviving pairs. Scratch is capped by
    the 2048-row block (2048^2 float64 ~ 32 MB), so an oversized
    bucket degrades to more block iterations, never OOM."""
    planes = random_hyperplanes(dim, n_planes, seed)
    keyed = df.select(id_col, vec_col).withColumn(
        "bucket", srp_bucket_expr(vec_col, planes)
    )
    id_dt = df.schema[id_col].dataType.simpleString()
    out_schema = f"id_a {id_dt}, id_b {id_dt}, cosine double"
    thr = float(threshold)
    # asymmetric cache tiles: the accumulator (XB x YB float64) stays
    # ~8 MB so the per-dim accumulation passes run out of cache, not
    # DRAM (same tiling argument as _semantic_dom_block)
    XB = max(2, min(int(block), 512))
    YB = max(XB, min(int(block) * 4, 2048))

    def _bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        ids = pdf[id_col].to_numpy()
        empty = pd.DataFrame(
            {"id_a": ids[:0], "id_b": ids[:0], "cosine": np.zeros(0)}
        )
        if n < 2:
            return empty
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        X = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in pdf[vec_col].to_numpy()[order]]
        )
        d = X.shape[1]
        # norms via the same per-dim sequential fold as norm_expr
        nn = np.zeros(n)
        for i in range(d):
            xi = X[:, i]
            nn = nn + xi * xi
        nrm = np.sqrt(nn)
        out_a: list = []
        out_b: list = []
        out_c: list = []
        tmp = None
        for s0 in range(0, n, XB):
            e0 = min(s0 + XB, n)
            for s1 in range(s0, n, YB):
                e1 = min(s1 + YB, n)
                acc = np.zeros((e0 - s0, e1 - s1))
                if tmp is None or tmp.shape != acc.shape:
                    tmp = np.empty_like(acc)
                for i in range(d):
                    # in-place outer + add: the same multiply/add per
                    # element in the same order as the sequential fold's
                    # acc + (cast(x) * cast(y)) step
                    np.outer(X[s0:e0, i], X[s1:e1, i], out=tmp)
                    acc += tmp
                cos = acc / np.outer(nrm[s0:e0], nrm[s1:e1])
                # NaN >= thr is TRUE under Spark's NaN-greatest ordering
                # (only reachable for zero-norm rows: 0/0)
                m = (cos >= thr) | np.isnan(cos)
                m &= ids[s0:e0, None] < ids[None, s1:e1]
                ra, rb = np.nonzero(m)
                if len(ra):
                    out_a.append(ids[s0:e0][ra])
                    out_b.append(ids[s1:e1][rb])
                    out_c.append(cos[ra, rb])
        if not out_a:
            return empty
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cosine": np.concatenate(out_c),
            }
        )

    return keyed.groupBy("bucket").applyInPandas(
        lambda pdf: _bucket_pairs(pdf), schema=out_schema
    )


# --- int8 scalar quantization (memory-bandwidth scale path) --------------


def quantize_int8(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "codes"
) -> DataFrame:
    """Unit-normalize (float64) then scalar-quantize to int8 codes:
    code_i = round(x_i / ||x|| * 127).

    The serving math: normalized components live in [-1, 1], so 127 is
    a data-independent scale — no corpus pass to find a max, and codes
    from different snapshots/partitions are directly comparable (the
    property that lets a 100-TB index shard freely). 4 bytes -> 1 byte
    per component cuts scan bandwidth 4x, which is what an ANN serving
    scan is bound by.

    Engine-exact: ||x|| uses the sequential float64 fold + sqrt (both
    engines correctly rounded), round() ties go away from zero in both
    Spark (HALF_UP) and DuckDB — the DuckDB twin reproduces the codes
    bit-for-bit. Zero vectors are dropped (no defined direction), same
    WHERE in the twin.
    """
    v = F.col(vec_col)
    n = norm_expr(v)
    codes = F.transform(
        v, lambda x: F.round(x.cast("double") / n * F.lit(127.0)).cast("int")
    )
    return df.where(n > 0).withColumn(out_col, codes)


def int8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Quantized inner-product top-k: quantize both sides, broadcast
    the (small) query codes, score with the INTEGER dot, rank per
    query by (score desc, id asc). Approximate vs float cosine only
    through the quantization (<= ~1% rank perturbation at dim 64; the
    recall floor vs `brute_force_topk` is pinned in tests) — given the
    codes, the result is exact and deterministic.

    Scoring (round-6 optimization): the query codes are
    collected (they are the tiny side by contract — the old path
    broadcast them anyway) and every corpus batch is scored with ONE
    int64 matrix product. Integer addition is associative-exact, so
    matmul summation order CANNOT change a score — the one hash-exact
    case where BLAS-style reduction is legal (the float paths all keep
    the sequential fold). The old crossJoin paid an interpreted
    64-step zip_with/aggregate per (corpus, query) pair — measured
    7.3 s at sf1.0 vs ~2 s. The DuckDB twin is `_duck_int8_topk_sql`
    (the ann_int8_topk oracle in tests/test_oracle.py, and crafted
    vectors in tests/test_dedup_text.py).

    Output: (query_id, id, score, rank) with score the raw integer
    dot (cosine ~= score / 127^2)."""
    from gdal_vfr_spark.plans.skew import spread_small_input

    # spread BEFORE quantize: the transform/round projection is the
    # per-row cost and must not run on a single scan partition
    c = quantize_int8(
        spread_small_input(corpus.select(id_col, vec_col)), vec_col, "codes"
    ).select(id_col, "codes")
    q = quantize_int8(queries, query_vec_col, "qcodes").select(
        query_id_col, "qcodes"
    )
    qrows = q.collect()
    qids = np.asarray([r[query_id_col] for r in qrows], dtype=np.int64)
    Q = (
        np.asarray([r["qcodes"] for r in qrows], dtype=np.int64)
        if qrows
        else np.zeros((0, 1), dtype=np.int64)
    )
    qid_dt = queries.schema[query_id_col].dataType.simpleString()
    id_dt = corpus.schema[id_col].dataType.simpleString()
    schema = f"{query_id_col} {qid_dt}, {id_col} {id_dt}, score long"

    def _score(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0 or len(qids) == 0:
                continue
            Cm = np.asarray(
                [np.asarray(v, dtype=np.int64) for v in pdf["codes"]]
            )
            S = Cm @ Q.T  # (n, m) int64 — overflow-free: dim*127^2
            yield pd.DataFrame(
                {
                    query_id_col: np.tile(qids, n),
                    id_col: np.repeat(pdf[id_col].to_numpy(), len(qids)),
                    "score": S.ravel(),
                }
            )

    scored = c.mapInPandas(_score, schema)
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "score", "rank")
    )


def _semantic_fold_stats(X: "np.ndarray", c: "np.ndarray"):
    """Row norms and centroid cosine via per-dim sequential
    accumulation — the Catalyst fold's float64 op order, so values are
    bit-identical wherever they are computed (group task, hot-path
    batch, or driver)."""
    n = X.shape[0]
    nn = np.zeros(n)
    csd = np.zeros(n)
    cn = 0.0
    for i in range(X.shape[1]):
        xi = X[:, i]
        nn = nn + xi * xi
        csd = csd + xi * c[i]
        cn = cn + c[i] * c[i]
    nrm = np.sqrt(nn)
    return nrm, csd / (nrm * np.sqrt(cn))


def _semantic_dom_block(
    Xb, ids_b, cs_b, nrm_b, Y, ids_y, cs_y, nrm_y, tau: float, block: int
):
    """Dominated mask for x-rows (Xb) against candidate set Y: x is
    dominated iff some y != x has cos(x, y) >= tau and (cs_y < cs_x
    or (cs_y == cs_x and id_y < id_x)). Every pairwise dot
    accumulates ONE DIMENSION AT A TIME across the block (S +=
    outer(x_i, y_i) in dim order — the _assign_arrow_udf argument),
    so each pair sees exactly the Catalyst fold's float64 op
    sequence. The scratch matrix is capped at ~256 MB (block height
    adapts to |Y|), so an oversized candidate set degrades to more
    block iterations, never OOM. Self-pairs are excluded by id
    equality (ids are unique), which makes the kernel valid both for
    the within-group path (Y is the whole cluster including x) and
    the hot-path batches (x rows are a subset of Y)."""
    nb, d = Xb.shape
    ny = Y.shape[0]
    dom = np.zeros(nb, dtype=bool)
    # Round-6: tile BOTH axes so the accumulator fits in cache. The old
    # x-only blocking bounded Sb to ~256 MB, so each of the d passes
    # streamed the whole scratch matrix through DRAM (~2 * 256 MB * d
    # of traffic). A 512 x 1024 tile is 4 MB — the d accumulation
    # passes run out of L2/L3 instead (measured ~3x on a 31k-member
    # hot cluster). Per-pair float64 op order is unchanged (each pair's
    # dot still accumulates one dimension at a time), so the mask is
    # bit-identical for any tiling — pinned by the block=7 parity test.
    eff_block = max(16, min(block, 512))
    y_block = 1024
    tmp = None
    for s in range(0, nb, eff_block):
        e = min(s + eff_block, nb)
        for ys in range(0, ny, y_block):
            ye = min(ys + y_block, ny)
            Sb = np.zeros((e - s, ye - ys))
            if tmp is None or tmp.shape != Sb.shape:
                tmp = np.empty_like(Sb)
            for i in range(d):
                # in-place: same multiply/add per element in the same
                # order as `Sb = Sb + np.outer(...)`, ~2x less memory
                # traffic (no fresh result arrays) — the kernel is
                # bandwidth-bound, not flop-bound
                np.outer(Xb[s:e, i], Y[ys:ye, i], out=tmp)
                Sb += tmp
            cosb = Sb / np.outer(nrm_b[s:e], nrm_y[ys:ye])
            m = cosb >= tau
            m[ids_b[s:e, None] == ids_y[None, ys:ye]] = False
            lower = (cs_y[None, ys:ye] < cs_b[s:e, None]) | (
                (cs_y[None, ys:ye] == cs_b[s:e, None])
                & (ids_y[None, ys:ye] < ids_b[s:e, None])
            )
            dom[s:e] |= (m & lower).any(axis=1)
    return dom


def semantic_dedup(
    corpus: DataFrame,
    threshold: float,
    n_centroids: int = 8,
    n_iter: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block: int = 1024,
    hot_cluster_rows: int | None = 10_000,
) -> DataFrame:
    """SemDeDup semantic deduplication (Abbas et al. 2023): cluster the
    embedding space with the deterministic fixed-point k-means
    (`kmeans_centroids`), then WITHIN each cluster drop every example
    that has a >= threshold cosine neighbor of LOWER centroid
    similarity (tie-break: lower id). The survivor of every semantic
    near-duplicate neighborhood is its lowest-centroid-similarity
    member — the paper's keep rule, which preferentially keeps
    "edge" examples and drops prototypical ones. The duplicate-collapse
    role is the embedding-space analogue of J3's duplicate-key dedup
    (vfrogr.py:817-829), keyed by meaning instead of gml_id.

    Relational form of the paper's greedy pass: x is dropped iff
    EXISTS y (same cluster, y != x) with cos(x, y) >= threshold AND
    (c_sim(y) < c_sim(x) OR (c_sim(y) = c_sim(x) AND y.id < x.id)).
    Deterministic, partition-invariant, and engine-exact: centroids
    are fixed-point (order-free bigint sums), every cosine is the
    same sequential float64 fold both engines already agree on
    (ann_topk / embedding_near_dup oracles).

    Assignment is map-only (Arrow batch, centroid
    matrix broadcast — k*(dim+1) doubles, <50 MB at k=4096,
    dim=1024), then ONE shuffle groups each cluster into a task and
    the drop rule runs as blocked dense algebra (_semantic_dom_block
    via applyInPandas): the O(B^2) pairwise term never materializes
    as shuffle rows, and the per-task scratch matrix is capped at
    ~256 MB. Cluster size is the cost knob SemDeDup itself turns
    (k grows with N so clusters stay ~10^4).

    HOT-CLUSTER SKEW (measured: a 31k-member boilerplate cluster at
    500k vectors made the grouped path a single-task straggler —
    scaling efficiency 0.377 between local[8]/local[32],
    tools/semdedup_scale_run.py): clusters larger than
    hot_cluster_rows take an explicit skew path — the same playbook
    as the LSH star cap and PIP salting. A map-side-combined size
    probe finds them; each hot cluster's feature matrix (B x dim
    doubles — 16 MB at 31k x 64, budget-guarded at 512 MB) is
    broadcast, and the dominated mask is computed MAP-SIDE over the
    cluster's rows in parallel batches (mapInPandas) — identical
    arithmetic through the shared kernel, so the result is
    bit-identical to the grouped path (tests/test_dedup_text.py).
    hot_cluster_rows=None disables the probe (and the persist of the
    assigned relation the probe needs; when enabled, that cached
    relation lives until the session ends or the caller unpersists —
    the decontaminate_bloom ownership note applies).

    The DuckDB twin is `_duck_semantic_dedup_sql`, a cid self-join
    with the fold cosine (the dedup_semantic oracle in
    tests/test_oracle.py). No window over a content key anywhere
    (the exact_substring_spans lesson).

    Output: survivors as (id_col, cid bigint) — both integer columns,
    so the oracle hash is float-free."""
    from gdal_vfr_spark.plans.skew import spread_small_input

    # spread once and cache the narrow (id, vec) relation: k-means
    # scans it twice (n_iter jobs), the assignment once and the probe
    # once — without the boundary each job re-reads + re-exchanges the
    # corpus (the minhash signature-cache rationale). Size-gated: for
    # a corpus under ~4 MB the fan-out/caching overhead exceeds the
    # whole computation (measured +0.7s at sf0.1's 2k vectors).
    narrow = corpus.select(id_col, vec_col)
    spreadv = spread_small_input(narrow, min_bytes=4 << 20)
    corpus = spreadv.persist() if spreadv is not narrow else narrow
    cents = kmeans_centroids(
        corpus, k=n_centroids, n_iter=n_iter, id_col=id_col,
        vec_col=vec_col, dim=dim,
    )
    assigned = (
        corpus.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
        .withColumn("cid", _assign_arrow_udf(cents)(F.col("__v")))
    )
    C = {int(cid): np.asarray(c, dtype=np.float64) for cid, c in cents}
    tau = float(threshold)
    out_schema = f"{id_col} long, cid long"

    def _drop_group(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        cidv = int(pdf["cid"].iloc[0])
        out_cols = {
            id_col: pdf["__id"].astype("int64"),
            "cid": np.full(n, cidv, dtype=np.int64),
        }
        if n <= 1:
            return pd.DataFrame(out_cols)
        ids = pdf["__id"].to_numpy(dtype=np.int64)
        X = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["__v"]])
        nrm, cs = _semantic_fold_stats(X, C[cidv])
        dom = _semantic_dom_block(
            X, ids, cs, nrm, X, ids, cs, nrm, tau, block
        )
        return pd.DataFrame(out_cols).loc[~dom]

    if hot_cluster_rows is None:
        # pure grouped path: no probe job, no persist (advice item
        # 4 — the default path's probe is eager by necessity, but
        # the opt-out path must stay fully lazy)
        return assigned.groupBy("cid").applyInPandas(
            _drop_group, schema=out_schema
        )
    # hot-cluster probe: map-side-combined counts, tiny collect
    # (k rows — one per cluster)
    assigned = assigned.persist()
    counts = assigned.groupBy("cid").count().collect()
    # Round-6: ADAPTIVE straggler threshold. With k clusters on P
    # cores, the grouped path runs at most k tasks — k=8 on 32
    # cores leaves 3/4 of the machine idle while every task grinds
    # a B^2 kernel. A cluster is routed through the broadcast
    # map-side path (bit-identical, tests/test_dedup_text.py) when it
    # exceeds the smaller of the caller's hot_cluster_rows and ~total/(2P)
    # — i.e. when it cannot be a fair per-core share. The adaptive
    # term only drops below hot_cluster_rows when the whole corpus
    # is small enough that collecting the hot set is trivially
    # inside the broadcast budget (total < 2 * P * hot_cluster_rows
    # rows); at production scale it is inert and the explicit
    # hot_cluster_rows cap governs, exactly as before.
    para = corpus.sparkSession.sparkContext.defaultParallelism
    total_rows = sum(r["count"] for r in counts)
    max_rows = max((r["count"] for r in counts), default=0)
    adaptive = max(64, total_rows // (2 * max(para, 1)))
    # engage the adaptive term only when the biggest grouped-path
    # kernel is actually worth parallelizing (~max^2 * dim madds >=
    # 2e8, i.e. >= ~0.2s of single-core work) — below that the
    # collect+broadcast fixed costs exceed the straggler they fix
    # (measured: +1.1s at sf0.1's 250-row clusters)
    if max_rows * max_rows * dim < 200_000_000:
        adaptive = int(hot_cluster_rows)
    thr = min(int(hot_cluster_rows), adaptive)
    hot = [r for r in counts if r["count"] > thr]
    if not hot:
        return assigned.groupBy("cid").applyInPandas(
            _drop_group, schema=out_schema
        )
    budget = (512 << 20) // (dim * 8)
    total_hot = sum(r["count"] for r in hot)
    if total_hot > budget:
        raise ValueError(
            f"semantic_dedup: {len(hot)} hot clusters total {total_hot}"
            f" rows > broadcast budget {budget}; increase n_centroids so"
            " clusters shrink (SemDeDup's own knob) or raise"
            " hot_cluster_rows past the cluster size"
        )
    hot_cids = sorted(int(r["cid"]) for r in hot)
    spark = corpus.sparkSession
    cold_out = (
        assigned.where(~F.col("cid").isin(hot_cids))
        .groupBy("cid")
        .applyInPandas(_drop_group, schema=out_schema)
    )
    # Round-6 (verdict item 1): ALL hot clusters are collected in
    # ONE job and shipped in ONE broadcast; the dominated mask then
    # runs as a single mapInPandas over the hot rows (batches group
    # locally by cid), so N boilerplate mega-clusters cost one
    # driver round-trip and one plan — not N sequential jobs. The
    # budget guard above is enforced on the SUM over hot clusters
    # (advice item 3), since that is what the driver and every
    # executor actually hold.
    hot_src = assigned.where(F.col("cid").isin(hot_cids)).select(
        "cid", "__id", "__v"
    )
    mats: dict[int, tuple] = {}
    collected = hot_src.collect()
    by_cid: dict[int, list] = {hc: [] for hc in hot_cids}
    for r in collected:
        by_cid[int(r["cid"])].append(r)
    for hc in hot_cids:
        rows = by_cid[hc]
        ids_y = np.asarray([r["__id"] for r in rows], dtype=np.int64)
        Y = np.asarray(
            [np.asarray(r["__v"], dtype=np.float64) for r in rows]
        )
        nrm_y, cs_y = _semantic_fold_stats(Y, C[hc])
        mats[hc] = (Y, ids_y, nrm_y, cs_y)
    bc = spark.sparkContext.broadcast(mats)

    def _hot_fn(batches):
        m = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            for cidv, sub in pdf.groupby("cid", sort=False):
                hc = int(cidv)
                Yv, ids_yv, nrm_yv, cs_yv = m[hc]
                ids_b = sub["__id"].to_numpy(dtype=np.int64)
                Xb = np.asarray(
                    [np.asarray(v, dtype=np.float64) for v in sub["__v"]]
                )
                nrm_b, cs_b = _semantic_fold_stats(Xb, C[hc])
                dom = _semantic_dom_block(
                    Xb, ids_b, cs_b, nrm_b, Yv, ids_yv, cs_yv, nrm_yv,
                    tau, block,
                )
                yield pd.DataFrame(
                    {
                        id_col: ids_b[~dom],
                        "cid": np.full(int((~dom).sum()), hc, dtype=np.int64),
                    }
                )

    hot_out = hot_src.mapInPandas(_hot_fn, schema=out_schema)
    return cold_out.unionByName(hot_out)
