import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from gdal_vfr_spark import duck_sql
from gdal_vfr_spark.operators import dedup, multimodal, similarity, text


def _duck(sql, **views):
    """Run DuckDB oracle SQL with each Spark DataFrame of `views`
    registered as a view under its keyword (documents, embeddings)."""
    con = duckdb.connect()
    try:
        for name, df in views.items():
            con.register(name, pa.Table.from_pandas(df.toPandas(), preserve_index=False))
        return con.sql(sql).df()
    finally:
        con.close()


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog in the park"),
        (2, "the quick brown fox jumps over the lazy dog in the park"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy dog in the yard"),  # near dup of 1
        (4, "der schnelle braune fuchs springt und die katze ist mit dem hund"),
        (5, "v praze je krasne a na veceri se tesime do restaurace pro dobre jidlo"),
        (6, "completely different text about database systems and query optimization"),
        (7, ""),  # empty doc edge case
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_exact_dedup(spark, docs):
    out = dedup.exact_dedup(docs).orderBy("doc_id").collect()
    ids = [r["doc_id"] for r in out]
    assert 1 in ids and 2 not in ids  # min id kept
    dups = {r["doc_id"]: r["n_dups"] for r in out}
    assert dups[1] == 2


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = dedup.minhash_lsh_pairs(docs, num_hashes=16, bands=8).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard_est"] for r in pairs}
    assert (1, 2) in got and got[(1, 2)] == 1.0  # exact dup always caught
    assert (1, 3) in got and got[(1, 3)] > 0.5  # near dup caught
    assert (1, 6) not in got and (4, 5) not in got  # unrelated not paired


def test_ngram_jaccard_exact(spark, docs):
    pairs = dedup.minhash_lsh_pairs(docs, num_hashes=16, bands=8)
    verified = dedup.ngram_jaccard_pairs(docs, pairs).collect()
    jac = {(r["id_a"], r["id_b"]): r["jaccard"] for r in verified}
    assert jac[(1, 2)] == 1.0
    # exact jaccard of 1-vs-3 (differ in last word): high but < 1
    assert 0.6 < jac[(1, 3)] < 1.0


def test_simhash_near_pairs(spark, docs):
    sh = dedup.with_simhash(docs).collect()
    vals = {r["doc_id"]: r["simhash"] for r in sh}
    assert vals[1] == vals[2]  # identical text -> identical fingerprint
    h13 = bin(vals[1] ^ vals[3]).count("1")
    h16 = bin(vals[1] ^ vals[6]).count("1")
    assert h13 < h16  # near dup closer than unrelated
    pairs = dedup.simhash_near_pairs(docs, max_hamming=3).collect()
    keys = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in keys  # identical docs at hamming 0
    if h13 <= 3:  # (1,3) guaranteed only within the pigeonhole radius
        assert (1, 3) in keys
    assert all(r["hamming"] <= 3 for r in pairs)


def test_dedup_keep_representatives(spark, docs):
    pairs = dedup.minhash_lsh_pairs(docs, num_hashes=16, bands=8)
    kept = dedup.dedup_keep_representatives(docs, pairs).collect()
    ids = {r["doc_id"] for r in kept}
    assert 1 in ids and 2 not in ids and 3 not in ids
    assert {4, 5, 6, 7} <= ids


def test_connected_components_star_and_chain(spark):
    # star (1,5),(3,5): greedy keeps both 1 and 3; CC must collapse all
    # three to component 1. chain (10,11),(11,12),(12,13): all -> 10
    # (needs >1 propagation round). (20,21) isolated pair -> 20.
    pdf = pd.DataFrame(
        [(1, 5), (3, 5), (10, 11), (11, 12), (12, 13), (20, 21)],
        columns=["id_a", "id_b"],
    )
    pairs = spark.createDataFrame(pdf)
    got = {
        r["node"]: r["component"]
        for r in dedup.connected_components(pairs, node_col="node").collect()
    }
    assert got == {1: 1, 3: 1, 5: 1, 10: 10, 11: 10, 12: 10, 13: 10, 20: 20, 21: 20}


def test_connected_components_long_chain_log_rounds(spark):
    # 64-node chain 100-101-...-163: plain min-label propagation needs 63
    # rounds; pointer jumping (engaged from round 3) must collapse it to
    # component 100 within max_iter=15 ~ O(log diameter).
    pdf = pd.DataFrame(
        [(100 + i, 100 + i + 1) for i in range(63)], columns=["id_a", "id_b"]
    )
    got = {
        r["node"]: r["component"]
        for r in dedup.connected_components(
            spark.createDataFrame(pdf), node_col="node", max_iter=15
        ).collect()
    }
    assert got == {100 + i: 100 for i in range(64)}


def test_assign_components_includes_singletons(spark, docs):
    pairs = dedup.minhash_lsh_pairs(docs, num_hashes=16, bands=8).where(
        F.col("jaccard_est") >= 0.5
    )
    out = {
        r["doc_id"]: r["component"]
        for r in dedup.assign_components(docs.select("doc_id"), pairs).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5, 6, 7}  # every doc labeled
    assert out[1] == out[2] == out[3] == 1  # near-dup cluster collapsed
    assert out[4] == 4 and out[6] == 6 and out[7] == 7  # singletons


def test_ivf_topk_recall_and_partition_invariance(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in similarity.brute_force_topk(emb, q, k=3).collect()
    }
    got = similarity.ivf_topk(emb, q, k=3).collect()
    ivf = {(r["query_id"], r["vec_id"]) for r in got}
    assert len(ivf) == 15  # 3 per query
    assert len(exact & ivf) / len(exact) >= 0.6  # probes 2/8 cells
    # rank 1 must be the query itself (it is in the corpus, cosine 1.0,
    # and its own cell is always probed first)
    r1 = {r["query_id"]: r["vec_id"] for r in got if r["rank"] == 1}
    assert r1 == {i: i for i in range(5)}
    # fixed-point centroid sums => identical centroids under ANY
    # partitioning (float sums would differ in the last ulp)
    c1 = similarity.kmeans_centroids(emb, k=8, n_iter=2)
    c2 = similarity.kmeans_centroids(emb.repartition(13), k=8, n_iter=2)
    assert c1 == c2
    # ... and bit-identical to the DuckDB Lloyd unroll's centroids
    ctes, cf = duck_sql._duck_lloyd_af_ctes(8, 2, 64)
    want = _duck(
        f"WITH {', '.join(ctes)} SELECT cid, c FROM {cf} ORDER BY cid", embeddings=emb
    )
    assert c1 == [(int(i), [float(x) for x in c]) for i, c in zip(want["cid"], want["c"])]


def test_kmeans_centroids_skip_null_elements(spark):
    """A null element (NaN in the kernel) is left out of its position's
    fixed-point sum while its vector still counts, bit-identical to the
    DuckDB Lloyd unroll, where `sum` skips the NULL."""
    # the fixture tables live in the testdata directory beside the checkout
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    emb = spark.read.parquet(os.path.join(root, "testdata", "sf0.001", "embeddings.parquet"))
    holes = emb.withColumn(
        "embedding",
        F.when(
            # an odd count of holes (the unmasked kernel's INT64_MIN
            # cancels in pairs), none of them among the 8 seed ids
            F.col("vec_id").isin(10, 17, 24),
            F.expr("transform(embedding, (x, i) -> IF(i = 5, NULL, x))"),
        ).otherwise(F.col("embedding")),
    )
    got = similarity.kmeans_centroids(holes, k=8, n_iter=2)
    ctes, cf = duck_sql._duck_lloyd_af_ctes(8, 2, 64)
    want = _duck(
        f"WITH {', '.join(ctes)} SELECT cid, c FROM {cf} ORDER BY cid", embeddings=holes
    )
    assert got == [(int(i), [float(x) for x in c]) for i, c in zip(want["cid"], want["c"])]


def test_kmeans_centroids_null_seed_raises(spark):
    """A seed vector (one of the k smallest ids) that is null or holds a
    null element cannot start a centroid: kmeans_centroids raises a
    ValueError naming the seed id."""
    # the fixture tables live in the testdata directory beside the checkout
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    emb = spark.read.parquet(os.path.join(root, "testdata", "sf0.001", "embeddings.parquet"))
    hole = emb.withColumn(
        "embedding",
        F.when(
            F.col("vec_id") == 3,
            F.expr("transform(embedding, (x, i) -> IF(i = 5, NULL, x))"),
        ).otherwise(F.col("embedding")),
    )
    with pytest.raises(ValueError, match="vec_id=3"):
        similarity.kmeans_centroids(hole, k=8, n_iter=1)
    gone = emb.withColumn(
        "embedding", F.when(F.col("vec_id") != 2, F.col("embedding"))
    )
    with pytest.raises(ValueError, match="vec_id=2"):
        similarity.kmeans_centroids(gone, k=8, n_iter=1)


def test_ivf_indexed_prunes_partitions(spark, tmp_path):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    path = str(tmp_path / "ivf_idx")
    cents = similarity.write_ivf_index(emb, path)
    served = similarity.ivf_topk_indexed(spark, path, cents, q, k=3, nprobe=2)
    direct = similarity.ivf_topk(emb, q, k=3, nprobe=2)
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted(map(tuple, served.collect()), key=lambda t: (t[0], t[3])) == sorted(
        map(tuple, direct.collect()), key=lambda t: (t[0], t[3])
    )
    # the scan must be partition-pruned to the probed cells only
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cid#" in plan


def test_hash_sampling_deterministic_and_stratified(spark):
    from gdal_vfr_spark.operators import sampling

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    s1 = {r["doc_id"] for r in sampling.hash_sample(docs, "doc_id", 0.3).collect()}
    # partitioning-independent (df.sample() is NOT)
    s2 = {
        r["doc_id"]
        for r in sampling.hash_sample(docs.repartition(17), "doc_id", 0.3).collect()
    }
    assert s1 == s2 and 0.15 < len(s1) / 500 < 0.45
    strat = sampling.stratified_sample(
        docs, "doc_id", "lang", {"es": 1.0, "en": 0.0}, default_fraction=0.5
    )
    got = strat.groupBy("lang").count().collect()
    full = dict((r["lang"], r["count"]) for r in docs.groupBy("lang").count().collect())
    rates = {r["lang"]: r["count"] / full[r["lang"]] for r in got}
    assert rates.get("es") == 1.0 and "en" not in rates
    for lang, rate in rates.items():
        if lang not in ("es",):
            assert 0.3 < rate < 0.7  # default 0.5 within tolerance


def test_pii_scrub(spark):
    pdf = pd.DataFrame(
        {
            "t": [
                "mail a.b+c@sub.example.co.uk now",
                "call +420 601 123 456 or 555-123-4567",
                "no pii here, just pi 3.14159 and v1.2.3",
                "mixed: x@y.io then 123 456 7890 end",
            ]
        }
    )
    df = spark.createDataFrame(pdf)
    got = [r["s"] for r in df.select(text.scrub_pii_expr("t").alias("s")).collect()]
    assert got[0] == "mail [EMAIL] now"
    assert "[PHONE]" in got[1] and "601" not in got[1] and "555" not in got[1]
    assert got[2] == "no pii here, just pi 3.14159 and v1.2.3"  # no false positives
    assert got[3] == "mixed: [EMAIL] then [PHONE]0 end" or got[3] == "mixed: [EMAIL] then [PHONE] end"


def test_vocab_and_source_stats(spark, docs):
    vocab = text.vocab_topn(docs, n=3).collect()
    assert len(vocab) == 3 and vocab[0]["n_occ"] >= vocab[-1]["n_occ"]
    assert all(r["token"] for r in vocab)
    st = text.source_stats(docs.withColumn("source", F.lit("s1"))).collect()
    assert len(st) == 1
    row = st[0]
    assert row["n_docs"] == 7
    assert 0.0 <= row["min_quality"] <= row["avg_quality"] <= row["max_quality"] <= 1.0


def test_text_analyze(spark, docs):
    out = {r["doc_id"]: r for r in text.analyze(docs).collect()}
    assert out[1]["lang_pred"] == "en"
    assert out[4]["lang_pred"] == "de"
    assert out[5]["lang_pred"] == "cs"
    assert out[7]["lang_pred"] == "und"
    assert out[1]["n_tokens"] == 12
    assert out[7]["n_tokens"] == 0
    assert out[1]["fingerprint"] == out[2]["fingerprint"]
    assert out[1]["fingerprint"] != out[3]["fingerprint"]
    assert 0.0 <= out[7]["quality"] <= 0.1
    assert out[1]["quality"] > out[7]["quality"]


def test_brute_force_topk_matches_numpy(spark):
    rng = np.random.default_rng(2)
    emb = rng.standard_normal((100, 16)).astype(np.float32)
    corpus = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(100, dtype=np.int64), "embedding": list(map(list, emb))})
    )
    qv = rng.standard_normal((5, 16)).astype(np.float32)
    queries = spark.createDataFrame(
        pd.DataFrame({"query_id": np.arange(5, dtype=np.int64), "query_vec": list(map(list, qv))})
    )
    out = similarity.brute_force_topk(corpus, queries, k=3).collect()
    assert len(out) == 15
    for qi in range(5):
        d = emb.astype(np.float64) @ qv[qi].astype(np.float64)
        cos = d / (np.linalg.norm(emb.astype(np.float64), axis=1) * np.linalg.norm(qv[qi].astype(np.float64)))
        want = np.lexsort((np.arange(100), -cos))[:3]
        got = sorted([r for r in out if r["query_id"] == qi], key=lambda r: r["rank"])
        assert [r["vec_id"] for r in got] == want.tolist()


def test_lsh_topk_subset_of_bucket(spark):
    rng = np.random.default_rng(3)
    emb = rng.standard_normal((200, 16)).astype(np.float32)
    corpus = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(200, dtype=np.int64), "embedding": list(map(list, emb))})
    )
    queries = spark.createDataFrame(
        pd.DataFrame({"query_id": [0], "query_vec": [emb[17].tolist()]})
    )
    out = similarity.lsh_bucketed_topk(corpus, queries, k=3, dim=16, n_planes=4).collect()
    assert out and out[0]["vec_id"] == 17 and out[0]["cosine"] > 0.999999


def test_cosine_near_dup_pairs(spark):
    rng = np.random.default_rng(8)
    base = rng.standard_normal(16).astype(np.float32)
    emb = [base.tolist(), (base + 1e-4).tolist(), rng.standard_normal(16).astype(np.float32).tolist()]
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": [1, 2, 3], "embedding": emb})
    )
    pairs = similarity.cosine_near_dup_pairs(df, threshold=0.999, dim=16).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}


def test_multimodal_plumbing(spark):
    pdf = pd.DataFrame(
        {"url": ["a", "b"], "html": [b"\x89PNG fake bytes", b"RIFF other bytes"]}
    )
    df = spark.createDataFrame(pdf)
    meta = {r["url"]: r for r in multimodal.image_metadata(df).collect()}
    assert meta["a"]["n_bytes"] == 15 and len(meta["a"]["content_md5"]) == 32
    feats = multimodal.image_features(df).collect()
    assert all(len(r["feature"]) == 3 for r in feats)
    # determinism: same bytes -> same features
    feats2 = multimodal.image_features(df).collect()
    assert sorted(map(str, feats)) == sorted(map(str, feats2))
    frames = multimodal.sample_frames(df, every_n=2, n_frames=4).collect()
    assert len(frames) == 8
    with pytest.raises(Exception):
        multimodal.resize_stub(df, 4, 4).collect()


def test_minhash_fast_equals_expr(spark, docs):
    """with_minhash equals its DuckDB twin expression (the sig CTE of
    _duck_sig_bands_cte) signature for signature, empty doc included."""
    fast = {
        r["doc_id"]: r["minhash"]
        for r in dedup.with_minhash(docs).select("doc_id", "minhash").collect()
    }
    sig = _duck(f"WITH {duck_sql._duck_sig_bands_cte()} SELECT * FROM sig", documents=docs)
    want = {
        int(r["doc_id"]): [int(r[f"s{i}"]) for i in range(16)]
        for r in sig.to_dict("records")
    }
    assert fast == want and len(fast) == 7


def test_simhash_fast_equals_expr(spark, docs):
    """with_simhash equals its DuckDB twin expression (the relational
    token x bit vote of _duck_simhash_sql) at 32 and 64 bits."""
    nonempty = docs.where("length(text) > 0")
    for bits in (32, 64):
        fast = {
            r["doc_id"]: r["simhash"]
            for r in dedup.with_simhash(nonempty, bits=bits).collect()
        }
        want = _duck(duck_sql._duck_simhash_sql(bits), documents=nonempty)
        assert fast == {
            int(d): int(h) for d, h in zip(want["doc_id"], want["simhash"])
        }, bits


def test_with_lang_id_matches_expr(spark, docs):
    """with_lang_id equals its DuckDB twin expression (_duck_lang_sql)
    on the docs rows, the empty doc included."""
    a = _duck(duck_sql._duck_lang_sql(), documents=docs)
    b = text.with_lang_id(docs).select("doc_id", "lang_pred")
    assert dict(zip(a["doc_id"].astype(int), a["lang_pred"])) == {
        r["doc_id"]: r["lang_pred"] for r in b.collect()
    }


def test_with_quality_matches_expr(spark, docs):
    """with_quality equals its DuckDB twin expression (_duck_quality_sql)
    on the docs rows, exact float equality."""
    a = _duck(duck_sql._duck_quality_sql(), documents=docs)
    b = text.with_quality(docs).select("doc_id", "quality")
    assert {int(d): float(q) for d, q in zip(a["doc_id"], a["quality"])} == {
        r["doc_id"]: r["quality"] for r in b.collect()
    }


def test_ann_lsh_recall_vs_exact(spark):
    """SRP-LSH top-k is approximate by design; pin its quality so the
    scale path can't silently degrade to noise: measured against exact
    brute-force top-10 on the sf0.01 embeddings, bucket recall must
    clear a floor and grow as planes shrink (bigger buckets). Measured
    here: 0.145 @ 6 planes, 0.25 @ 4, 0.34 @ 3 — near-uniform random
    embeddings make single-bucket-probe recall inherently modest;
    production would band-OR several tables or multiprobe."""
    import os

    path = "/root/testdata/sf0.01/embeddings.parquet"
    if not os.path.exists(path):  # pragma: no cover
        import pytest

        pytest.skip("testdata not present")
    emb = spark.read.parquet(path)
    q = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {
        (r.query_id, r.vec_id)
        for r in similarity.brute_force_topk(emb, q, k=10).collect()
    }

    def recall(n_planes):
        got = {
            (r.query_id, r.vec_id)
            for r in similarity.lsh_bucketed_topk(
                emb, q, k=10, dim=64, n_planes=n_planes
            ).collect()
        }
        return len(got & exact) / len(exact)

    r6, r3 = recall(6), recall(3)
    assert r6 >= 0.08, r6
    assert r3 >= r6, (r3, r6)
    assert r3 >= 0.25, r3


def test_pack_bins_and_chunk_tokens(spark, docs):
    packed = {
        r["doc_id"]: r
        for r in text.pack_bins(docs, budget=20, order_col="doc_id").collect()
    }
    # offsets are cumulative mod budget, bins monotone in doc order
    before = 0
    for did in sorted(packed):
        r = packed[did]
        assert r["bin"] == before // 20 and r["bin_offset"] == before % 20
        before += r["n_tokens"]
    chunks = text.chunk_tokens(docs, size=5, overlap=2).collect()
    by_doc: dict[int, list] = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 7 not in by_doc  # empty doc yields no chunks
    for did, rows in by_doc.items():
        rows.sort(key=lambda r: r["token_start"])
        starts = [r["token_start"] for r in rows]
        assert starts == list(range(0, starts[-1] + 1, 3))  # step = size-overlap
        # chunk lens: full size except possibly the tail windows
        assert all(r["chunk_len"] >= 1 and r["chunk_len"] <= 5 for r in rows)
        # text reconstructs from tokens
        assert all(len(r["chunk_text"].split(" ")) == r["chunk_len"] for r in rows)


def test_kmeans_seeds_id_scheme_independent(spark):
    """Seeds are the k smallest-id vectors relabelled 0..k-1, so the
    centroids must be identical under any monotone id remapping (ids
    need not be dense or 0-based), and a corpus smaller than k must
    raise instead of silently training fewer clusters."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = similarity.kmeans_centroids(emb, k=8, n_iter=2)
    shifted = emb.select((F.col("vec_id") + 1000).alias("vec_id"), "embedding")
    assert similarity.kmeans_centroids(shifted, k=8, n_iter=2) == base
    sparse = emb.select((F.col("vec_id") * 17 + 3).alias("vec_id"), "embedding")
    assert similarity.kmeans_centroids(sparse, k=8, n_iter=2) == base
    with pytest.raises(ValueError, match="rows < k"):
        similarity.kmeans_centroids(emb.where(F.col("vec_id") < 3), k=8, n_iter=1)


def test_pack_bins_warns_without_shard(spark, docs):
    with pytest.warns(UserWarning, match="SINGLE reducer"):
        text.pack_bins(docs, budget=20, order_col="doc_id")
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("error")
        text.pack_bins(docs, budget=20, order_col="doc_id", shard_col="doc_id")


def test_connected_components_raises_on_nonconvergence(spark):
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, max_iter=1)


def test_decontaminate_flags_planted_overlap(spark):
    """A doc sharing a >=n-char span with the benchmark must be flagged;
    docs with no shared n-gram must survive drop_contaminated."""
    docs = spark.createDataFrame(
        pd.DataFrame(
            [
                (1, "zzzz the secret benchmark passage lives here qqqq"),
                (2, "completely unrelated words about spark and ducks"),
                (3, "another clean row with its own distinct phrasing"),
            ],
            columns=["doc_id", "text"],
        )
    )
    bench = spark.createDataFrame(
        pd.DataFrame(
            [("what is the answer? the secret benchmark passage lives here",)],
            columns=["text"],
        )
    )
    flagged = {
        r["doc_id"]: r["n_contaminated"]
        for r in dedup.decontaminate(docs, bench, n=16, char_shingles=True).collect()
    }
    assert set(flagged) == {1} and flagged[1] > 0
    clean = dedup.drop_contaminated(
        docs, dedup.decontaminate(docs, bench, n=16, char_shingles=True)
    )
    assert sorted(r["doc_id"] for r in clean.collect()) == [2, 3]
    # word-shingle default: the shared 6-token run is shorter than
    # n=13, so nothing is flagged — but at n=6 doc 1 is
    flagged_w = {
        r["doc_id"] for r in dedup.decontaminate(docs, bench, n=6).collect()
    }
    assert flagged_w == {1}
    assert dedup.decontaminate(docs, bench, n=13).count() == 0


def test_bm25_topk_ranking_semantics(spark):
    """Multi-term matches outrank single-term; rarer terms contribute
    more (higher idf); ties break by doc_id."""
    docs = spark.createDataFrame(
        pd.DataFrame(
            [
                (1, "alpha beta gamma delta"),
                (2, "alpha alpha alpha other words here"),
                (3, "beta filler filler filler filler filler"),
                (4, "alpha beta filler filler"),
                (5, "unrelated content entirely"),
            ],
            columns=["doc_id", "text"],
        )
    )
    queries = spark.createDataFrame([(1, "alpha beta")], "query_id long, query string")
    rows = text.bm25_topk(docs, queries, k=5).orderBy("rank").collect()
    ids = [r["doc_id"] for r in rows]
    assert 5 not in ids  # no query term -> no score
    # docs containing BOTH terms outrank single-term docs
    both = {1, 4}
    assert set(ids[:2]) == both
    scores = {r["doc_id"]: r["score_fp"] for r in rows}
    assert min(scores[i] for i in both) > max(scores[i] for i in set(ids) - both)


def test_pagerank_fp_hand_graph(spark):
    """Hand-checked fixed-point PageRank on 1->2, 2->1, 3->1: exact
    micro-unit values after one iteration, authority ordering stable
    after three."""
    from gdal_vfr_spark.operators.graph import pagerank_fp

    e = spark.createDataFrame([(1, 2), (2, 1), (3, 1)], "src long, dst long")
    r1 = {r["node"]: r["pr_fp"] for r in pagerank_fp(e, n_iter=1).collect()}
    # init = 1000000 // 3 = 333333; base = int(0.15e6 / 3) = 50000
    assert r1 == {
        1: 50000 + int(0.85 * 666666),  # two full in-contributions
        2: 50000 + int(0.85 * 333333),
        3: 50000,  # no in-edges: base only
    }
    r3 = {r["node"]: r["pr_fp"] for r in pagerank_fp(e, n_iter=3).collect()}
    assert r3[1] > r3[2] > r3[3]


def test_temperature_quota_sample_semantics(spark):
    """alpha=0.5 quotas: a 100:4 head/tail split must keep the tail
    fully (quota >= n small source upweights to keep-all) while the
    head is capped near budget * sqrt-share; selection is
    partitioning-invariant (md5-first)."""
    from gdal_vfr_spark.operators import sampling

    rows = [(i, "head") for i in range(100)] + [(1000 + i, "tail") for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    out = sampling.temperature_quota_sample(docs, budget=30, source_col="source")
    got = {r["source"]: 0 for r in out.collect()}
    for r in out.collect():
        got[r["source"]] = got.get(r["source"], 0) + 1
    # w_head = 10, w_tail = 2, W = 12 -> quota_head = ceil(300/12) = 25,
    # quota_tail = min(4, ceil(60/12)) = 4
    assert got == {"head": 25, "tail": 4}
    # partitioning invariance
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(
        r["doc_id"]
        for r in sampling.temperature_quota_sample(
            docs.repartition(13), budget=30, source_col="source"
        ).collect()
    )
    assert a == b


def test_word_shingles_expr_reference(spark):
    """Word 13-gram shingles match a plain-Python reference, including
    the short-doc (full-sequence), empty-text and null-text edges: the
    shingle strings of the DuckDB twin expression (_duck_word_shingles),
    and the md5-half hashes word_shingle_hash_rows emits for them."""
    import hashlib
    import re as _re

    from gdal_vfr_spark.operators.dedup import word_shingle_hash_rows

    texts = [
        "The quick brown fox jumps over the lazy dog near the river bank today",
        "short doc",
        "",
        "  punctuation, splits; tokens!  and    spaces  ",
        None,
    ]

    def ref(t, n=13):
        if t is None:
            return []
        toks = [x for x in _re.split(r"[^a-z0-9]+", t.lower()) if x]
        if len(toks) <= n:
            grams = [" ".join(toks)]
        else:
            grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
        seen, out = set(), []
        for g in grams:
            if g and g not in seen:
                seen.add(g)
                out.append(g)
        return out

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    duck = _duck(
        f"""SELECT doc_id, {duck_sql._duck_word_shingles('toks', 13)} AS sh
            FROM (SELECT doc_id, {duck_sql._duck_tokens('text')} AS toks FROM documents)""",
        documents=df,
    )
    # DuckDB's list_distinct does not keep first-seen order, so the
    # shingle lists compare as sorted lists (duplicates would still show)
    # (a null text gives a NULL list in DuckDB)
    got = {
        int(d): sorted(sh) if sh is not None else []
        for d, sh in zip(duck["doc_id"], duck["sh"])
    }
    for i, t in enumerate(texts):
        assert got[i] == sorted(ref(t))
    hashed = sorted(
        (r[0], r[1]) for r in word_shingle_hash_rows(df, "text", "doc_id", 13).collect()
    )
    assert hashed == sorted(
        (i, hashlib.md5(g.encode()).hexdigest()[:16])
        for i, t in enumerate(texts)
        for g in ref(t)
    )


def test_decontaminate_word_mode(spark):
    """A doc sharing a 13-token window with the benchmark is flagged;
    an unrelated doc is not; char mode still works."""
    words = " ".join(f"w{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(1, words + " tail tokens here"), (2, "completely different content")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(words,)], "text string")
    out = {r["doc_id"]: r["n_contaminated"] for r in dedup.decontaminate(docs, bench).collect()}
    assert 1 in out and 2 not in out
    outc = dedup.decontaminate(docs, bench, n=16, char_shingles=True).collect()
    assert any(r["doc_id"] == 1 for r in outc)


def test_multimodal_real_decode_roundtrip(spark):
    """PPM and WAV: encode -> decode roundtrips bit-exactly; comments
    parse; resize_nearest picks the floor-index pixels; Spark stats
    match numpy."""
    import numpy as np

    from gdal_vfr_spark.operators import multimodal as mm

    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)
    buf = mm.encode_ppm(img)
    assert np.array_equal(mm.decode_ppm(buf), img)
    commented = b"P6\n# a comment\n7 5\n255\n" + img.tobytes()
    assert np.array_equal(mm.decode_ppm(commented), img)
    samples = (rng.integers(-2000, 2000, size=77)).astype(np.int16)
    wav = mm.encode_wav_pcm16(samples, 8000)
    back, rate = mm.decode_wav_pcm16(wav)
    assert rate == 8000 and np.array_equal(back, samples)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        mm.decode_ppm(b"P5\n1 1\n255\n\x00")
    with _pytest.raises(ValueError):
        mm.decode_wav_pcm16(b"nope")

    df = spark.createDataFrame([("a", bytearray(buf))], "url string, image binary")
    st = mm.image_decode_stats(df, binary_col="image").first()
    s = img.reshape(-1, 3).sum(axis=0)
    assert (st["width"], st["height"], st["n_px"]) == (7, 5, 35)
    assert (st["sum_r"], st["sum_g"], st["sum_b"]) == tuple(int(v) for v in s)
    rz = mm.resize_nearest(df, width=3, height=2, binary_col="image").first()
    want = img[(np.arange(2) * 5) // 2][:, (np.arange(3) * 7) // 3, :]
    assert np.array_equal(mm.decode_ppm(bytes(rz["image"])), want)
    adf = spark.createDataFrame([("a", bytearray(wav))], "url string, audio binary")
    ast_ = mm.audio_decode_stats(adf, binary_col="audio").first()
    a = np.abs(samples.astype(np.int64))
    assert (ast_["sample_rate"], ast_["n_samples"]) == (8000, 77)
    assert (ast_["sum_abs"], ast_["max_abs"]) == (int(a.sum()), int(a.max()))


def test_word_shingle_rows_udf_expr_parity(spark, docs):
    """word_shingle_hash_rows emits exactly the (doc_id, shingle-hash)
    rows of its DuckDB twin expression (_duck_word_shingles, hashed as
    substr(md5(s), 1, 16)): the docs rows plus the short-doc
    (full-sequence), empty-text, null-text and punctuation-split
    edges."""
    from gdal_vfr_spark.operators.dedup import word_shingle_hash_rows

    edges = spark.createDataFrame(
        [
            (101, "The quick brown fox jumps over the lazy dog near the river bank today"),
            (102, "short doc"),
            (103, ""),
            (104, "  punctuation, splits; tokens!  and    spaces  "),
            (105, None),
        ],
        "doc_id long, text string",
    )
    src = docs.unionByName(edges)
    for n in (3, 13):
        fast = sorted(
            (r[0], r[1])
            for r in word_shingle_hash_rows(src, "text", "doc_id", n).collect()
        )
        want = _duck(
            f"""SELECT doc_id, substr(md5(sh), 1, 16) AS sh FROM (
                  SELECT doc_id, unnest({duck_sql._duck_word_shingles('toks', n)}) AS sh
                  FROM (SELECT doc_id, {duck_sql._duck_tokens('text')} AS toks
                        FROM documents))""",
            documents=src,
        )
        assert fast == sorted(zip(want["doc_id"].astype(int), want["sh"])), n
        assert len(fast) > 0


def test_int8_quantize_matches_numpy_twin(spark):
    rng = np.random.default_rng(11)
    emb = rng.standard_normal((50, 16)).astype(np.float32)
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(50, dtype=np.int64), "embedding": list(map(list, emb))})
    )
    got = {
        r["vec_id"]: r["codes"]
        for r in similarity.quantize_int8(df).collect()
    }
    for i in range(50):
        x = emb[i].astype(np.float64)
        # sequential fold norm, like the engine expression
        acc = 0.0
        for v in x:
            acc += v * v
        want = [int(np.floor(v / np.sqrt(acc) * 127.0 + 0.5)) if v >= 0
                else -int(np.floor(-v / np.sqrt(acc) * 127.0 + 0.5)) for v in x]
        assert got[i] == want, i
    # codes bounded by construction
    assert all(all(-127 <= c <= 127 for c in cs) for cs in got.values())


def test_int8_topk_recall_vs_float(spark):
    rng = np.random.default_rng(12)
    emb = rng.standard_normal((300, 32)).astype(np.float32)
    corpus = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(300, dtype=np.int64), "embedding": list(map(list, emb))})
    )
    queries = spark.createDataFrame(
        pd.DataFrame({"query_id": np.arange(5, dtype=np.int64),
                      "query_vec": [emb[i].tolist() for i in range(5)]})
    )
    exact = similarity.brute_force_topk(corpus, queries, k=5)
    quant = similarity.int8_topk(corpus, queries, k=5)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    q = {(r["query_id"], r["vec_id"]) for r in quant.collect()}
    # int8 at dim 32 perturbs ranks only marginally: >= 80% recall@5,
    # and the self-vector (cosine 1.0) must stay the top-1
    assert len(e & q) / len(e) >= 0.8
    top1 = {r["query_id"]: r["vec_id"] for r in quant.collect() if r["rank"] == 1}
    assert top1 == {i: i for i in range(5)}


def test_int8_zero_vectors_dropped(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": [1, 2], "embedding": [[0.0, 0.0], [1.0, 0.0]]})
    )
    assert [r["vec_id"] for r in similarity.quantize_int8(df).collect()] == [2]


def test_incremental_dedup_classification(spark):
    from gdal_vfr_spark.operators.dedup import incremental_dedup

    long_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    long_b = "one two three four five six seven eight nine ten eleven " * 5
    hist = spark.createDataFrame(
        [(1, long_a), (2, long_b)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            (10, long_a),            # exact copy of history doc 1
            (11, long_a + " tail"),  # near-dup of history doc 1
            (12, "entirely novel content with fresh vocabulary words " * 5),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["status"]
        for r in incremental_dedup(hist, batch).collect()
    }
    assert got == {10: "exact", 11: "near", 12: "kept"}


def test_incremental_dedup_batch_not_self_deduped(spark):
    """Two identical docs INSIDE the new batch must both be 'kept' when
    history has nothing like them — incremental dedup classifies
    against history only (in-batch dedup is exact_dedup's job)."""
    from gdal_vfr_spark.operators.dedup import incremental_dedup

    text = "repeated in batch only with these particular tokens " * 5
    hist = spark.createDataFrame(
        [(1, "some old historical document speaking of other things " * 5)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(10, text), (11, text)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["status"]
        for r in incremental_dedup(hist, batch).collect()
    }
    assert got == {10: "kept", 11: "kept"}


def test_epoch_upsample_semantics(spark):
    from gdal_vfr_spark.operators.sampling import epoch_upsample, hash_bucket_expr

    df = spark.createDataFrame(
        [(i, "wiki" if i < 50 else "web") for i in range(100)],
        "doc_id long, source string",
    )
    up = epoch_upsample(df, {"wiki": 2.5, "web": 0.3})
    rows = up.groupBy("doc_id", "source").count().collect()
    per_doc = {r["doc_id"]: r["count"] for r in rows}
    # wiki docs: 2 or 3 copies; web docs appear 0 or 1 times
    extra = {
        r["doc_id"]: r["b"]
        for r in df.select(
            "doc_id", hash_bucket_expr(F.col("doc_id")).alias("b")
        ).collect()
    }
    for i in range(100):
        if i < 50:
            want = 2 + (1 if extra[i] < int(0.5 * (1 << 32)) else 0)
            assert per_doc[i] == want, i
        else:
            want = 1 if extra[i] < int(0.3 * (1 << 32)) else 0
            assert per_doc.get(i, 0) == want, i
    # partitioning invariance: identical multiset after a repartition
    a = sorted((r["doc_id"], r["copy_idx"]) for r in up.collect())
    b = sorted(
        (r["doc_id"], r["copy_idx"])
        for r in epoch_upsample(df.repartition(7), {"wiki": 2.5, "web": 0.3}).collect()
    )
    assert a == b


def test_repetition_stats_hand_computed(spark):
    # doc 1: "a b a b a b" -> 6 words, chars 6, distinct 2; bigrams:
    # "a b" x3 (cov 3*2=6), "b a" x2 (cov 4); top2_chars = 6.
    # No 5-gram repeats (only 2 distinct 5-grams, each once).
    # doc 2: "x y z w v x y z w v x y z w v" -> every one of the 5
    # rotated 5-grams repeats ("x y z w v" 3x, the other four 2x):
    # dup5_chars = (3 + 2*4) * 5 = 55 >> 15% of word_chars -> keep=0.
    # doc 3: 40 unique words, no repetition -> keep=1 (a doc must be
    # long enough that one unique bigram is under 20% of its chars —
    # a 7-word doc fails the bar structurally, like Gopher's own
    # fraction filters on tiny docs). doc 4: empty -> dropped.
    rows = [
        (1, "a b a b a b"),
        (2, "x y z w v x y z w v x y z w v"),
        (3, " ".join(f"w{i}" for i in range(40))),  # 40 unique words
        (4, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r.asDict() for r in text.repetition_stats(df).collect()}
    assert set(out) == {1, 2, 3}
    d1 = out[1]
    assert (d1["n_words"], d1["word_chars"], d1["distinct_words"]) == (6, 6, 2)
    assert d1["top2_chars"] == 6  # "a b" 3x, 2 chars sans space
    assert d1["dup5_chars"] == 0
    assert d1["keep_repetition"] == 0  # 6*5 > 6
    d2 = out[2]
    assert d2["n_words"] == 15 and d2["word_chars"] == 15
    assert d2["dup5_chars"] == 55  # (3 + 2*4) repeats * 5 chars
    assert d2["keep_repetition"] == 0
    d3 = out[3]
    assert d3["dup5_chars"] == 0 and d3["top2_chars"] > 0
    assert d3["keep_repetition"] == 1
    # partitioning invariance
    again = {
        r["doc_id"]: r.asDict()
        for r in text.repetition_stats(df.repartition(5)).collect()
    }
    assert again == out


def test_exact_substring_spans_hand_computed(spark):
    # L=3 windows. docs 1/2/5 share runs "a b c" and "b c d"; doc 3
    # is a within-doc repeat (every 3-window occurs >= 2x); doc 4 is
    # all-unique (absent from output).
    rows = [
        (1, "a b c d e f"),
        (2, "x a b c d y"),
        (3, "m n o m n o m n o"),
        (4, "u1 u2 u3 u4"),
        (5, "a b c q1 q2 q3 q4 b c d"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r.asDict()
        for r in dedup.exact_substring_spans(df, window_tokens=3).collect()
    }
    assert set(out) == {1, 2, 3, 5}
    # doc 1: dup windows at starts 1,2 -> one span, tokens 1..4
    assert out[1] == dict(
        doc_id=1, n_words=6, n_dup_spans=1, n_dup_windows=2, dup_tokens=4
    )
    # doc 2: dup windows at starts 2,3 -> tokens 2..5
    assert out[2] == dict(
        doc_id=2, n_words=6, n_dup_spans=1, n_dup_windows=2, dup_tokens=4
    )
    # doc 3: all 7 windows repeat within-doc -> whole doc covered
    assert out[3] == dict(
        doc_id=3, n_words=9, n_dup_spans=1, n_dup_windows=7, dup_tokens=9
    )
    # doc 5: TWO disjoint spans (tokens 1..3 and 8..10)
    assert out[5] == dict(
        doc_id=5, n_words=10, n_dup_spans=2, n_dup_windows=2, dup_tokens=6
    )
    # partitioning invariance
    again = {
        r["doc_id"]: r.asDict()
        for r in dedup.exact_substring_spans(
            df.repartition(7), window_tokens=3
        ).collect()
    }
    assert again == out
    with pytest.raises(ValueError):
        dedup.exact_substring_spans(df, window_tokens=1)


def test_exact_substring_spans_skewed_hash_plan(spark):
    # Round-4 verdict item 1: one boilerplate n-gram shared by ~10^5
    # docs (the cookie-banner case). The duplicate-marking must carry
    # MAP-SIDE partial aggregation on the window hash and must NOT be
    # a window partitioned by it — a window partition is un-splittable
    # (no partial agg, no AQE skew split), so a hot hash would pile
    # every occurrence into one task at 100x scale.
    boiler = "we use cookies to improve your browsing experience"
    docs = spark.range(100_000).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit(boiler + " page "), F.col("id").cast("string")
        ).alias("text"),
    )
    out = dedup.exact_substring_spans(docs, window_tokens=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # every Window operator partitions by the doc id (island logic),
    # never by the content hash h
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "h#" not in line, line
    # the duplicate-hash marking is a map-side-combined aggregate
    assert "partial_count" in plan
    # correctness on the skewed input: each doc is 10 tokens
    # (8 boiler + "page" + unique id); windows at starts 1 and 2 are
    # shared by all docs, start 3 is unique -> one span, tokens 1..9
    sample = {
        r["doc_id"]: r.asDict()
        for r in out.where(F.col("doc_id").isin(0, 42, 99_999)).collect()
    }
    assert len(sample) == 3
    for r in sample.values():
        assert r["n_words"] == 10
        assert r["n_dup_spans"] == 1
        assert r["n_dup_windows"] == 2
        assert r["dup_tokens"] == 9


def test_pipeline_clean_reason_precedence(spark):
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entry", "/root/repo/__spark_entry__.py"
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    out = entry.q_pipeline_clean(spark, "/root/testdata/sf0.001").collect()
    n_docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).count()
    # partition of the corpus: every doc lands in exactly one bucket
    assert sum(r["n_docs"] for r in out) == n_docs
    reasons = {r["reason"] for r in out}
    assert "kept" in reasons and reasons <= {
        "kept", "duplicate", "low_quality", "repetitive"
    }


def test_lsh_max_bucket_component_preserving(spark):
    """A hot template cluster (60 near-identical docs, every band
    co-buckets) plus organic near-dup pairs: the capped run must emit
    O(B) star rows for the hot bucket — never O(B^2) — while keeping
    EXACTLY the uncapped run's connected components (the dedup
    consumers' contract), and matching it pair-for-pair on small
    buckets."""
    template = "cookie banner accept all manage preferences privacy policy terms"
    rows = [(i, f"{template} v{i % 7}") for i in range(60)]
    rows += [
        (100, "the quick brown fox jumps over the lazy dog in the park"),
        (101, "the quick brown fox jumps over the lazy dog in the yard"),
        (200, "completely different text about database systems and queries"),
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    uncapped = dedup.minhash_lsh_pairs(docs, num_hashes=16, bands=8)
    capped = dedup.minhash_lsh_pairs(docs, num_hashes=16, bands=8, max_bucket=8)
    n_un, n_cap = uncapped.count(), capped.count()
    assert n_un > 60 * 59 // 2  # the blowup the cap exists to avoid
    assert n_cap < 60 * 3  # star rows: O(B), not O(B^2)

    def comps(pairs):
        cc = dedup.connected_components(pairs.select("id_a", "id_b"))
        return sorted((r[0], r[1]) for r in cc.collect())

    assert comps(capped) == comps(uncapped)
    # small buckets keep exact all-pairs output (same ids AND estimates)
    hot = {r["doc_id"] for r in docs.where("doc_id < 100").collect()}
    small_cap = sorted(
        tuple(r) for r in capped.collect() if r["id_a"] not in hot
    )
    small_un = sorted(
        tuple(r) for r in uncapped.collect() if r["id_a"] not in hot
    )
    assert small_cap == small_un


def test_clean_lines_rules(spark):
    """Each C4 line rule fires independently: word count, terminal
    punctuation, marker substrings; survivors keep their order and
    keep_doc reflects min_lines."""
    from gdal_vfr_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": [
                    "A good first line.\nEnable javascript now.\n"
                    "short stub\nAnother good line!\nNo punct here at all",
                    "We use cookie banners.\nnav",
                ],
            }
        )
    )
    out = {r["doc_id"]: r for r in text_ops.clean_lines(docs).collect()}
    assert out[1]["n_lines"] == 5 and out[1]["n_kept"] == 2
    assert out[1]["clean_text"] == "A good first line.\nAnother good line!"
    assert out[1]["keep_doc"] == 1
    # doc 2: line 1 has a marker, line 2 fails word count -> doc dies
    assert out[2]["n_kept"] == 0 and out[2]["keep_doc"] == 0
    assert out[2]["clean_text"] == ""


def test_strip_boilerplate_lines(spark):
    """Lines in >= min_docs DISTINCT docs are stripped everywhere
    (a within-doc repeat alone does not qualify), survivor order is
    preserved, and a fully-boilerplate doc returns empty, not absent."""
    from gdal_vfr_spark.operators import dedup as dd

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "unique alpha\nAll rights reserved.\nunique beta",
                    "All rights reserved.\nonly here\nonly here",
                    "All rights reserved.",
                ],
            }
        )
    )
    out = {
        r["doc_id"]: r
        for r in dd.strip_boilerplate_lines(docs, min_docs=2).collect()
    }
    assert out[1]["clean_text"] == "unique alpha\nunique beta"
    assert out[1]["n_kept_lines"] == 2
    # 'only here' repeats WITHIN doc 2 but exists in only 1 doc -> kept
    assert out[2]["clean_text"] == "only here\nonly here"
    assert out[2]["n_kept_lines"] == 2
    assert out[3]["clean_text"] == "" and out[3]["n_kept_lines"] == 0


def test_pipeline_clean_full_gate_precedence(spark):
    """The widened cleaning verdict (blocklist -> line rules -> dedup
    -> quality -> repetition) partitions every doc into exactly one
    reason, reasons stay within the 6-value contract, and the
    round-5 gates actually fire on the sf0.001 fixture."""
    rows = entry.q_pipeline_clean_full(spark, "/root/testdata/sf0.001").collect()
    total = sum(r["n_docs"] for r in rows)
    n_docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).count()
    assert total == n_docs  # a partition, not a filter
    reasons = {r["reason"] for r in rows}
    assert reasons <= {
        "blocked_domain", "no_clean_lines", "duplicate",
        "low_quality", "repetitive", "kept",
    }
    assert "kept" in reasons and "blocked_domain" in reasons
    assert "no_clean_lines" in reasons


def test_semantic_dedup_matches_numpy_rule(spark):
    """SemDeDup drop rule cross-checked against a from-scratch numpy
    recompute: same centroids (via kmeans_centroids — already pinned
    partition-invariant above), same assignment, same relational rule
    (drop x iff a same-cluster y has cos>=tau and lower centroid
    similarity, id tie-break). Also: survivors + dropped partition the
    corpus, and the partitioning of the input does not change the
    result."""
    import numpy as np

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    tau = 0.4
    got = similarity.semantic_dedup(emb, threshold=tau).collect()
    survivors = {r["vec_id"] for r in got}
    cids = {r["vec_id"]: r["cid"] for r in got}

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    E = np.array([[float(x) for x in r["embedding"]] for r in rows])
    cents = similarity.kmeans_centroids(emb, k=8, n_iter=2)
    C = np.array([c for _, c in cents])
    # numpy assignment mirrors the per-dim fold order closely enough
    # at sf0.001 that argmin agrees (ties impossible in the fixture)
    d = ((E[:, None, :] - C[None, :, :]) ** 2).sum(-1)
    a = d.argmin(1)
    nrm = np.sqrt((E * E).sum(1))
    cn = np.sqrt((C * C).sum(1))
    cs = (E * C[a]).sum(1) / (nrm * cn[a])
    expect = set()
    for i in range(len(ids)):
        dropped = False
        for j in np.where(a == a[i])[0]:
            if j == i:
                continue
            cos = float(E[i] @ E[j] / (nrm[i] * nrm[j]))
            if cos >= tau and (
                cs[j] < cs[i] or (cs[j] == cs[i] and ids[j] < ids[i])
            ):
                dropped = True
                break
        if not dropped:
            expect.add(int(ids[i]))
    assert survivors == expect
    assert len(survivors) < len(ids)  # the drop branch fired
    for vid, cid in cids.items():
        assert cid == int(a[ids.tolist().index(vid)])
    # partition invariance (fixed-point centroids + map-only assign)
    got13 = {
        r["vec_id"]
        for r in similarity.semantic_dedup(
            emb.repartition(13), threshold=tau
        ).collect()
    }
    assert got13 == survivors
    # the blocking cannot change the rule (block=7 forces splits);
    # exactness against the DuckDB twin is the dedup_semantic oracle in
    # tests/test_oracle.py, which runs these same parameters
    grouped = sorted((r["vec_id"], r["cid"]) for r in got)
    blocked = sorted(
        (r["vec_id"], r["cid"])
        for r in similarity.semantic_dedup(emb, threshold=tau, block=7).collect()
    )
    assert blocked == grouped
    # hot-cluster skew path == grouped path, bit-for-bit: a 50-row
    # threshold forces every cluster (53-71 members) through the
    # broadcast map-side kernel
    hot = sorted(
        (r["vec_id"], r["cid"])
        for r in similarity.semantic_dedup(
            emb, threshold=tau, hot_cluster_rows=50
        ).collect()
    )
    assert hot == grouped


def test_cosine_near_dup_pairs_kernel_parity(spark):
    # the per-bucket numpy kernel must equal the DuckDB twin
    # (_duck_srp_near_dup_sql) bit for bit — same pairs AND same
    # float64 cosines. n_planes=1 -> 2 fat buckets; block=16 forces
    # multi-block (diagonal + off-diagonal) accumulation inside each
    # bucket.
    rng = np.random.default_rng(11)
    emb = rng.standard_normal((120, 16)).astype(np.float32)
    emb[50] = emb[10] + 1e-4  # planted near-dup
    emb[60] = emb[10] * 1.7  # same direction, different scale
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": np.arange(120, dtype=np.int64),
                "embedding": list(map(list, emb)),
            }
        )
    )
    fast = similarity.cosine_near_dup_pairs(
        df, threshold=0.3, dim=16, n_planes=1, block=16
    ).collect()
    want = _duck(
        duck_sql._duck_srp_near_dup_sql(threshold=0.3, n_planes=1, dim=16), embeddings=df
    )
    f = {(r["id_a"], r["id_b"]): r["cosine"] for r in fast}
    s = {
        (int(a), int(b)): float(c)
        for a, b, c in zip(want["id_a"], want["id_b"], want["cosine"])
    }
    assert len(f) > 10  # the planted dups and random >=0.3 pairs exist
    assert f == s  # exact float equality: bit-identical fold order


def test_repetition_stats_arrow_equals_expr(spark, docs):
    # the map-only Arrow path must match its DuckDB twin expression
    # (_duck_repetition_sql, the tagged-explode shape) row for row
    # (integer-exact budgets)
    fast = text.repetition_stats(docs)
    want = _duck(duck_sql._duck_repetition_sql(), documents=docs)[fast.columns]
    got = sorted(map(tuple, fast.collect()))
    assert got == sorted(tuple(int(v) for v in r) for r in want.itertuples(index=False))
    assert len(got) == 6  # empty doc dropped


def test_quality_lang_arrow_equals_expr(spark, docs):
    # the Arrow pandas-UDF paths for with_quality / with_lang_id must
    # equal their DuckDB twin expressions (_duck_quality_sql /
    # _duck_lang_sql) exactly, on the docs rows and on crafted null,
    # empty, digits-only and length-saturating rows.
    rows = [
        (1, "the quick brown fox jumps over the lazy dog in the park"),
        (2, "der schnelle braune fuchs und die katze ist mit dem hund"),
        (3, "v praze je krasne a na veceri se tesime do restaurace"),
        (4, "le chat est dans la maison et les enfants du parc"),
        (5, ""),
        (6, None),
        (7, "zzz 123 456 --- !!!"),
        (8, " ".join(f"w{i}" for i in range(150))),  # saturates length
    ]
    crafted = spark.createDataFrame(rows, ["doc_id", "text"])
    for df in (docs, crafted):
        fq = {r["doc_id"]: r["quality"] for r in text.with_quality(df).collect()}
        wq = _duck(duck_sql._duck_quality_sql(), documents=df)
        assert fq == {
            int(d): float(q) for d, q in zip(wq["doc_id"], wq["quality"])
        }  # exact float equality
        fl = {r["doc_id"]: r["lang_pred"] for r in text.with_lang_id(df).collect()}
        wl = _duck(duck_sql._duck_lang_sql(), documents=df)
        assert fl == dict(zip(wl["doc_id"].astype(int), wl["lang_pred"]))
    assert fq[6] == 0.4 and fl[6] == "und"  # null text


def test_int8_topk_matmul_equals_expr(spark):
    # the int64-matmul scorer must equal the DuckDB twin expression
    # (_duck_int8_topk_sql) exactly (integer dots are order-free-exact)
    rng = np.random.default_rng(21)
    emb = rng.standard_normal((200, 16)).astype(np.float32)
    corpus = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": np.arange(200, dtype=np.int64), "embedding": list(map(list, emb))}
        )
    )
    q = corpus.where("vec_id < 4").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    fast = similarity.int8_topk(corpus, q, k=5).collect()
    want = _duck(duck_sql._duck_int8_topk_sql(k=5, n_queries=4), embeddings=corpus)
    assert sorted(map(tuple, fast)) == sorted(
        tuple(int(v) for v in r) for r in want.itertuples(index=False)
    )
    assert len(fast) == 20
