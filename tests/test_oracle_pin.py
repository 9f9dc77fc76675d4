"""Pins the DuckDB oracle texts and the queries() order.

Every oracle_sql() string must stay byte-identical when its builders
move or are refactored: a changed oracle would silently change what
tests/test_oracle.py certifies. A correctness run of this contract
records only the first 50 queries() keys, so their order is pinned too."""

import hashlib

import __spark_entry__ as entry

# queries() key -> sha256(oracle_sql()[key])[:16], in queries() order
PINNED = {
    "web_cap_per_domain": "a5a5af6fc68dc1ad",
    "s4_formats": "1c7aaf4bbc93cfba",
    "f9_dsn_extract": "53d232795cc126c0",
    "f5_key_synthesis": "1845c437245361a3",
    "a5_max_fid": "773aa15e64571f6a",
    "p2_key_lookup": "a3a9f5169681b7d7",
    "m3_merge_state": "f75547ab25d13fb8",
    "so2_union": "e7fe751c594b02cc",
    "a1_pricing_summary": "3d3b8734e0eac93a",
    "a2_presence": "7ada64c1ea016416",
    "a4_null_tally": "6a59bf9a9d0b5579",
    "j1_classify": "309a6aa570a63c56",
    "j2_tombstone_anti": "cab1943ef030a7d7",
    "j3_dedup_window": "4232ca9dcca204ee",
    "p4_coalesce_chain": "3f5765708c77080a",
    "so1_symmetric_diff": "187a57dc894f95f8",
    "sort_topk": "b72a2242a87989ee",
    "window_rank": "35a2846ee2073c7f",
    "f_dates": "9d1b99c106bd020d",
    "f_interval_expand": "9b014a8f31c69681",
    "f_json_extract": "a20fb35f0fe7184c",
    "embedding_near_dup": "106976b9e072518a",
    "text_repetition": "cd8722fac7dfb088",
    "text_quality": "3a9e35778e9952af",
    "text_lang": "43dfd7f117aba7da",
    "pipeline_clean": "c23ce0c8ed2b3686",
    "pipeline_clean_full": "74846871f06c88ff",
    "pipeline_e2e": "f196b2f22a2f7349",
    "text_extract": "cd73ce3059fd0bfb",
    "ann_int8_topk": "d4dd7598e58eb0ca",
    "ann_topk": "864ebd0978d15008",
    "sketch_cms_topk": "63d6e21cf33ae8d4",
    "sketch_hll_distinct": "6f808ca4f99fb31b",
    "sketch_hll_by_source": "e2a9e37b4b50b7e6",
    "dedup_semantic": "7647718c9255259e",
    "dedup_minhash_lsh": "25799f656da7782f",
    "dedup_lsh_star": "f3a4a0d701db9fde",
    "dedup_ngram_jaccard": "f786175f06d6149f",
    "dedup_incremental": "6f0a798a6ea0b12e",
    "dedup_exact_substring": "0fa11e6288b35c25",
    "text_bm25_topk": "9402ec39fcaa5d1b",
    "web_url_canonicalize": "f96202ba7100c539",
    "geo_knn": "e22151a3ce546fc7",
    "geo_knn_lines": "0afdea967dda4054",
    "geo_knn_lines_large": "8ac8d1732f330676",
    "geo_range_join": "e988d783e8b63494",
    "geo_pip_hierarchy3": "236dc2ca8eda79b1",
    "dedup_cc": "d8e58b9ec81d4267",
    "dedup_keep_best": "4f95028fb7951913",
    "dedup_representatives": "8762711a500d96e6",
    "multimodal_meta": "50dd70b64086652e",
    "multimodal_frames": "fd359c95213cb0c5",
    "sketch_bottomk_quantiles": "ecab7b6de82e8506",
    "web_blocklist": "24f388d4a3fa3cf4",
    "text_clean_lines": "3b562b17f8c89b19",
    "dedup_strip_boilerplate": "12d9515922e8aa69",
    "dedup_decontaminate_bloom": "360ffa1de35d1086",
    "stream_dedup": "23d1ae731ac7af48",
    "stream_minhash_dedup": "1082cbcc4a3c67e8",
    "stream_first_per_ttl": "a20c092724e3ad59",
    "stream_sessionize": "aa94c9d3a1374d01",
    "a3_change_tally": "fab8187639a2195c",
    "stream_change_merge": "db6bb1b6732bb208",
    "skew_salted_count": "8b75739e4757fbf1",
    "stream_window_counts": "84c1456350fe7d50",
    "stream_pip_counts": "36fac9f48073ee40",
    "skew_salted_join": "1196f110e3ae93f7",
    "p1_layer_select": "65e5f8d5e3a6097e",
    "p5_list_downgrade": "8be8a1169f17f645",
    "f7_regex_extract": "9dd5a7dcdc1d10b0",
    "p6_align_schema": "2fd94e6d83d50ae5",
    "geo_pip_parcely_large": "72438b510ae835f4",
    "w_sessionize": "6ef747d9afaae8fd",
    "graph_pagerank": "8e916f7231c0cd21",
    "geo_range_join_large": "68c98f3ec096227a",
    "sample_temperature": "0f2cbdb48d98d590",
    "text_quantiles": "d88fd3648f2708ec",
    "geo_pip_hierarchy_parcel": "7d8278209e3b5ec2",
    "a2_wkb_validity": "31001e3fec6d077f",
    "geo_tile_bbox_read": "e40a3cf5e36574f7",
    "ann_lsh_topk": "9f3d2195799cd1a7",
    "ann_ivf_topk": "1e30d8693d45425a",
    "ann_ivf_indexed": "1e30d8693d45425a",
    "embedding_near_dup_exact": "194af5dc6a5db484",
    "geo_pip_hierarchy": "36fac9f48073ee40",
    "asof_join": "7e1b893cd70b7ed3",
    "web_domain_stats": "dc2c063474c7bcbd",
    "m1_mode_dispatch": "0483fb79c0f66b93",
    "s6_sink_toggles": "7230633d1f8cc6e9",
    "s2_retry_plan": "d65534ad228d6e2d",
    "s7_export_fanout": "f6608b102e11431d",
    "p7_layer_names": "18295bf8b344b96d",
    "m2_forced_drop": "b944c6070f82210f",
    "m4_schema_per_file": "0b5049430bcd8559",
    "geo_knn_points_large": "94ae509d02e26993",
    "multimodal_decode": "48322ee496b71a47",
    "stream_decontaminate": "22e4483a84517ff6",
    "dedup_decontaminate": "360ffa1de35d1086",
    "sketch_histogram": "30394a367a2985ce",
    "geo_shape_stats": "4162efe218cf6127",
    "sample_epochs": "8650f13a1aaa3f86",
    "w_tumbling_hour": "84c1456350fe7d50",
    "geo_pip_counts": "36fac9f48073ee40",
    "geo_pip_rows": "d584c3cf5f1ffd37",
    "a2_wkb_presence": "a46e9dcf188c2839",
    "p4_wkb_coalesce": "66ad49e596d326c4",
    "geo_tile_counts": "9e595ffe804c03af",
    "dedup_exact": "61a7544c46422079",
    "dedup_simhash": "40d1372aed844780",
    "text_tokens": "775a92701a90f364",
    "text_vocab": "3b06c27d388e93b3",
    "text_pii_scrub": "e4b0dda5f0d907ab",
    "text_pack_bins": "1fd7c82db32f32d8",
    "text_chunks": "d36e1229ca2faec6",
    "text_source_stats": "85f9cc93ed0e9af7",
    "sample_stratified": "c7799170ec93850b",
    "text_fingerprint": "cbec1fc26fd5dd75",
    "geo_tile_join": "e44c06ccf665f046",
}


def _digest(sql: str) -> str:
    return hashlib.sha256(sql.encode()).hexdigest()[:16]


def test_oracle_sql_unchanged():
    got = {name: _digest(sql) for name, sql in entry.oracle_sql().items()}
    assert sorted(got) == sorted(PINNED)
    oracle_changed = sorted(n for n in PINNED if got[n] != PINNED[n])
    assert oracle_changed == []


def test_queries_order_unchanged():
    assert list(entry.queries()) == list(PINNED)
