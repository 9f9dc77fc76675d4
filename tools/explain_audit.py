"""Physical-plan audit: for each headline query, record the formatted
plan and check the scale-critical properties SURVEY.md §4 calls out:

- parquet scans are column-pruned (ReadSchema carries only used cols)
- filters reach the scan (PushedFilters) where applicable
- small dimension sides broadcast (BroadcastHashJoin, no SMJ surprises)
- no more Arrow boundaries (ArrowEvalPython / mapInPandas) than the
  operator design requires
- WholeStageCodegen spans exist (not everything interpreted)

Writes PLANS.md at the repo root. Usage: python tools/explain_audit.py
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from gdal_vfr_spark import get_spark

AUDIT = [
    ("a1_pricing_summary", dict(max_python=0, max_shuffles=2)),
    ("j1_classify", dict(max_python=0, max_shuffles=3)),
    ("j2_tombstone_anti", dict(max_python=0, max_shuffles=2)),
    ("geo_pip_counts", dict(max_python=1, want_broadcast=True, max_shuffles=2)),
    ("geo_pip_rows", dict(max_python=1, want_broadcast=True, max_shuffles=0)),
    # round-6: +1 small-input spread exchange before the point kernel
    ("geo_knn", dict(max_python=1, max_shuffles=1)),
    ("geo_knn_lines", dict(max_python=1, max_shuffles=2)),
    ("geo_pip_hierarchy3", dict(max_python=1, want_broadcast=True, max_shuffles=3)),
    ("a2_wkb_presence", dict(max_python=0, max_shuffles=1)),
    ("p4_wkb_coalesce", dict(max_python=0, max_shuffles=1)),
    # round-6: the per-bucket numpy pair kernel IS a python boundary now
    # (FlatMapGroupsInPandas replaced the B^2 Catalyst fold self-join)
    ("embedding_near_dup", dict(max_python=1, max_shuffles=2)),
    ("geo_tile_counts", dict(max_python=0, max_shuffles=2)),
    ("dedup_exact", dict(max_python=0, max_shuffles=2)),
    # minhash: the signature UDF is materialized ONCE into the cache
    # (eager persist); the printed plan repeats the cached relation's
    # build subtree under both cache-reading branches with distinct ids,
    # so 2 plan occurrences = 1 execution.
    ("dedup_minhash_lsh", dict(max_python=2, max_shuffles=4)),
    # round-6: Arrow pandas-UDF scorer + small-input spread
    ("text_lang", dict(max_python=1, max_shuffles=2)),
    ("ann_topk", dict(max_python=0, want_broadcast=True, max_shuffles=3)),
    ("w_tumbling_hour", dict(max_python=0, max_shuffles=2)),
    ("text_extract", dict(max_python=0, max_shuffles=3)),
    ("geo_tile_join", dict(max_python=0, want_broadcast=True, max_shuffles=3)),
    ("asof_join", dict(max_python=0, max_shuffles=3)),
    ("a3_change_tally", dict(max_python=0, max_shuffles=2)),
    # round-6: quality + lang Arrow scorers join the PIP refine (3 python)
    ("pipeline_e2e", dict(max_python=3, want_broadcast=True, max_shuffles=3)),
    ("skew_salted_join", dict(max_python=0, max_shuffles=4)),
    ("skew_salted_count", dict(max_python=0, max_shuffles=3)),
    # IVF: 2 Arrow boundaries (corpus assignment + query probe); corpus
    # side is map-only into the broadcast probe join, then rank window
    ("ann_ivf_topk", dict(max_python=2, want_broadcast=True, max_shuffles=3)),
    ("ann_lsh_topk", dict(max_python=0, want_broadcast=True, max_shuffles=3)),
    # dedup_cc's returned plan is shallow (labels come from a
    # localCheckpoint cut); budget covers the docs-side left join + sort
    ("dedup_cc", dict(max_python=1, max_shuffles=4)),
    # URL analytics: pure projections into one hash agg / one window.
    # domain_stats carries count(DISTINCT host): the canonical two-phase
    # distinct aggregate (partial by (domain, host), final by domain) is
    # 2 agg exchanges + the contract orderBy = 3
    ("web_domain_stats", dict(max_python=0, max_shuffles=3)),
    ("web_cap_per_domain", dict(max_python=0, max_shuffles=2)),
    # partitioned PIP: Python boundaries are the distributed index build
    # (parcel WKB gen + cover + groups mapInPandas, all O(dimension)) +
    # ONE cogrouped refine, called once per shuffle bucket
    # (geo/halo.py); the PAGE side stays map-only into the broadcast
    # cover join — only the boundary-cell slice shuffles (cogroup pair,
    # hashed on the bucket key instead of the group key: same exchange
    # count) before the final agg + contract orderBy. No driver-side
    # collect of the dimension anywhere in the plan.
    ("geo_pip_parcely_large", dict(max_python=5, want_broadcast=True, max_shuffles=5)),
    # decontamination: bench shingle set broadcast; python = the two
    # word-shingle Arrow passes (corpus + bench side, round-4 floor
    # work; checked against the DuckDB twin in pytest); shuffles =
    # 2 small-input round-robin rebalances (never fire at production
    # partition counts), bench distinct, per-doc count agg, orderBy
    ("dedup_decontaminate", dict(max_python=2, want_broadcast=True, max_shuffles=5)),
    ("web_url_canonicalize", dict(max_python=0, max_shuffles=2)),
    # bm25: ONE corpus scan. Corpus-sized exchanges: tf agg, dl window
    # (doc key), df window (term key, pruned slice), score agg, top-k
    # window, contract orderBy = 6; the other 2 counted exchanges are
    # distinct-aggs over the 9-row literal query-terms frame (one per
    # broadcast branch) — constant-size, not scale-relevant
    # round-6: the per-doc token arrays are persisted (one tokenize
    # pass feeds tf AND the avgdl stats); the cached relation's build
    # subtree — including its spread exchange — prints once per
    # cache-reading branch, so plan occurrences over-count executions
    # (the minhash note below applies)
    ("text_bm25_topk", dict(max_python=0, want_broadcast=True, max_shuffles=10)),
    ("w_sessionize", dict(max_python=0, max_shuffles=4)),
    # pagerank's returned plan is shallow (localCheckpoint per round,
    # like dedup_cc); budget covers the final left join + orderBy
    ("graph_pagerank", dict(max_python=0, max_shuffles=4)),
    # partitioned line-range join: python boundaries = street WKB gen +
    # group-table build (both O(dimension)) + ONE cogrouped refine,
    # called once per shuffle bucket; points drop map-side on the
    # broadcast presence set and shuffle once (cogroup pair on the
    # bucket key) + contract orderBy; knn_lines adds the rank window
    ("geo_range_join_large", dict(max_python=4, want_broadcast=True, max_shuffles=4)),
    ("geo_knn_lines_large", dict(max_python=4, want_broadcast=True, max_shuffles=5)),
    # temperature sampling: counts agg -> broadcast quotas -> rank
    # window -> contract orderBy (the quota branch re-reads the tiny
    # counts agg under its broadcast)
    ("sample_temperature", dict(max_python=0, want_broadcast=True, max_shuffles=5)),
    # quantiles: ONE window pass (rank + count share the partition),
    # exploded (p, target) filter, contract orderBy
    ("text_quantiles", dict(max_python=0, max_shuffles=3)),
    # parcel hierarchy = parcely_large plan (per-bucket refine) + an
    # integer FK projection
    ("geo_pip_hierarchy_parcel", dict(max_python=5, want_broadcast=True, max_shuffles=5)),
    # validity tally: one Arrow pass + one agg (the WKB decode IS the work)
    ("a2_wkb_validity", dict(max_python=1, max_shuffles=1)),
    # tile bbox read: partition-pruned scan -> one agg + contract orderBy;
    # PartitionFilters visibility is asserted in tests/test_tiles.py
    ("geo_tile_bbox_read", dict(max_python=0, max_shuffles=2)),
    # round-4 lifecycle contract queries: pure Catalyst projections
    # over one orders scan + the contract orderBy
    ("m1_mode_dispatch", dict(max_python=0, max_shuffles=1)),
    ("s6_sink_toggles", dict(max_python=0, max_shuffles=1)),
    ("s2_retry_plan", dict(max_python=0, max_shuffles=1)),
    # fan-out read-back: the returned plan is a LocalTableScan of the
    # per-dataset counts (the export writes ran imperatively) + sort
    ("s7_export_fanout", dict(max_python=0, max_shuffles=1)),
    ("p7_layer_names", dict(max_python=0, max_shuffles=1)),
    ("m2_forced_drop", dict(max_python=0, max_shuffles=1)),
    # M4: partition-pruned scan of the batch_id layout -> agg -> orderBy
    ("m4_schema_per_file", dict(max_python=0, max_shuffles=2)),
    # partitioned point-kNN: python = target-grid gen + group build
    # (both O(dimension)) + ONE cogrouped refine, called once per
    # shuffle bucket; points drop map-side on the broadcast presence
    # set, shuffle once (cogroup pair on the bucket key), then rank
    # window + contract orderBy
    ("geo_knn_points_large", dict(max_python=4, want_broadcast=True, max_shuffles=5)),
    # multimodal: synth + decode/stat passes are mapInPandas by design
    # (per-payload parsers); joins are broadcast at this row count
    ("multimodal_decode", dict(max_python=8, want_broadcast=True, max_shuffles=4)),
    # HLL: pure Catalyst; shuffle 1 = groupBy(idx) over <=256 keys
    # (map-side combined), shuffle 2 = the one-row summary agg
    ("sketch_hll_distinct", dict(max_python=0, max_shuffles=3)),
    # grouped HLL: same two aggregates keyed by (source, idx) /
    # (source), + the contract orderBy
    ("sketch_hll_by_source", dict(max_python=0, max_shuffles=4)),
    # log2 histogram: one map-side-combined groupBy + contract orderBy
    ("sketch_histogram", dict(max_python=0, max_shuffles=2)),
    # CMS: pure Catalyst; shuffles = counter groupBy (<=4096 keys,
    # map-side combined) + candidate distinct + estimate groupBy;
    # counter table broadcasts back, top-k is TakeOrdered
    ("sketch_cms_topk", dict(max_python=0, want_broadcast=True, max_shuffles=3)),
    # int8 ANN: pure Catalyst quantize + integer dot; query side
    # broadcasts, shuffles = rank window + contract orderBy
    # round-6: the int64-matmul scorer is ONE mapInPandas against the
    # collected query codes (the broadcast join disappeared with the
    # cross join it served); +1 spread exchange
    ("ann_int8_topk", dict(max_python=1, max_shuffles=3)),
    # shape stats: one Arrow decode pass per geometry column (2), then
    # the kod equi-join + contract orderBy
    ("geo_shape_stats", dict(max_python=2, max_shuffles=3)),
    # incremental dedup: one Arrow signature pass per side (2);
    # shuffles = history hash/band distincts, batch near distinct,
    # two classification left-joins, contract orderBy
    ("dedup_incremental", dict(max_python=2, max_shuffles=10)),
    # bloom decontamination: corpus Arrow shingle pass + the bench
    # pass, which is PERSISTED (built once, read back as
    # InMemoryTableScan by both the bloom build and the confirm join)
    # — the explain output serializes the cached relation's build plan
    # inline, so its 1 MapInPandas + 2 Exchanges are counted here
    # although they execute exactly once; live work is 2 python
    # boundaries / 7 shuffles
    ("dedup_decontaminate_bloom", dict(max_python=3, want_broadcast=True, max_shuffles=9)),
    # epoch upsample: pure Catalyst map-side explode; shuffles =
    # per-source agg partial/final + countDistinct expand step +
    # contract orderBy
    ("sample_epochs", dict(max_python=0, max_shuffles=3)),
    # repetition profile: pure Catalyst; shuffles = (doc,n,gram)
    # groupBy (map-side combined) + doc groupBy + final sort
    # round-6: map-only Arrow counter pass (1 python, spread + orderBy)
    ("text_repetition", dict(max_python=1, max_shuffles=3)),
    # exact-substring: window-hash exchange + doc-id exchange + final
    # sort; islands/span/doc aggs reuse the doc-id partitioning
    # round-6: +spread before the window build; h-agg/join/doc shuffles
    ("dedup_exact_substring", dict(max_python=0, max_shuffles=5)),
    # cleaning verdict: content-hash window + repetition's two aggs +
    # two doc_id joins + tiny rollup; all JVM
    # round-6: quality + repetition Arrow passes (2 python)
    ("pipeline_clean", dict(max_python=2, max_shuffles=8)),
    # capped-bucket LSH: minhash budget + the bucket-stats groupBy
    # (map-side combined, joined back — never a window) + the
    # small/star branch union's distinct; 2 of the 7 exchanges are the
    # cached signature relation's inline build plan (execute once)
    ("dedup_lsh_star", dict(max_python=2, max_shuffles=7)),
    # SemDeDup: TWO Arrow boundaries (map-only nearest-centroid
    # assignment + the per-cluster blocked-algebra drop rule), ONE
    # cid shuffle into the group task + the contract orderBy; the
    # O(B^2) pairwise term never materializes as rows
    ("dedup_semantic", dict(max_python=2, max_shuffles=2)),
    # bottom-k quantiles: stats agg exchange (broadcast back) + the
    # post-threshold window exchange (WindowGroupLimit-pre-limited);
    # final agg reuses the window's partitioning
    ("sketch_bottomk_quantiles", dict(max_python=0, max_shuffles=3)),
    # blocklist: suffix explode is map-side; rules distinct + final
    # (doc, host) agg + contract orderBy; rules side broadcasts
    ("web_blocklist", dict(max_python=0, want_broadcast=True, max_shuffles=4)),
    # line rules: one higher-order filter projection; the only
    # exchange is the contract orderBy
    ("text_clean_lines", dict(max_python=0, max_shuffles=1)),
    # boilerplate strip: (doc, hash) distinct + hash groupBy + hot-set
    # anti-join (broadcast) + doc reassembly agg + outer join back +
    # contract orderBy
    ("dedup_strip_boilerplate", dict(max_python=0, max_shuffles=7)),
    # 6-gate cleaning verdict: pipeline_clean's budget + the blocklist
    # suffix join (rules broadcast) + the clean_text dedup window +
    # per-gate doc_id joins; all JVM
    ("pipeline_clean_full", dict(max_python=2, want_broadcast=True, max_shuffles=12)),
    # ---- round-5 completeness sweep: every remaining batch query,
    # budgets pinned at the observed plan shape so ANY regression
    # (new shuffle, new Python boundary, lost broadcast) fails loudly.
    # Single-agg / single-window / projection queries:
    ("a2_presence", dict(max_python=0, max_shuffles=1)),
    ("a4_null_tally", dict(max_python=0, max_shuffles=1)),
    ("a5_max_fid", dict(max_python=0, max_shuffles=1)),
    ("f5_key_synthesis", dict(max_python=0, max_shuffles=1)),
    ("f7_regex_extract", dict(max_python=0, max_shuffles=2)),
    ("f9_dsn_extract", dict(max_python=0, max_shuffles=1)),
    ("f_dates", dict(max_python=0, max_shuffles=0)),
    ("f_interval_expand", dict(max_python=0, max_shuffles=0)),
    ("f_json_extract", dict(max_python=0, max_shuffles=2)),
    ("j3_dedup_window", dict(max_python=0, max_shuffles=1)),
    ("p1_layer_select", dict(max_python=0, max_shuffles=2)),
    ("p2_key_lookup", dict(max_python=0, max_shuffles=0)),  # pushed-filter point lookup
    ("p4_coalesce_chain", dict(max_python=0, max_shuffles=2)),
    ("p5_list_downgrade", dict(max_python=0, max_shuffles=1)),
    ("p6_align_schema", dict(max_python=0, max_shuffles=1)),
    ("s4_formats", dict(max_python=0, max_shuffles=1)),
    ("sample_stratified", dict(max_python=0, max_shuffles=1)),
    ("sort_topk", dict(max_python=0, max_shuffles=0)),  # TakeOrderedAndProject, no full sort
    ("window_rank", dict(max_python=0, max_shuffles=1)),
    ("text_chunks", dict(max_python=0, max_shuffles=1)),
    ("text_fingerprint", dict(max_python=0, max_shuffles=3)),
    ("text_pack_bins", dict(max_python=0, max_shuffles=2)),
    ("text_pii_scrub", dict(max_python=0, max_shuffles=1)),
    ("text_quality", dict(max_python=1, max_shuffles=2)),
    ("text_source_stats", dict(max_python=1, max_shuffles=3)),
    ("text_tokens", dict(max_python=0, max_shuffles=2)),
    ("text_vocab", dict(max_python=0, max_shuffles=1)),
    # set ops / merge lifecycle:
    ("so1_symmetric_diff", dict(max_python=0, max_shuffles=5)),
    ("so2_union", dict(max_python=0, max_shuffles=2)),
    ("m3_merge_state", dict(max_python=0, want_broadcast=True, max_shuffles=4)),
    ("dedup_keep_best", dict(max_python=1, max_shuffles=5)),
    # near-dup variants: banded/blocked joins, Arrow only at the
    # signature pass (checked against the DuckDB twins in pytest)
    ("dedup_simhash", dict(max_python=1, max_shuffles=1)),
    ("dedup_ngram_jaccard", dict(max_python=2, want_broadcast=True, max_shuffles=4)),
    ("dedup_representatives", dict(max_python=2, want_broadcast=True, max_shuffles=6)),
    ("embedding_near_dup_exact", dict(max_python=0, want_broadcast=True, max_shuffles=1)),
    # ANN serving shape: partition-pruned probe scan + broadcast query
    ("ann_ivf_indexed", dict(max_python=1, want_broadcast=True, max_shuffles=2)),
    # geo variants: Arrow only at the winding/segment refine
    ("geo_pip_hierarchy", dict(max_python=1, want_broadcast=True, max_shuffles=2)),
    ("geo_range_join", dict(max_python=1, max_shuffles=2)),
    # multimodal meta/frames: synth pass + decode pass (mapInPandas by
    # design — per-payload parsers), one agg/sort exchange
    ("multimodal_frames", dict(max_python=2, max_shuffles=1)),
    ("multimodal_meta", dict(max_python=2, max_shuffles=1)),
]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("explain_audit", extra_conf={"spark.ui.showConsoleProgress": "false"})
    qs = entrymod.queries()
    sections = ["# PLANS — physical-plan audit (generated by tools/explain_audit.py)\n"]
    problems = []
    for name, want in AUDIT:
        # explain-only variants expose plans that the production path
        # hides behind an execution-time localCheckpoint
        variants = getattr(entrymod, "plan_variants", dict)()
        df = (variants.get(name) or qs[name])(spark, sf_dir)
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        # Count UNIQUE operator ids: `explain("formatted")` prints every
        # operator twice (tree + numbered details), and cached
        # InMemoryRelation subtrees repeat wholesale — raw substring counts
        # double/multiply-count Python boundaries.
        py_ids = set(
            re.findall(
                r"\((\d+)\) (?:ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas)",
                plan,
            )
        )
        n_python = len(py_ids) or (
            1
            if re.search(
                r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas",
                plan,
            )
            else 0
        )
        # BroadcastNestedLoopJoin is the right physical op for broadcast
        # cross-joins (e.g. ANN brute-force top-k) — count it as broadcast.
        n_bhj = len(set(re.findall(r"\((\d+)\) Broadcast(?:Hash|NestedLoop)Join", plan)))
        # shuffle budget: every non-broadcast Exchange is a full
        # repartition of the data — THE number that must stay flat at
        # 100x scale. Broadcast exchanges move only the dim side.
        n_shuffle = len(set(re.findall(r"\((\d+)\) Exchange", plan)))
        n_wscg = plan.count("WholeStageCodegen")
        reads = re.findall(r"ReadSchema: (struct<[^\n]*)", plan)
        checks = []
        ok = True
        if n_python > want.get("max_python", 99):
            ok = False
            checks.append(f"FAIL: {n_python} Python boundaries (max {want['max_python']})")
        else:
            checks.append(f"python boundaries: {n_python} (<= {want.get('max_python', '-')})")
        if want.get("want_broadcast") and n_bhj == 0:
            ok = False
            checks.append("FAIL: expected BroadcastHashJoin, none found")
        elif n_bhj:
            checks.append(f"broadcast joins: {n_bhj}")
        if n_shuffle > want.get("max_shuffles", 99):
            ok = False
            checks.append(
                f"FAIL: {n_shuffle} shuffle exchanges (max {want['max_shuffles']})"
            )
        else:
            checks.append(
                f"shuffle exchanges: {n_shuffle} (<= {want.get('max_shuffles', '-')})"
            )
        checks.append(f"codegen spans: {n_wscg}")
        if not ok:
            problems.append(name)
        head = "\n".join(plan.splitlines()[:40])
        sections.append(
            f"## {name} — {'OK' if ok else 'PROBLEM'}\n\n"
            + "".join(f"- {c}\n" for c in checks)
            + "".join(f"- scan: `{r[:160]}`\n" for r in reads[:4])
            + f"\n```\n{head}\n```\n"
        )
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(sections))
    print(f"wrote {out}; problems: {problems or 'none'}")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
