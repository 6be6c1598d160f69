"""Plan audit — asserts the physical-plan properties each headline query is
designed around (the 100 TB checklist): filter/column pushdown reaches the
scan, dim joins broadcast, top-k avoids global sorts, no nested-loop joins
sneak in, aggregations split partial/final.

Usage: python3 tools/explain_audit.py [sf_dir]
Exit 1 if any assertion fails — run after changing any query plan.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dataux_spark.operators.dedup import (  # noqa: E402
    BUCKET_PAIR_SEGMENT as _BUCKET_PAIR_SEGMENT,
)


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# NOTE (r13): exchange-count pins count the substring "hashpartitioning("
# — the FORMATTED explain this audit reads prints an exchange's
# partitioning on its Arguments line, never the simple-format phrase
# "Exchange hashpartitioning" five earlier pins grepped for (those
# matched nothing, so they bounded nothing). Bounds re-derived from the
# committed plans/r13 dumps and re-run green at sf0.01.
CHECKS = {
    # query -> list of (description, predicate over plan text)
    "point_filter": [
        ("filter pushed to scan", lambda p: "PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey,42)]" in p),
        ("columns pruned", lambda p: "ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint,o_totalprice:double>" in p),
    ],
    "pricing_summary": [
        ("date filter pushed", lambda p: "LessThanOrEqual(l_shipdate" in p),
        ("partial+final agg", lambda p: p.count("HashAggregate") >= 2),
    ],
    "join_inner": [
        ("dim broadcast", lambda p: "BroadcastHashJoin" in p),
        ("no nested loop", lambda p: "BroadcastNestedLoop" not in p and "CartesianProduct" not in p),
    ],
    "join_5way_regional_revenue": [
        ("all joins hash-based", lambda p: "BroadcastNestedLoop" not in p and "CartesianProduct" not in p),
        ("region filter pushed", lambda p: "EqualTo(r_name,ASIA)" in p),
    ],
    "topk_order_limit": [
        ("top-k not global sort", lambda p: "TakeOrderedAndProject" in p),
    ],
    "text_quality": [
        ("only needed columns read", lambda p: "ReadSchema: struct<doc_id:bigint,text:string>" in p),
    ],
    "asof_join_events": [
        ("no nested loop", lambda p: "BroadcastNestedLoop" not in p and "CartesianProduct" not in p),
        ("window over keyed exchange", lambda p: "Window" in p and "hashpartitioning(user_id" in p),
    ],
    "sessionize_stats": [
        ("single keyed shuffle for window", lambda p: "hashpartitioning(user_id" in p),
    ],
    "dedup_minhash_lsh": [
        ("no cartesian candidate gen", lambda p: "CartesianProduct" not in p),
    ],
    "ann_cosine_topk": [
        ("query side broadcast", lambda p: "BroadcastExchange" in p),
    ],
    "q4_order_priority": [
        ("EXISTS planned as semi join", lambda p: "LeftSemi" in p),
        ("no nested loop", lambda p: "BroadcastNestedLoop" not in p and "CartesianProduct" not in p),
        ("orders date window pushed", lambda p: "GreaterThanOrEqual(o_orderdate" in p),
    ],
    "q12_priority_lines": [
        ("lineitem date window pushed", lambda p: "GreaterThanOrEqual(l_shipdate" in p),
        ("partial+final agg", lambda p: p.count("HashAggregate") >= 2),
        ("join carries pruned columns only", lambda p: "ReadSchema: struct<o_orderkey:bigint,o_orderpriority:string>" in p),
    ],
    "q14_promo_revenue": [
        ("part dim broadcast", lambda p: "BroadcastHashJoin" in p),
        ("part pruned to 2 columns", lambda p: "ReadSchema: struct<p_partkey:bigint,p_type:string>" in p),
    ],
    "q19_disjunctive_revenue": [
        ("single hash join, no cartesian", lambda p: "BroadcastHashJoin Inner" in p
         and "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
         and "SortMergeJoin" not in p),
        ("brand OR-filter derived+pushed to part scan", lambda p: "EqualTo(p_brand,Brand#12)" in p.split("(4) Filter")[0]),
        ("quantity OR-envelope pushed to lineitem scan", lambda p: "GreaterThanOrEqual(l_quantity,1.0)" in p),
    ],
    "q22_dormant_customers": [
        ("NOT EXISTS planned as anti join", lambda p: "LeftAnti" in p),
        ("orders date filter pushed", lambda p: "GreaterThanOrEqual(o_orderdate" in p),
    ],
    "q7_volume_shipping": [
        ("nation-pair filter pushed to nation scan", lambda p: "In(n_name, [NATION_1,NATION_2])" in p),
        ("ship-date window pushed to lineitem", lambda p: "GreaterThanOrEqual(l_shipdate" in p),
        ("no cartesian from the pair disjunction", lambda p: "CartesianProduct" not in p and "BroadcastNestedLoop" not in p),
        ("dims broadcast", lambda p: p.count("BroadcastHashJoin") >= 3),
    ],
    "q8_market_share": [
        ("part type filter pushed", lambda p: "EqualTo(p_type,ECONOMY)" in p),
        ("region filter pushed", lambda p: "EqualTo(r_name,AMERICA)" in p),
        # formatted explain lists each node twice (tree + details) — count tree entries only
        ("one shuffle join at most (all dims broadcast)", lambda p: p.count("SortMergeJoin Inner (") + p.count("ShuffledHashJoin Inner (") <= 1),
        ("no nested loop", lambda p: "CartesianProduct" not in p and "BroadcastNestedLoop" not in p),
    ],
    "q13_customer_distribution": [
        ("outer join preserved (ON-clause filter not pushed as WHERE)", lambda p: "LeftOuter" in p),
        ("both aggs partial+final", lambda p: p.count("HashAggregate") >= 4),
        ("orders pruned to 3 columns", lambda p: "ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint,o_orderpriority:string>" in p),
    ],
    "q15_top_supplier": [
        ("quarter filter pushed to lineitem", lambda p: "GreaterThanOrEqual(l_shipdate" in p),
        ("scalar max joined without shuffle of revenue", lambda p: "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p),
        ("partial+final agg", lambda p: p.count("HashAggregate") >= 2),
    ],
    "q17_small_quantity_revenue": [
        ("brand filter pushed to part scan", lambda p: "EqualTo(p_brand,Brand#23)" in p),
        ("brand semi-reduction broadcast into lineitem", lambda p: "BroadcastHashJoin" in p),
        ("no nested loop", lambda p: "CartesianProduct" not in p),
    ],
    "q21_waiting_suppliers": [
        ("orders status filter pushed", lambda p: "EqualTo(o_orderstatus,F)" in p),
        ("single orderkey shuffle feeds the windows", lambda p: p.count("hashpartitioning(l_orderkey") == 1),
        ("orders broadcast into lineitem scan stage", lambda p: "BroadcastHashJoin" in p),
        ("no self semi/anti rescan of lineitem", lambda p: p.count("lineitem.parquet") == 1),
    ],
    # --- round-4 dedup blocking: the quadratic-killer plans ---------------
    "dedup_ngram_jaccard": [
        # equality join keyed on (lang, length-bucket) — the blocking MUST
        # plan hash-based, never a theta/cartesian pair generation
        ("blocked self-join is hash-based", lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoop" not in p),
        ("join keyed on the blocking columns", lambda p: "_lbk" in p),
    ],
    "dedup_clusters": [
        ("pair generation stays hash-based", lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoop" not in p),
    ],
    "embedding_neardup": [
        # sign-band candidates join on (band, value) — linear, not all-pairs
        ("candidate join hash-based on band values", lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoop" not in p),
        ("verify stage joins candidates back by id", lambda p: "id_a" in p and "id_b" in p),
    ],
    # --- round-5 additions ------------------------------------------------
    "ann_signband_topk": [
        # axis-sign-band candidates: equality join on (band, bv) with the
        # exploded query side broadcast — corpus never shuffles, no
        # all-pairs path
        ("candidate join hash-based", lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoop" not in p),
        ("query side broadcast", lambda p: "BroadcastExchange" in p),
        ("rerank is per-query window, not global sort", lambda p: "Window" in p
         and "hashpartitioning(query_id" in p),
    ],
    "dedup_span_stats": [
        # span census join-back is an equality join on the span hash; the
        # operator never forces a broadcast (Catalyst may pick one at tiny
        # SF, but a corpus-scale census must be free to shuffle) and no
        # pairwise path exists anywhere
        ("census join hash-based, no all-pairs", lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoop" not in p),
        ("census partial+final agg", lambda p: p.count("HashAggregate") >= 4),
        ("docs pruned to 2 columns", lambda p: "ReadSchema: struct<doc_id:bigint,text:string>" in p),
    ],
    "bucketed_join_revenue": [
        # both sides bucketed on the join key: the join itself must plan
        # with NO exchange — the only hashpartitioning exchange allowed is
        # the final aggregation's
        ("join is exchange-free (bucketed co-location)",
         lambda p: p.count("hashpartitioning(") <= 1),
        # at tiny SF Catalyst may broadcast instead of SMJ — either is
        # exchange-free over bucketed scans; only nested-loop is wrong
        ("equi-join, no nested loop", lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoop" not in p),
    ],
    "dedup_incremental_minhash": [
        # batch bands probe the persisted store on (band, bh) equality;
        # no all-pairs path, and the store scan reads only key columns +
        # the verify join's shingles
        ("store probe hash-based, no all-pairs", lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoop" not in p),
    ],
    "decontaminate_ngrams": [
        # benchmark span set is explicitly broadcast — corpus spans probe
        # it in the scan stage and only the per-doc roll-up shuffles
        ("benchmark set broadcast", lambda p: "BroadcastHashJoin LeftOuter" in p),
        ("single corpus shuffle (roll-up) + bench distinct",
         lambda p: p.count("hashpartitioning(") <= 2),
        ("no all-pairs path", lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoop" not in p),
    ],
    "embedding_cluster_assign": [
        # literal-centroid assignment is a pure scan projection: no join
        # node and no exchange of any kind anywhere in the plan
        ("zero shuffle", lambda p: "Exchange" not in p),
        ("no join", lambda p: "Join" not in p),
        ("columns pruned to id+vector",
         lambda p: "ReadSchema: struct<vec_id:bigint,embedding:array<float>>" in p),
    ],
    "text_bm25_topk": [
        ("idf/stats broadcast, no corpus-sized join shuffle",
         lambda p: "BroadcastHashJoin" in p),
        ("top-k not global sort", lambda p: "TakeOrderedAndProject" in p),
        ("no all-pairs path", lambda p: "CartesianProduct" not in p),
        ("corpus shuffles only on (doc,term)/(doc) roll-ups",
         lambda p: p.count("hashpartitioning(") <= 4),
    ],
    "training_prep_pipeline": [
        ("near-dup candidate join hash-based, never cartesian",
         lambda p: "CartesianProduct" not in p and "BroadcastNestedLoop" not in p),
        ("near-dup drop is an anti join", lambda p: "LeftAnti" in p),
        ("fingerprint dedup is one keyed window", lambda p: "Window" in p),
        ("sampling/split stages add no exchange of their own",
         lambda p: p.count("hashpartitioning(") <= 7),
    ],
    "text_hashed_quality": [
        # hashed-feature linear scoring is a pure scan projection: no
        # join, no exchange — the model-scored-filtering plan shape that
        # must hold when the weight formula becomes a broadcast array
        ("zero shuffle", lambda p: "Exchange" not in p),
        ("no join", lambda p: "Join" not in p),
        ("columns pruned to id+text",
         lambda p: "ReadSchema: struct<doc_id:bigint,text:string>" in p),
    ],
    "corpus_hygiene_pipeline": [
        ("no all-pairs path anywhere", lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoop" not in p),
        ("census join stays outer (exempt lines preserved)",
         lambda p: "LeftOuter" in p),
        ("budget cumsum is a keyed window",
         lambda p: "Window" in p and "hashpartitioning(lang" in p),
    ],
    "sample_stratified_lang": [
        # CASE-banded hash filter is a pure map over the scan
        ("zero shuffle", lambda p: "Exchange" not in p),
        ("columns pruned to id+stratum",
         lambda p: "ReadSchema: struct<doc_id:bigint,lang:string>" in p),
    ],
    "dedup_semantic_keepset": [
        # quadratic work only WITHIN clusters: the pair join is hash-keyed
        # on the cluster id, never a cartesian over the corpus
        ("pair join hash-keyed, never cartesian",
         lambda p: "CartesianProduct" not in p and "BroadcastNestedLoop" not in p),
        ("keep flag is an outer join against the drop set",
         lambda p: "LeftOuter" in p),
    ],
    "text_dsir_weights": [
        # r13 shape: the fitted model is ONE dim-wide λ array row riding
        # a broadcast scalar spine; scoring projects λ[bucket(g)] per
        # gram in codegen and rolls up per doc — the corpus never
        # shuffles for a join at all
        ("λ model rides a broadcast spine", lambda p: "BroadcastExchange" in p),
        ("no shuffled join anywhere",
         lambda p: "SortMergeJoin" not in p and "ShuffledHashJoin" not in p),
        ("corpus hash-shuffles only for model fit + per-doc roll-up",
         lambda p: p.count("hashpartitioning(") <= 2),
        ("no cartesian over data rows", lambda p: "CartesianProduct" not in p),
    ],
    "events_zscore_anomalies": [
        # one keyed window carries mean/stddev/count over the same frame
        ("single keyed shuffle for the rolling stats",
         lambda p: "hashpartitioning(event_type" in p),
        ("no join at all", lambda p: "Join" not in p),
    ],
    "text_bm25_index_topk": [
        # the probe must prune the index to the query terms' buckets at
        # PLAN time (partition filters on tb), for postings AND termdf
        ("both index scans partition-pruned by term bucket",
         lambda p: len(re.findall(r"PartitionFilters: \[[^\]]*tb#\d+", p)) >= 2),
        ("no corpus-sized shuffle for the model join",
         lambda p: "BroadcastHashJoin" in p and "SortMergeJoin" not in p
         and "ShuffledHashJoin" not in p),
    ],
    "ann_hard_negatives": [
        # anchors broadcast; per-anchor rank is one keyed window
        ("anchor side broadcast", lambda p: "BroadcastExchange" in p),
        ("rank is a keyed window",
         lambda p: "Window" in p and "hashpartitioning(query_id" in p),
    ],
    "graph_triangle_stats": [
        # the wedge join and the closing join are node-keyed hash joins —
        # the degree orientation exists so NO stage is ever cartesian
        ("all joins hash-keyed, never cartesian",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoop" not in p),
        ("wedge join keyed on the corner node",
         lambda p: "hashpartitioning(u#" in p or "BroadcastHashJoin" in p),
    ],
    "rollup_cms_estimates": [
        # the probe is |items| x depth rows over the merged grid: the grid
        # (bounded by depth x width) must be the broadcast build side —
        # the left-outer spelling that silently dropped the hint is the
        # regression this check pins
        ("bounded grid broadcast into the probe join",
         lambda p: "BroadcastHashJoin" in p),
        ("no corpus-sized shuffle after the cell merge",
         lambda p: "CartesianProduct" not in p),
    ],
    "dedup_containment_pairs": [
        # candidates come ONLY from a key equi-join (prefix×full postings
        # on the prefix route, band-hash buckets on the minhash route —
        # r11: the entry is ROUTED, so the route-specific stage shape is
        # pinned by run_routed_checks below, not a static rule here) —
        # never a cartesian pair stage on either route
        ("candidate generation is a key equi-join",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoop" not in p),
    ],
    "export_shard_manifest": [
        # the manifest is scan projections + ONE shard-key groupBy: no
        # join, no window, nothing corpus-sized after the aggregate
        ("no join at all", lambda p: "Join" not in p),
        ("one shard-key aggregate",
         lambda p: "hashpartitioning(shard" in p),
    ],
    # --- round-8 additions (VERDICT r7 item 6) -----------------------------
    "link_entities_blocked": [
        # mirror of tests/test_linkage.py's no-cartesian assert, machine-
        # gated here: candidates come only from the (block cols, symdelete
        # key) equi-join — the r8 fix for the fixed-cardinality-block
        # quadratic (SCALE.md round-8 entry)
        ("candidate generation hash-keyed, never cartesian",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("blocking join includes the symmetric-delete keys",
         lambda p: "__dkey" in p),
        # best-per-left: partial + final WindowGroupLimit around the
        # exchange (formatted explain lists each node twice: tree +
        # details, so 2 nodes appear 4 times)
        ("best-per-left top-k is partial before the exchange",
         lambda p: p.count("WindowGroupLimit") >= 4),
    ],
    "profile_histogram_depth": [
        # equi-depth edges come from ONE exact-percentile aggregate
        # broadcast back as a single row — never an ntile/row_number
        # global sort over the data
        # ("percentile(" also contains "ntile(" — require a word boundary)
        ("no ntile/window global sort",
         lambda p: ") Window" not in p and not re.search(r"\bntile\(", p)),
        ("edges joined back as a scalar broadcast",
         lambda p: "BroadcastExchange" in p
         and p.count("BroadcastNestedLoopJoin") <= 2),
        ("bin roll-up is partial+final",
         lambda p: p.count("HashAggregate") >= 2),
    ],
    "sample_weighted_priority": [
        # A-ES weighted top-k: per-stratum rank must plan as
        # WindowGroupLimit with a Partial pass before the exchange (each
        # partition pre-prunes to k before shuffling) — 2 nodes x 2
        # listings in formatted explain
        ("per-group top-k is WindowGroupLimit partial before the exchange",
         lambda p: p.count("WindowGroupLimit") >= 4),
        ("no join at all", lambda p: "Join" not in p),
    ],
    "ann_knn_join": [
        # corpus x corpus: candidates ONLY from the cell-key equi-join of
        # the sqrt(n)-cell quantizer — never cartesian. BNLJ is banned
        # UNLESS the plan contains the broadcast centroid table ("cvec"),
        # i.e. knn_join's large-quantizer path (len(centroids) >
        # literal_max) is active: its _assign_cells_join scores each row
        # against the BOUNDED broadcast centroid frame through an
        # unconditioned broadcast join that plans as BNLJ — legal at any
        # corpus size because the broadcast side is the quantizer, never
        # a fact table (ADVICE r8: the unscoped ban false-failed exactly
        # when the scale path activated). Count TREE nodes
        # ("BroadcastNestedLoopJoin Inner …"), not raw text hits — after
        # execution AQE's formatted explain lists initial+final plans, so
        # 2 assignment joins appear as ≤4 tree nodes / ≤8 text hits.
        ("cell-keyed candidate join, never cartesian (bounded centroid "
         "BNLJ allowed on the large-quantizer path)",
         lambda p: "CartesianProduct" not in p
         and (p.count("BroadcastNestedLoopJoin Inner") <= 4 if "cvec" in p
              else "BroadcastNestedLoopJoin" not in p)),
        ("rerank is a per-query window",
         lambda p: "Window" in p and "hashpartitioning(query_id" in p),
    ],
    # --- round-9 additions (the two rewritten candidate schemes) ---------
    "embedding_neardup": [
        # seeded-rotation sign-band LSH: candidates ONLY from the
        # (band, bv) equi-join — hash-keyed at any scale, never cartesian
        ("sign-band candidate join hash-keyed, never cartesian",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("band-value key live in the join", lambda p: "bv" in p),
    ],
    "dedup_simhash": [
        # WWW'07 combination blocking: candidates ONLY from the xxhash64
        # combination-key equi-join (56 keys/row), verified by bit_count
        ("combination-key candidate join, never cartesian",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
        ("combination keys are xxhash64 expressions",
         lambda p: "xxhash64" in p),
        ("exact hamming verify present", lambda p: "bit_count" in p),
    ],
    "dedup_source_matrix": [
        # pair generation is the r10 adaptive router — the candidate
        # stage's shape is checked route-aware below (ROUTED_CHECKS);
        # what must hold on EVERY route is hash-keyed joins only
        ("all joins hash-keyed, never cartesian",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
    ],
    "dedup_savings_report": [
        ("all joins hash-keyed, never cartesian",
         lambda p: "CartesianProduct" not in p
         and "BroadcastNestedLoopJoin" not in p),
    ],
    # a source's pushed answer is an Arrow-backed LocalRelation
    # (sqlutil.local_frame): returning it runs no Python worker
    **{
        name: [("pushed answer is a LocalTableScan, not a Python RDD",
                lambda p: "LocalTableScan" in p and "ExistingRDD" not in p)]
        for name in (
            "pushdown_mongo_filter_topk",
            "pushdown_es_group_agg",
            "pushdown_cass_key_topk",
            "pushdown_datastore_ineq_topk",
        )
    },
}


# --- route-aware checks (the r10 adaptive candidate router) -----------------
# adaptive_jaccard_pairs picks candidate generation per corpus (census of
# prefix-key postings, operators/dedup.choose_jaccard_route), so the plan
# shape these entries must show DEPENDS on the data the audit runs against:
# the rarest-first prefix window while the shingle vocabulary grows with the
# corpus, the minhash band-hash equi-join once it saturates (sf0.1 documents
# saturates — measured r9/r10; sf0.01 does not). The audit resolves the
# route exactly as the entries do (threshold/shingle/blocking imported from
# queries.ADAPTIVE_JACCARD_KW/_BLOCKS, the call sites' own source) and pins
# the MATCHING
# candidate stage. dedup_clusters / dedup_savings_report feed their pair
# frames through connected_components, whose localCheckpoint truncates the
# candidate stage out of the final plan — only the two plan-transparent
# entries are shape-checked; all four keep the no-cartesian rule above.
_PREFIX_SHAPE = (
    "prefix route: rarest-first rank is a doc-keyed window",
    lambda p: "Window" in p and "hashpartitioning(_id" in p,
)
_MINHASH_SHAPE = (
    "minhash route: band-hash equi-join candidates, no prefix window, "
    "hot-bucket cap present, chunked expansion present",
    # r12: the routed minhash path must also SHOW the census-derived
    # hot-bucket backstop (VERDICT r11 item 1) — a bucket-size filter
    # `size(_ids) <= cap` in the candidate stage. Without this check the
    # cap could silently regress to unreachable again.
    # r13: and the CHUNKED in-bucket expansion (VERDICT r12 item 2) —
    # the segment-offset arithmetic `(s.i * BUCKET_PAIR_SEGMENT)` must
    # appear in the generator stage, so the single-array form (~33.5M
    # structs in one cell at the cap ceiling) cannot silently come
    # back. A bare `slice(_ids#` anchor would NOT do: the unchunked
    # triangle expansion also sliced _ids (`slice(_ids, i + 2, ...)`),
    # so only the segment-spine multiply distinguishes the shapes; the
    # width is imported from the one dedup constant (no-drift rule).
    lambda p: re.search(r"hashpartitioning\(band#\d+, bh#\d+", p) is not None
    and "Window" not in p
    and re.search(r"size\(_ids#\d+[^)]*\) <= \d+", p) is not None
    and re.search(
        r"\(s#\d+\.i \* " + str(_BUCKET_PAIR_SEGMENT) + r"\)", p
    ) is not None,
)
# only the plan-transparent entries are shape-checked (see above); the
# kwargs themselves come from queries.ADAPTIVE_JACCARD_KW/_BLOCKS and
# ADAPTIVE_CONTAINMENT_KW — the ONE source the entries call with — so a
# call-site change cannot desynchronize the audit's route resolution
# (ADVICE r10). r11: the containment router (adaptive_containment_pairs)
# joins the check — both of its routes show the same shape signature
# (prefix = rarest-first doc-keyed window, minhash = band-hash equi-join),
# so the predicates are shared.
ROUTED_CHECKS = {
    "dedup_prefix_jaccard": "jaccard",
    "dedup_source_matrix": "jaccard",
    "dedup_containment_pairs": "containment",
}


def _resolve_route(name: str, kind: str, docs) -> str:
    from dataux_spark import queries as Q
    from dataux_spark.operators.dedup import (
        choose_containment_route,
        choose_jaccard_route,
    )

    if kind == "containment":
        return choose_containment_route(
            docs, "text", "doc_id", **Q.ADAPTIVE_CONTAINMENT_KW
        )
    return choose_jaccard_route(
        docs, "text", "doc_id",
        block_cols=Q.ADAPTIVE_JACCARD_BLOCKS[name],
        **Q.ADAPTIVE_JACCARD_KW,
    )


def run_routed_checks(spark, registry, sf_dir: str) -> int:
    from dataux_spark import queries as Q

    docs = Q.read_table(spark, sf_dir, "documents")
    failed = 0
    for name, kind in ROUTED_CHECKS.items():
        route = _resolve_route(name, kind, docs)
        desc, pred = _PREFIX_SHAPE if route == "prefix" else _MINHASH_SHAPE
        ok = pred(plan_of(registry[name](spark, sf_dir)))
        print(f"{'OK ' if ok else 'FAIL'} {name:28s} [route={route}] {desc}")
        failed += 0 if ok else 1
    return failed


# --- forced-broadcast hint audit ------------------------------------------
# A user broadcast hint overrides Spark's size threshold unconditionally:
# forced onto a frame that grows with the data it becomes an OOM at scale
# instead of degrading to a shuffle join (the reference's engine-side merge
# join is its ONLY join strategy for exactly this reason —
# /root/reference/planner/executor.go:84-96). Rule enforced on EVERY
# registered query's analyzed logical plan: a broadcast-hinted subtree may
# touch an sf-scaled relation ONLY below a cardinality-reshaping node
# (Aggregate / GlobalLimit / Deduplicate — scalar or bounded-domain outputs,
# query sets, benchmark span sets; the boundedness argument lives in each
# operator's docstring). A hint over a merely filtered/projected fact frame
# is the failure this audit exists to catch.

# Signature columns that identify an sf-scaled relation in the analyzed plan.
_FACT_COLS = (
    "l_orderkey", "o_orderkey", "c_custkey", "s_suppkey", "p_partkey",
    "event_id", "doc_id", "vec_id",
)
_RESHAPE_NODES = ("Aggregate ", "GlobalLimit", "Deduplicate")


def _hinted_subtrees(analyzed: str):
    """Yield the subtree (list of lines) under each ResolvedHint node."""
    lines = analyzed.splitlines()

    def indent(s: str) -> int:
        i = 0
        while i < len(s) and s[i] in " :+-":
            i += 1
        return i

    for i, line in enumerate(lines):
        if "ResolvedHint" not in line:
            continue
        d = indent(line)
        sub = []
        for nxt in lines[i + 1:]:
            if nxt.strip() and indent(nxt) <= d:
                break
            sub.append(nxt)
        yield sub


def _hint_violations(analyzed: str):
    """Return hinted subtrees that scan a fact relation with no
    cardinality-reshaping node above it (within the hinted subtree)."""
    bad = []
    for sub in _hinted_subtrees(analyzed):
        reshape_seen = False
        for line in sub:
            stripped = line.lstrip(" :+-")
            if any(stripped.startswith(n) for n in _RESHAPE_NODES):
                reshape_seen = True
            if stripped.startswith("Relation") and any(
                c + "#" in line for c in _FACT_COLS
            ) and not reshape_seen:
                bad.append(sub[0].lstrip(" :+-")[:100])
                break
    return bad


def run_hint_audit(spark, registry, sf_dir: str) -> int:
    failed = 0
    n_hints = 0
    for name, fn in sorted(registry.items()):
        try:
            df = fn(spark, sf_dir)
            analyzed = df._jdf.queryExecution().analyzed().toString()
        except Exception as e:  # fixture-dependent entries that need a driver env
            print(f"SKIP {name:36s} hint audit ({type(e).__name__})")
            continue
        n_hints += analyzed.count("ResolvedHint")
        for v in _hint_violations(analyzed):
            print(f"FAIL {name:36s} forced broadcast of sf-scaled frame: {v}")
            failed += 1
    print(f"hint audit: {len(registry)} queries, {n_hints} broadcast hints, "
          f"{failed} forced onto sf-scaled frames")
    return failed


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from dataux_spark import get_spark
    from dataux_spark import queries as Q

    spark = get_spark("explain-audit")
    registry = Q.queries()
    failed = 0
    for name, checks in CHECKS.items():
        p = plan_of(registry[name](spark, sf_dir))
        for desc, pred in checks:
            ok = pred(p)
            print(f"{'OK ' if ok else 'FAIL'} {name:28s} {desc}")
            failed += 0 if ok else 1
    failed += run_routed_checks(spark, registry, sf_dir)
    failed += run_hint_audit(spark, registry, sf_dir)
    print(f"\n{'ALL PLAN CHECKS PASS' if not failed else f'{failed} plan checks FAILED'}")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
