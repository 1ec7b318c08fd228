"""Physical-plan audit: dump .explain("formatted") evidence for the plans the
100 TB story depends on into PLANS.md — partition pruning reaching the scan,
column pruning (ReadSchema), broadcast joins on dimension sides, and the
single explicit shuffle of the extraction pipeline.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def grep_evidence(plan: str, patterns: list[str]) -> list[str]:
    out = []
    for line in plan.splitlines():
        if any(re.search(p, line) for p in patterns):
            out.append(line.strip()[:160])
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from latex_ocr_spark.config import ModelConfig
    from latex_ocr_spark.operators import dedup as D
    from latex_ocr_spark.operators.relational import tpch_q3
    from latex_ocr_spark.pipeline import extract_spans
    from latex_ocr_spark.session import get_spark
    from latex_ocr_spark.sources import build_corpus, read_docs

    # UI on: section 10 reads MEASURED per-stage shuffle bytes from the
    # status REST API (explain() proves shape; this proves volume)
    spark = get_spark(
        "plan-audit", cores=8, shuffle_partitions=8,
        extra={"spark.ui.enabled": "true"},
    )
    corpus = build_corpus(spark, sf_dir)
    sections: list[tuple[str, str, list[str]]] = []

    # 1. partition-pruned docs scan
    pruned = read_docs(spark, corpus, parts=[3, 4]).select("doc_id")
    sections.append(
        (
            "Partition-pruned docs scan (`read_docs(parts=[3,4])`)",
            "PartitionFilters prove directory-level pruning; ReadSchema shows "
            "column pruning to the projected column.",
            grep_evidence(plan_of(pruned), ["PartitionFilters", "ReadSchema", "PushedFilters"]),
        )
    )

    # 2. flagship extraction
    flat = extract_spans(spark, corpus, cfg=ModelConfig.small())
    sections.append(
        (
            "Flagship extraction (`extract_spans`)",
            "One broadcast join for the media lookup; the round-robin "
            "repartition of the joined PNG rows is the single explicit "
            "shuffle; exactly one pandas-UDF stage (MapInPandas infer_rows: "
            "prepro + decode), no FlatMapGroupsInPandas.",
            grep_evidence(
                plan_of(flat),
                [
                    "BroadcastHashJoin",
                    "Exchange",
                    "RoundRobinPartitioning",
                    "MapInPandas",
                    "FlatMapGroupsInPandas",
                    "PartitionFilters",
                ],
            ),
        )
    )

    # 3. TPC-H Q3: broadcast dims, one fact shuffle
    t = lambda n: spark.read.parquet(os.path.join(sf_dir, f"{n}.parquet"))
    q3 = tpch_q3(t("customer"), t("orders"), t("lineitem"))
    sections.append(
        (
            "TPC-H Q3",
            "Filtered dimension sides broadcast; scan-level PushedFilters on "
            "dates/segment.",
            grep_evidence(plan_of(q3), ["BroadcastHashJoin", "PushedFilters", "SortMergeJoin"]),
        )
    )

    # 4. MinHash-LSH: banding equi-join + candidate-only verify (no cross join)
    mh = D.minhash_lsh_pairs(D.corpus_with_dups(spark, sf_dir), threshold=0.5)
    mh_plan = plan_of(mh)
    cross = grep_evidence(mh_plan, ["CartesianProduct", "BroadcastNestedLoop"])
    sections.append(
        (
            "MinHash-LSH pairs",
            "No cartesian/nested-loop join anywhere in the plan "
            f"(matches: {len(cross)} — must be 0); candidate list broadcast.",
            grep_evidence(mh_plan, ["BroadcastHashJoin", "SortMergeJoin", "CartesianProduct"]),
        )
    )

    # 5. shingle skew cap: broadcast ANTI-join on the hot-shingle blacklist
    jc = D.jaccard_pairs(D.corpus_with_dups(spark, sf_dir), threshold=0.5)
    sections.append(
        (
            "n-gram Jaccard shingle skew cap",
            "The max_freq cap is a broadcast LeftAnti against the small "
            "hot-shingle blacklist — the full shingle table is never "
            "shuffled a second time for the cap.",
            grep_evidence(
                plan_of(jc), [r"LeftAnti", r"BroadcastHashJoin.*LeftAnti"]
            ),
        )
    )

    # 6. embedding near-dup: unprobed self-join stays equi-join, no cartesian
    from latex_ocr_spark.operators import similarity as S

    nd = S.embedding_neardup_pairs(
        spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    )
    nd_plan = plan_of(nd)
    nd_cross = grep_evidence(nd_plan, ["CartesianProduct", "BroadcastNestedLoop"])
    sections.append(
        (
            "Embedding near-dup pairs",
            "Candidate generation is a (table, sig) equi-join on the unprobed "
            f"signature table (cartesian matches: {len(nd_cross)} — must be 0).",
            grep_evidence(
                nd_plan, ["BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"]
            )[:8],
        )
    )

    # 7. TPC-H Q14: broadcast part dim, shipdate filters pushed to the scan
    from latex_ocr_spark.operators.relational import tpch_q14

    q14 = tpch_q14(t("part"), t("lineitem"))
    sections.append(
        (
            "TPC-H Q14",
            "The part dimension broadcasts; the lineitem shipdate range is "
            "pushed to the parquet scan, so the fact table never shuffles.",
            grep_evidence(
                plan_of(q14),
                ["BroadcastHashJoin", "PushedFilters", "SortMergeJoin"],
            ),
        )
    )

    # 7b. TPC-H Q18: HAVING-filtered rollup reused as join input, customer
    # dim broadcast, no second lineitem scan / semi-join back into the fact
    from latex_ocr_spark.operators.relational import tpch_q18

    q18 = tpch_q18(t("customer"), t("orders"), t("lineitem"))
    q18_plan = plan_of(q18)
    li_scans = [
        l for l in q18_plan.splitlines()
        if "Scan parquet" in l and "lineitem" in l.lower()
    ] or [
        l for l in q18_plan.splitlines() if "lineitem.parquet" in l
    ]
    sections.append(
        (
            "TPC-H Q18",
            "One lineitem scan only (the quantity rollup is reused as the "
            f"join input; scans of lineitem: {len(li_scans)} — must be 1); "
            "customer dim broadcast; qualifying-set join left to AQE.",
            grep_evidence(
                q18_plan,
                ["BroadcastHashJoin", "SortMergeJoin", "HashAggregate", "TakeOrdered"],
            )[:8],
        )
    )

    # 7c. TPC-H Q20: the correlated 0.5*sum threshold and the derived
    # availqty come from ONE conditional aggregation — a second lineitem
    # scan in the plan would mean the decorrelation regressed
    from latex_ocr_spark.operators.relational import tpch_q20

    q20 = tpch_q20(t("part"), t("supplier"), t("nation"), t("lineitem"))
    q20_plan = plan_of(q20)
    q20_li_scans = [
        l for l in q20_plan.splitlines()
        if ("Scan parquet" in l and "lineitem" in l.lower())
        or "lineitem.parquet" in l
    ]
    sections.append(
        (
            "TPC-H Q20",
            "Correlated availqty-vs-half-demand threshold computed by one "
            "conditional aggregation over one brand-filtered scan (scans of "
            f"lineitem: {len(q20_li_scans)} — must be 1); part and nation "
            "dims broadcast; the two-year shipdate range is pushed to the "
            "parquet scan.",
            grep_evidence(
                q20_plan,
                ["BroadcastHashJoin", "PushedFilters", "HashAggregate"],
            )[:8],
        )
    )

    # 7d. TPC-H Q21: EXISTS + NOT-EXISTS both decorrelated to windowed
    # conditional distinct-counts — one lineitem scan, and the two Window
    # nodes share one Exchange (same orderkey partitioning, no re-shuffle)
    from latex_ocr_spark.operators.relational import tpch_q21

    q21 = tpch_q21(t("supplier"), t("lineitem"), t("orders"))
    q21_plan = plan_of(q21)
    q21_li_scans = [
        l for l in q21_plan.splitlines()
        if ("Scan parquet" in l and "lineitem" in l.lower())
        or "lineitem.parquet" in l
    ]
    q21_windows = [l for l in q21_plan.splitlines() if l.strip().startswith("(")
                   and ") Window" in l]
    sections.append(
        (
            "TPC-H Q21",
            "Spec's correlated EXISTS + NOT-EXISTS pair computed as "
            "conditional distinct-counts over the orderkey window (scans of "
            f"lineitem: {len(q21_li_scans)} — must be 1; Window nodes: "
            f"{len(q21_windows)} — back-to-back on one partitioning, no "
            "exchange between them); no self-joins of the fact.",
            grep_evidence(
                q21_plan,
                ["Window", "Exchange", "BroadcastHashJoin"],
            )[:10],
        )
    )

    # 8. corpus curation: lang/quality gates evaluated BEFORE the only
    # exchange (fingerprint keeper groupBy) — filter first, shuffle survivors
    from latex_ocr_spark.operators.text_analysis import curate_corpus

    cur_plan = plan_of(curate_corpus(D.corpus_with_dups(spark, sf_dir)))
    cur_lines = cur_plan.splitlines()
    first_exchange = next(
        (i for i, l in enumerate(cur_lines) if "Exchange" in l), len(cur_lines)
    )
    filters_before = sum("Filter" in l for l in cur_lines[first_exchange:])
    sections.append(
        (
            "Corpus curation (`curate_corpus`)",
            "Language/quality gates run map-side before the fingerprint "
            "keeper aggregation — every Filter sits below the first Exchange "
            f"in the formatted tree (filters below: {filters_before} > 0).",
            grep_evidence(cur_plan, ["Exchange", "Filter \\("])[:8],
        )
    )

    # 9. dedup_apply: corpus LEFT ANTI non-keepers stays an equi-join
    da = D.dedup_apply(
        D.corpus_with_dups(spark, sf_dir),
        D.minhash_lsh_pairs(D.corpus_with_dups(spark, sf_dir), threshold=0.5),
    )
    da_plan = plan_of(da)
    da_cross = grep_evidence(da_plan, ["CartesianProduct", "BroadcastNestedLoop"])
    sections.append(
        (
            "Deduped-corpus materialization (`dedup_apply`)",
            "The corpus anti-joins the (small) non-keeper set on doc_id — an "
            "equi-join AQE can broadcast; the corpus is never collected or "
            f"cross-joined (cartesian matches: {len(da_cross)} — must be 0).",
            grep_evidence(da_plan, ["LeftAnti", "BroadcastHashJoin", "SortMergeJoin"])[:8],
        )
    )

    # 9b. composed daily pipeline: extraction → curate → dedup_apply →
    # token_count as one job. Composition is where plan regressions hide:
    # the reassembled corpus feeds five downstream branches (3 dup-union
    # arms + both sides of the dedup), so without the persist the decode
    # subtree executes per branch. Evidence: zero cartesians anywhere, and
    # InMemoryTableScan nodes proving every branch reads the cached
    # reassembled/curated frames instead of re-running the decode.
    from latex_ocr_spark.pipeline import composed_training_pipeline

    tp = composed_training_pipeline(spark, corpus, cfg=ModelConfig.small())
    tp_plan = plan_of(tp)
    tp_cross = grep_evidence(tp_plan, ["CartesianProduct", "BroadcastNestedLoop"])
    tp_imts = tp_plan.count("InMemoryTableScan")
    sections.append(
        (
            "Composed daily pipeline (`composed_training_pipeline`)",
            "extraction → reassembly → dup-union → curate_corpus → "
            "MinHash-LSH dedup_apply → token_count in one job (cartesian "
            f"matches: {len(tp_cross)} — must be 0; InMemoryTableScan "
            f"nodes: {tp_imts} — must be > 0, every downstream branch "
            "reads the persisted reassembled/curated frames, so the "
            "decode subtree executes once, not once per branch).",
            grep_evidence(
                tp_plan, ["InMemoryTableScan", "LeftAnti", "CartesianProduct"]
            )[:8],
        )
    )
    # 9c. TPC-H Q7 (round-7 reorder): orders joins the broadcast two-nation
    # customer dim BEFORE the lineitem ⋈ orders join, so at cluster scale
    # only qualifying orders (~2/25) ride the fact exchange. Evidence: in
    # the formatted tree the o_custkey = c_custkey BroadcastHashJoin sits
    # BELOW (higher node id than) the l_orderkey = o_orderkey join.
    from latex_ocr_spark.operators.relational import tpch_q7

    q7 = tpch_q7(t("nation"), t("customer"), t("supplier"), t("orders"),
                 t("lineitem"))
    q7_plan = plan_of(q7)
    q7_keys = grep_evidence(
        q7_plan, [r"Left keys \[1\]: \[l_orderkey", r"Left keys \[1\]: \[o_custkey"]
    )
    # formatted explain prints node details in post-order (children first),
    # so the o_custkey join must appear BEFORE the l_orderkey fact join —
    # i.e. it is a subtree of the fact join's build side
    ok_order = len(q7_keys) >= 2 and "o_custkey" in q7_keys[0]
    sections.append(
        (
            "TPC-H Q7 — two-nation filter below the fact exchange",
            "The customer⋈nation chain applies to orders UPSTREAM of the "
            "lineitem⋈orders join, pre-filtering the orders side to the two "
            f"qualifying nations (join order verified: {ok_order} — the "
            "o_custkey join is a subtree of the l_orderkey join's build "
            "side, printed first in the post-order detail list).",
            q7_keys + grep_evidence(q7_plan, ["BroadcastHashJoin"])[:4],
        )
    )

    # 9d. TPC-H Q2 (derived supply fact): the correlated MIN decorrelates
    # to ONE aggregation + a window over partkey — no second fact scan, no
    # self-join, no cartesian.
    from latex_ocr_spark.operators.relational import tpch_q2

    q2 = tpch_q2(t("region"), t("nation"), t("supplier"), t("lineitem"),
                 t("part"))
    q2_plan = plan_of(q2)
    q2_cross = grep_evidence(q2_plan, ["CartesianProduct", "BroadcastNestedLoop"])
    q2_scans = q2_plan.count("lineitem.parquet")
    sections.append(
        (
            "TPC-H Q2 — correlated MIN as window over the derived supply fact",
            "One lineitem scan feeds the (partkey, suppkey) aggregation; the "
            "per-part minimum is a Window on the same data (cartesian "
            f"matches: {len(q2_cross)} — must be 0; lineitem scans: "
            f"{q2_scans} — must be 1).",
            grep_evidence(q2_plan, ["Window", "HashAggregate", "BroadcastHashJoin"])[:8],
        )
    )

    # 9e. sequence packing: the only exchange is the shard hash partition
    # feeding the per-shard window — no global sort, no cartesian.
    from latex_ocr_spark.operators.packing import chunk_dedup, pack_sequences

    docs_tbl = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    pk = pack_sequences(docs_tbl, seq_len=256, n_shards=16)
    pk_plan = plan_of(pk)
    # formatted explain splits node and arguments: count the Arguments
    # lines that carry hashpartitioning (one per hash exchange)
    pk_exch = [
        l for l in pk_plan.splitlines()
        if "Arguments: hashpartitioning" in l
    ]
    sections.append(
        (
            "Sequence packing (`pack_sequences`)",
            "Exactly one hash exchange — on the shard key, feeding the "
            f"per-shard window sort (hash exchanges: {len(pk_exch)} — must "
            f"be 1, on shard: {'shard' in (pk_exch + [''])[0]}; parallelism "
            "= n_shards, no global ordering anywhere).",
            grep_evidence(
                pk_plan, ["Arguments: hashpartitioning", "Window", "Sort \\("]
            )[:8],
        )
    )

    # 9f. chunk-level dedup: TWO-PHASE keeper — hash aggregation on
    # md5(chunk) (map-side partial combine collapses a hot boilerplate
    # chunk before the exchange) + equi-join marking occurrences (AQE can
    # skew-split a join; a window cannot be split) + per-doc reassembly.
    # No window, no self-join, no cartesian.
    cd = chunk_dedup(docs_tbl, chunk_words=20)
    cd_plan = plan_of(cd)
    cd_cross = grep_evidence(cd_plan, ["CartesianProduct", "BroadcastNestedLoop"])
    cd_window = grep_evidence(cd_plan, ["\\) Window"])
    sections.append(
        (
            "Chunk-level exact dedup (`chunk_dedup`)",
            "Explode is map-side; the keeper is a two-phase hash agg on "
            "md5(chunk) + join-back — partial combine bounds hot-chunk rows "
            "per map task and the join (unlike the old keeper window) is "
            "AQE-skew-splittable "
            f"(cartesian matches: {len(cd_cross)} — must be 0; window "
            f"nodes: {len(cd_window)} — must be 0).",
            grep_evidence(cd_plan, ["Exchange", "HashAggregate", "Join"])[:8],
        )
    )

    # 9g. bigram LM: bigrams are slice+zip expressions (no join, no
    # posexplode self-join); the scoring joins are hint-free equi-joins; the
    # only nested-loop is the 1-row |V| broadcast (constant shape, same
    # class as tpch_q11's threshold).
    from latex_ocr_spark.operators.lm import lm_score

    lm = lm_score(docs_tbl, alpha=0.5)
    lm_plan = plan_of(lm)
    lm_cart = grep_evidence(lm_plan, ["CartesianProduct"])
    # tree lines only ("BroadcastNestedLoopJoin Cross ...") — formatted
    # explain repeats every node in the details section
    lm_bnlj = grep_evidence(lm_plan, ["BroadcastNestedLoopJoin Cross"])
    sections.append(
        (
            "Bigram-LM scoring (`lm_score`)",
            "Bigram extraction is pure expressions (zip_with over slices — "
            "no join); model/ctx joins carry no broadcast hint (cartesians: "
            f"{len(lm_cart)} — must be 0; cross nested-loop joins: "
            f"{len(lm_bnlj)} — must be 1, the 1-row |V| broadcast).",
            grep_evidence(
                lm_plan,
                ["HashAggregate", "Arguments: hashpartitioning", "SortMergeJoin",
                 "BroadcastHashJoin", "BroadcastNestedLoopJoin"],
            )[:10],
        )
    )

    # 9h. semantic dedup: centroid assignment is a constant-K broadcast
    # nested loop (bounded by the parameter); the dup pair join is an
    # equi-join on cluster id; never a corpus-scale cartesian.
    from latex_ocr_spark.operators.similarity import semantic_dedup

    emb_tbl = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    sd, sd_cached = semantic_dedup(emb_tbl, n_clusters=8, return_cached=True)
    sd_plan = plan_of(sd)
    sd_cart = grep_evidence(sd_plan, ["CartesianProduct"])
    sd_cluster_part = grep_evidence(sd_plan, ["hashpartitioning\\(cluster"])
    sections.append(
        (
            "Semantic dedup (`semantic_dedup`)",
            "Assignment = constant-K(=8) broadcast nested loop + per-vec "
            "argmax window; the near-dup pair join shuffles on cluster id "
            f"(cartesians: {len(sd_cart)} — must be 0; cluster-key "
            f"exchanges: {len(sd_cluster_part)} — must be ≥ 1). The argmax "
            "output feeds 3 branches through one InMemoryTableScan.",
            grep_evidence(
                sd_plan,
                ["BroadcastNestedLoopJoin", "Window", "InMemoryTableScan",
                 "hashpartitioning\\(cluster", "SortMergeJoin", "BroadcastHashJoin"],
            )[:10],
        )
    )
    sd_cached.unpersist()

    # 9i. incremental dedup: the index side enters ONLY via its banded
    # signature table; candidates come from a cross-side (band, bucket)
    # equi-join; verification is equi-joins on (new_doc, shingle).
    inc, inc_sh_new, inc_sh_idx = D.incremental_neardup_pairs(
        docs_tbl.filter("doc_id % 2 = 1"),
        docs_tbl.filter("doc_id % 2 = 0"),
        threshold=0.5,
        return_cached=True,
    )
    inc_plan = plan_of(inc)
    inc_cart = grep_evidence(inc_plan, ["CartesianProduct", "BroadcastNestedLoop"])
    inc_band_keys = grep_evidence(inc_plan, ["keys \\[2\\]: \\[band"])
    sections.append(
        (
            "Incremental batch-vs-index dedup (`incremental_neardup_pairs`)",
            "The candidate join is a cross-side EQUI-join keyed on "
            f"(band, bucket) (key-list matches: {len(inc_band_keys)} — must "
            "be ≥ 1): broadcast at this sf because the signature side is "
            "small, shuffle-on-band-key at scale — either way never a "
            f"nested loop (cartesian/NL matches: {len(inc_cart)} — must be "
            "0). At production scale the index side is a stored signature "
            "table — the plan builds index signatures here only because "
            "this audit derives both sides from parquet.",
            grep_evidence(
                inc_plan,
                ["keys \\[2\\]: \\[band", "SortMergeJoin", "BroadcastHashJoin Inner",
                 "HashAggregate"],
            )[:10],
        )
    )
    inc_sh_new.unpersist(), inc_sh_idx.unpersist()

    from latex_ocr_spark.operators import text_analysis as TA

    # 9j. domain cap: exact per-domain top-N without the window-skew cliff —
    # phase 1's exchange must key on (domain, _pid) so a hot domain spreads
    # over its input splits; phase 2's exchange keys on domain alone but
    # sees at most N×P rows per domain.
    dcap = TA.domain_cap(docs_tbl, max_per_domain=10)
    dcap_plan = plan_of(dcap)
    dcap_pair = grep_evidence(dcap_plan, ["hashpartitioning\\(domain[^)]*_pid"])
    dcap_single = [
        l for l in grep_evidence(dcap_plan, ["hashpartitioning\\(domain"])
        if "_pid" not in l
    ]
    sections.append(
        (
            "Per-domain cap (`domain_cap`)",
            "Two-phase exact top-N: the FIRST exchange keys on "
            f"(domain, _pid) (matches: {len(dcap_pair)} — must be ≥ 1) so a "
            "hot domain is pre-pruned across its input splits before the "
            f"per-domain exchange (matches: {len(dcap_single)} — must be "
            "≥ 1) ranks a remainder bounded by N×num_partitions. "
            "tests/test_curation_ops.py pins byte-identity to the naive "
            "single-window plan at every physical partitioning.",
            grep_evidence(
                dcap_plan,
                ["hashpartitioning\\(domain", "Window", "Filter.*domain_rank",
                 "Filter.*_r1"],
            )[:10],
        )
    )

    # 9k. upsample mix: per-row explode only — the plan must contain no
    # exchange and no join of any kind.
    ups = TA.upsample_mix(docs_tbl, {"en": 2.5, "zh": 1.25, "fr": 0.5})
    ups_plan = plan_of(ups)
    ups_ex = grep_evidence(ups_plan, ["Exchange", "Join", "CartesianProduct"])
    sections.append(
        (
            "Repeat-factor mixing (`upsample_mix`)",
            "Scan → project → filter → Generate explode(sequence) — "
            f"exchanges/joins in plan: {len(ups_ex)} — must be 0; the "
            "factor map is a literal expression, so replication adds zero "
            "shuffle at any scale.",
            grep_evidence(
                ups_plan, ["Generate", "Scan parquet", "Filter", "Project"]
            )[:8],
        )
    )

    # 10. MEASURED decode-shuffle volume (not just plan shape): run the
    # flagship extraction under a job group and read per-stage shuffle
    # read/write bytes from the status REST API. The round-robin media
    # repartition must be the dominant exchange, and its bytes/doc is the
    # number to extrapolate to 100 TB.
    import json as _json
    import urllib.request

    sc = spark.sparkContext
    sc.setJobGroup("decode-measure", "flagship extraction shuffle measurement")
    n_spans = flat.count()
    sc.setJobGroup("plan-audit-rest", "")
    base = sc.uiWebUrl
    app_id = sc.applicationId
    with urllib.request.urlopen(
        f"{base}/api/v1/applications/{app_id}/jobs"
    ) as r:
        jobs = _json.load(r)
    stage_ids = sorted(
        {
            s
            for j in jobs
            if j.get("jobGroup") == "decode-measure"
            for s in j["stageIds"]
        }
    )
    with urllib.request.urlopen(
        f"{base}/api/v1/applications/{app_id}/stages?status=complete"
    ) as r:
        all_stages = {s["stageId"]: s for s in _json.load(r)}
    n_docs = read_docs(spark, corpus).count()
    ev = []
    tot_w = tot_r = 0
    for sid in stage_ids:
        st = all_stages.get(sid)
        if st is None:
            continue
        w, rd = st["shuffleWriteBytes"], st["shuffleReadBytes"]
        tot_w += w
        tot_r += rd
        if w or rd:
            ev.append(
                f"stage {sid} ({st['name'].splitlines()[0][:60]}): "
                f"shuffle write {w/1e6:.2f} MB, read {rd/1e6:.2f} MB"
            )
    ev.append(
        f"TOTAL: write {tot_w/1e6:.2f} MB, read {tot_r/1e6:.2f} MB over "
        f"{n_docs} docs / {n_spans} spans = {tot_w/max(n_docs,1)/1e3:.1f} "
        "kB shuffled per doc"
    )
    sections.append(
        (
            "Flagship extraction — MEASURED shuffle bytes",
            "Runtime stage metrics from the status REST API (jobGroup-scoped "
            "run at this sf): the round-robin repartition of the joined "
            "media rows is the only material exchange; bytes/doc is the "
            "scale extrapolation basis — shuffle volume grows linearly with "
            "corpus size. Its payload is each media span's stored PNG, "
            "which the decode UDF preprocesses after the exchange.",
            ev,
        )
    )

    # 11. MinHash band-join skew split: a clone family shares every band
    # bucket, so one (band, bucket) key concentrates the family's quadratic
    # pair output on one task. Evidence that AQE skew-split bounds the
    # task-time spread: run the band self-join over a 30 %-clones corpus
    # with skew split on, and report (a) the executed plan's
    # SortMergeJoin(skew=true) + skewed AQEShuffleReads, (b) the join
    # stage's REST task summary — more tasks than shuffle partitions
    # (the hot partitions were subdivided) with bounded max task time.
    skew_confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "2k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.5",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    prev_confs = {k: spark.conf.get(k, None) for k in skew_confs}
    for k, v in skew_confs.items():
        spark.conf.set(k, v)
    try:
        n_docs, n_hot = 3000, 900
        hot_rows = [
            (i, "the quick brown fox jumps over the lazy dog again and again")
            if i < n_hot
            else (
                i,
                f"unique document number {i} about topic {i * 7 % 991} "
                f"and idea {i * 13 % 877} entirely",
            )
            for i in range(n_docs)
        ]
        hot_corpus = spark.createDataFrame(hot_rows, "doc_id long, text string")

        def run_band_join(tag: str, skew_on: bool):
            """One measured band self-join; returns (plan, join-stage line).
            The join stage is the one WRITING the pair shuffle — by far the
            largest shuffle write in the job (the banded input is tiny, the
            quadratic pair output is not)."""
            spark.conf.set(
                "spark.sql.adaptive.skewJoin.enabled", str(skew_on).lower()
            )
            sc.setJobGroup(tag, "minhash band join skew measurement")
            cand, skew_sh, skew_banded = D.minhash_band_candidates(
                hot_corpus, n=3, num_hashes=8, bands=4, max_freq=None
            )
            n_cand = len(cand.collect())
            sc.setJobGroup("plan-audit-rest", "")
            plan = cand._jdf.queryExecution().executedPlan().toString()
            skew_sh.unpersist()
            skew_banded.unpersist()
            with urllib.request.urlopen(
                f"{base}/api/v1/applications/{app_id}/jobs"
            ) as r:
                jb = _json.load(r)
            sids = {
                s
                for j in jb
                if j.get("jobGroup") == tag
                for s in j["stageIds"]
            }
            with urllib.request.urlopen(
                f"{base}/api/v1/applications/{app_id}/stages?status=complete"
            ) as r:
                sts = [s for s in _json.load(r) if s["stageId"] in sids]
            js = max(sts, key=lambda s: s["shuffleWriteBytes"])
            with urllib.request.urlopen(
                f"{base}/api/v1/applications/{app_id}/stages/"
                f"{js['stageId']}/{js['attemptId']}/taskSummary"
                "?quantiles=0.5,1.0"
            ) as r:
                med_ms, max_ms = _json.load(r)["duration"]
            line = (
                f"skewJoin={'on' if skew_on else 'off'}: join stage ran "
                f"{js['numCompleteTasks']} tasks, task duration median "
                f"{med_ms:.0f} ms / max {max_ms:.0f} ms (spread "
                f"{max_ms / max(med_ms, 1):.1f}x), {n_cand} candidates"
            )
            return plan, line

        plain_plan, plain_line = run_band_join("skew-measure-off", False)
        skew_plan, skew_line = run_band_join("skew-measure-on", True)
        ev = [
            l.strip()[:160]
            for l in skew_plan.splitlines()
            if "skew=true" in l or "AQEShuffleRead" in l
        ][:6]
        ev += [plain_line, skew_line]
        assert "skew=true" in skew_plan and "skew=true" not in plain_plan
        sections.append(
            (
                "MinHash band-join skew split (hot-bucket corpus)",
                f"{n_hot}/{n_docs} docs are clones, so one (band, bucket) "
                "key per band holds the whole family and hash partitioning "
                "serializes the family's quadratic pair output on single "
                "tasks. AQE skew-split subdivides those partitions "
                "(SortMergeJoin(skew=true), both AQEShuffleReads 'skewed') "
                "— same measured job with split off vs on shows the "
                "max-task-time spread collapse. Thresholds lowered for this "
                "audit scale — the 256 MB default floor is exactly this "
                "trigger at cluster scale. tests/test_skew.py pins the "
                "behavior plus candidate-set equality between the two runs.",
                ev,
            )
        )
    finally:
        for k, v in prev_confs.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    lines = [
        "# PLANS — physical-plan audit evidence",
        "",
        f"Generated by `tools/plan_audit.py` at `{sf_dir}`. Each section greps",
        "the `.explain(\"formatted\")` output for the load-bearing plan",
        "properties; regenerate after plan-affecting changes.",
        "",
    ]
    for title, claim, ev in sections:
        lines += [f"## {title}", "", claim, "", "```"]
        lines += ev or ["(no matching plan lines — REGRESSION, investigate)"]
        lines += ["```", ""]
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(lines))
    print("\n".join(lines))
    spark.stop()


if __name__ == "__main__":
    main()
