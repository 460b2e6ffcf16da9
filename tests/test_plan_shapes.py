"""Plan-shape regression tests: the physical plans the engine was designed
to produce (SURVEY.md §4) stay that way.

* extraction = one narrow stage, zero Exchange
* dim joins broadcast; fact tables shuffle only on their keys
* parquet scans push filters and prune columns
* the expression-only extraction path stays inside whole-stage codegen
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ocr_spark import datagen
from ocr_spark.operators.extract import extract_documents
from ocr_spark.operators.relational import (
    q3_shipping_topk,
    q5_region_revenue,
)
from ocr_spark.plans import checks

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def contract_path(tmp_path_factory):
    d = tmp_path_factory.mktemp("plans")
    p = os.path.join(d, "docs.parquet")
    datagen.generate_to_path(p, n_docs=50, seed=42)
    return p


def test_extraction_is_shuffle_free(spark, contract_path):
    out = extract_documents(spark.read.parquet(contract_path), order_by="meta")
    checks.assert_no_exchange(out, "extract_documents")


def test_extraction_prunes_box_before_python(spark, contract_path):
    """The scan reads only the meta fields the kernel uses: never meta.box,
    and meta.confidence only when the confidence filter is on."""
    docs = spark.read.parquet(contract_path)
    out = extract_documents(docs)
    assert "MapInArrow" in checks.physical_plan(out)
    rs = checks.read_schema(out)
    assert "meta:array<struct<page_no:int" in rs, rs
    assert "box" not in rs and "confidence" not in rs, rs
    rs = checks.read_schema(extract_documents(docs, conf_min=75))
    assert "confidence:int" in rs and "box" not in rs, rs


def test_dim_joins_broadcast(spark):
    checks.assert_broadcast_join(q3_shipping_topk(spark, SF), "q3")
    checks.assert_broadcast_join(q5_region_revenue(spark, SF), "q5")


def test_no_accidental_nested_loop_joins_anywhere(spark):
    """Whole-surface plan hygiene: no driver query may compile to a
    CartesianProduct or BroadcastNestedLoopJoin — the quadratic shapes
    that kill 100x scale-ups.  Sole allowed exception: multi_match, whose
    BNLJ broadcasts the constant 3-row query-term list (linear per token,
    documented in its docstring)."""
    import __spark_entry__ as entry_mod

    allowed_bnlj = {"multi_match"}
    flagged = {}
    for name, q in entry_mod.queries().items():
        plan = checks.physical_plan(q(spark, SF))
        if "CartesianProduct" in plan:
            flagged[name] = "cartesian"
        elif "BroadcastNestedLoopJoin" in plan and name not in allowed_bnlj:
            flagged[name] = "bnlj"
    assert not flagged, flagged


def test_spam_mass_has_no_single_partition_window(spark):
    """spam_mass's L1 totals must be driver scalars injected as literals
    (the hits._normalize pattern) — round 2 shipped a Window.partitionBy()
    global window that funneled the data-scaled domain table through ONE
    task.  No Exchange SinglePartition may appear anywhere in the plan."""
    import __spark_entry__ as entry_mod

    plan = checks.physical_plan(entry_mod.queries()["spam_mass"](spark, SF))
    assert "SinglePartition" not in plan, plan


def test_fuzzy_dict_is_blocked_hash_join(spark):
    """The fuzzy dictionary match must run as a length-band HASH join —
    round 1 shipped a BroadcastNestedLoopJoin over |vocab| x |corpus|."""
    import __spark_entry__ as entry_mod

    q = entry_mod.queries()["fuzzy_dict"](spark, SF)
    plan = checks.physical_plan(q)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan


def test_scan_pushdown_and_pruning(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.where(F.col("l_shipdate") <= F.lit("1995-01-01")).select(
        "l_orderkey", "l_quantity"
    )
    checks.assert_filter_pushed(q, "l_shipdate")
    checks.assert_column_pruned(q, "l_extendedprice")


def test_word_index_single_shuffle(spark):
    import __spark_entry__ as e

    q = e.queries()["word_index"](spark, SF)
    # explode → partial agg → one exchange → final agg
    assert checks.count_exchanges(q) == 1


def test_bucketed_tables_join_and_agg_shuffle_free(spark):
    """Co-bucketed tables (io.write_bucketed: same key, same n) must join
    AND aggregate with ZERO Exchange — the scan itself satisfies the
    hash-distribution requirement.  Broadcast is disabled and the join is
    hinted to merge so the assertion tests bucketing, not small-table
    shortcuts."""
    from ocr_spark.io import write_bucketed

    a = spark.range(1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("x")
    )
    b = spark.range(500).select(
        F.col("id").alias("doc_id"), (F.col("id") % 3).alias("y")
    )
    write_bucketed(a, "bkt_a", n_buckets=8)
    write_bucketed(b, "bkt_b", n_buckets=8)
    try:
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            ta, tb = spark.table("bkt_a"), spark.table("bkt_b")
            j = ta.hint("merge").join(tb, "doc_id")
            checks.assert_no_exchange(j, "co-bucketed join")
            assert j.count() == 500
            agg = ta.groupBy("doc_id").agg(F.sum("x").alias("sx"))
            checks.assert_no_exchange(agg, "bucketed agg")
            assert agg.count() == 1000
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("drop table if exists bkt_a")
        spark.sql("drop table if exists bkt_b")


def test_minhash_filter_never_inlines_signature(spark):
    """r2 regression lock: the empty-shingle guard must be a cheap
    token-count predicate at the scan — `WHERE sig[0] IS NOT NULL` let
    predicate pushdown inline the full 16-hash MinHash expression into
    the Filter (measured ~3x on the signature stage)."""
    from ocr_spark.operators.dedup import minhash_candidates

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = (
        minhash_candidates(docs)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    for line in plan.splitlines():
        if "Filter" in line:
            assert "array_min(" not in line, (
                f"MinHash signature re-inlined into a filter:\n{line}"
            )


def test_runtime_bloom_filter_prunes_fact_side(spark):
    """When a selective dim filter feeds a SHUFFLE join (broadcast off —
    the 100 TB case where the dim side is too big to broadcast but still
    selective), Spark's runtime bloom filter must inject: a
    bloom_filter_agg over the dim keys, applied as might_contain on the
    fact side BELOW its shuffle — the fact table is pruned before it
    pays the exchange.  This is the engine's designed semi-join pushdown
    for big-dim joins (session defaults leave
    spark.sql.optimizer.runtime.bloomFilter.enabled=true); thresholds
    are lowered here only because the sf0.001 fixtures are tiny."""
    sf = "/root/testdata/sf0.001"
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_cre = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold"
    )
    old_app = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "100MB",
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "1KB",
        )
        orders = spark.read.parquet(f"{sf}/orders.parquet").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = spark.read.parquet(f"{sf}/lineitem.parquet")
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = checks.physical_plan(j)
        assert "bloom_filter_agg" in plan, plan
        assert "might_contain" in plan, plan
        # and it still computes the right thing
        assert j.count() >= 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            old_cre,
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            old_app,
        )


def test_sorted_layout_skips_row_groups(spark, tmp_path):
    """write_sorted must produce a layout where parquet row-group min/max
    statistics actually prune a range predicate: (a) files cover disjoint
    sort-key ranges, (b) a selective predicate's qualifying row groups
    are a small fraction of the total, and (c) Spark pushes the predicate
    into the scan (PushedFilters), so the reader consumes those stats."""
    import pyarrow.parquet as pq

    from ocr_spark.io import write_sorted

    sf = "/root/testdata/sf0.001"
    events = spark.read.parquet(f"{sf}/events.parquet")
    out = str(tmp_path / "events_sorted")
    write_sorted(events, out, "ts", n_files=4)

    files = sorted(str(p) for p in (tmp_path / "events_sorted").glob("*.parquet"))
    assert len(files) >= 2
    spans, groups = [], []
    for f in files:
        md = pq.ParquetFile(f).metadata
        col_idx = next(
            i for i in range(md.num_columns)
            if md.schema.column(i).name == "ts"
        )
        mins, maxs = [], []
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(col_idx).statistics
            assert st is not None and st.has_min_max
            mins.append(st.min)
            maxs.append(st.max)
            groups.append((st.min, st.max))
        spans.append((min(mins), max(maxs)))
    # (a) file ranges are disjoint (range-clustered layout)
    spans.sort()
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, f"overlapping file ranges {hi1} vs {lo2}"

    # (b) a predicate touching the lowest ~10% of the ts domain
    #     intersects only a minority of row groups
    lo = min(s[0] for s in spans)
    hi = max(s[1] for s in spans)
    cut = lo + (hi - lo) * 0.1
    qualifying = sum(1 for g_lo, _ in groups if g_lo <= cut)
    overlapping = sum(1 for g_lo, g_hi in groups if g_lo <= cut and g_hi >= lo)
    assert overlapping < len(groups) / 2, (overlapping, len(groups))

    # (c) the predicate reaches the scan
    scan = spark.read.parquet(out).where(F.col("ts") <= F.lit(cut))
    plan = checks.physical_plan(scan)
    assert "PushedFilters: [" in plan and "LessThanOrEqual(ts" in plan, plan
    assert scan.count() > 0


def test_url_queries_survive_strict_codegen(spark):
    """Whole-stage codegen must actually COMPILE for the URL family.

    The trap (BENCH/BASELINE.md §3 finding 17): composing the live
    synthesized-URL expression into url_normalize/registered_domain
    re-inlines its md5/CASE tree ~8x, the generated hashAgg grouping-key
    method exceeds the JVM 64 KB limit, and Spark silently drops the agg
    stage to interpreted mode — correct results, big perf loss, zero
    plan-shape change.  ``spark.sql.codegen.fallback=false`` turns that
    silent fallback into an error, so this test fails if anyone
    reintroduces an oversized expression into these paths.
    """
    import __spark_entry__ as entry_mod

    q = entry_mod.queries()
    old = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        for name in (
            "url_dedup",
            "domain_stats",
            "domain_filter",
            "html_links",
            "link_edges",
            "anchor_terms",
            # r2 cont.: the crawl/metadata family rides the same
            # synthesized-URL fixture and regex-heavy projections
            "robots_filter",
            "html_meta",
            "canonical_dedup",
            "sitemap_seeds",
            "crawl_plan",
            "recrawl_diff",
            # r2 s6: md5-heavy contamination probe + the UniMax windows
            "bloom_decontaminate",
            "unimax_alloc",
            "unimax_plan",
            # r2 s7: the regex-ladder extractors + HTTP/robots additions
            "html_tables",
            "html_outline",
            "alto_words",
            "http_meta",
            "robots_sitemaps",
            "kwic_snippets",
        ):
            assert q[name](spark, SF).count() > 0
    finally:
        spark.conf.set("spark.sql.codegen.fallback", old)


def test_strict_codegen_gate_detects_the_trap(spark):
    """Canary for the gate itself: the OLD inline-fixture form (the
    synthesized URL left as a live expression under the domain rollup)
    must THROW under fallback=false — proving the strict-codegen test
    above can actually catch the 64 KB regression it guards against."""
    import __spark_entry__ as entry_mod
    from ocr_spark.operators.web import domain_blocklist_filter

    docs = spark.read.parquet(f"{SF}/documents.parquet").withColumn(
        "url", entry_mod._synth_url()
    )
    old = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        with pytest.raises(Exception, match="(?i)compil|codegen|64 ?KB|grows"):
            domain_blocklist_filter(docs).count()
    finally:
        spark.conf.set("spark.sql.codegen.fallback", old)


def test_q19_or_hull_pushed_to_part_scan(spark):
    """Q19's disjunction spans both join sides; Catalyst must extract the
    part-only hull of the OR and push it into the part parquet scan (the
    'common predicate extraction' rewrite) while the full residual stays
    above the hash join — never a filter-over-cartesian."""
    from ocr_spark.operators.relational import q19_disjunctive_join

    df = q19_disjunctive_join(spark, SF)
    plan = checks.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    pushed = checks.pushed_filters(df)
    assert "p_brand" in pushed, pushed  # the OR hull reached the scan


def test_q21_decorrelates_to_semi_plus_anti(spark):
    """The EXISTS must compile to a left-semi and the NOT EXISTS to a
    left-anti hash join — real decorrelation, no per-row subquery."""
    from ocr_spark.operators.relational import q21_waiting_supplier

    plan = checks.physical_plan(q21_waiting_supplier(spark, SF))
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q15_max_equality_is_hash_join(spark):
    """The revenue-equals-max comparison joins on the decimal agg value —
    an equi-key, so it must be a BroadcastHashJoin on the 1-row max
    relation, never a nested loop."""
    from ocr_spark.operators.relational import q15_top_supplier

    plan = checks.physical_plan(q15_top_supplier(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q6_is_scan_only_aggregate(spark):
    """Q6 is the pure scan-filter-agg: no join anywhere in the plan, and
    the ship-date / quantity predicates must reach the parquet scan."""
    from ocr_spark.operators.relational import q6_forecast_revenue

    df = q6_forecast_revenue(spark, SF)
    plan = checks.physical_plan(df)
    assert "Join" not in plan, plan
    checks.assert_filter_pushed(df, "l_shipdate")
    checks.assert_filter_pushed(df, "l_quantity")


def test_q16_not_in_compiles_to_anti_join(spark):
    """The supplier blacklist NOT IN (non-null keys) must become a hash
    left-anti join, never a null-aware nested loop."""
    from ocr_spark.operators.relational import q16_supplier_cnt

    plan = checks.physical_plan(q16_supplier_cnt(spark, SF))
    assert "LeftAnti" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q20_nested_in_is_semi_join_chain(spark):
    """Both IN subqueries must compile to left-semi hash joins."""
    from ocr_spark.operators.relational import q20_excess_supplier

    plan = checks.physical_plan(q20_excess_supplier(spark, SF))
    assert plan.count("LeftSemi") >= 2, plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q2_correlated_min_decorrelates(spark):
    """Q2's correlated scalar MIN must run as an aggregate re-join (hash
    joins throughout) — no per-row subquery, no cartesian."""
    from ocr_spark.operators.relational import q2_min_cost_supplier

    plan = checks.physical_plan(q2_min_cost_supplier(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_q11_global_scalar_is_true_scalar_subquery(spark):
    """The HAVING-vs-global-scalar comparison must run as a real scalar
    subquery (Catalyst substitutes the one-row total as a literal) — no
    join of any kind in the main plan; the non-equi join formulation
    would compile to a BroadcastNestedLoopJoin."""
    from ocr_spark.operators.relational import q11_important_stock

    plan = checks.physical_plan(q11_important_stock(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Subquery subquery" in plan, plan
