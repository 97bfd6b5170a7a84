"""Physical-plan audit: the properties that make these queries scale are
asserted, not assumed — filter pushdown into the parquet scan, column
pruning, broadcast joins for dims (never sort-merge against a small side),
single-shuffle windows, whole-stage codegen presence."""

from __future__ import annotations

import contextlib
import io

import pytest

from big_data_processing_with_aws_glue_workshop_spark.queries import (
    QUERIES,
    RETIRED_QUERIES,
)

SF = "/root/testdata/sf0.01"


def plan_of(spark, name: str) -> str:
    # retired queries keep their plan tests: retirement frees a driver
    # rotation slot, it does not waive the plan-shape contract
    df = {**QUERIES, **RETIRED_QUERIES}[name](spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_and_pruning(spark):
    plan = plan_of(spark, "pricing_summary")
    # shipdate predicate reaches the scan; only the 6 needed columns are read
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    assert "l_orderkey" not in plan
    assert "l_partkey" not in plan


def test_dim_joins_are_broadcast(spark):
    for name in (
        "revenue_by_supplier_nation",
        "customer_geography_rollup",
        "avg_balance_by_nation",
        "active_customers_by_segment",
    ):
        plan = plan_of(spark, name)
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, f"{name}: dim join degraded to SMJ"


def test_priority_filter_pushdown(spark):
    plan = plan_of(spark, "priority_filter")
    assert "In(o_orderpriority" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_window_dedup_single_shuffle(spark):
    plan = plan_of(spark, "latest_order_per_customer")
    assert "Window" in plan
    # exactly one exchange: the hash partition on o_custkey feeding the window
    assert plan.count("(Exchange") + plan.count("+- Exchange") == 1, plan


def test_anti_join_stays_join(spark):
    plan = plan_of(spark, "customers_without_orders")
    assert "LeftAnti" in plan


def test_cosine_topk_broadcasts_queries(spark):
    plan = plan_of(spark, "cosine_topk")
    # tiny query side broadcast against the corpus — not a shuffled cartesian
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_label_similarity_profile_is_linear(spark):
    """The separability profile must stay centroid-algebra: no pair join at
    all. The only nested-loop join allowed is the final 1-row x 1-row
    scalar combine; nothing in the plan may join two corpus-sized sides."""
    plan = plan_of(spark, "label_similarity_profile")
    assert "CartesianProduct" not in plan
    # one 1x1 scalar combine is fine; a second NLJ would mean a pair join
    # (formatted explain prints each node twice: tree line + detail header)
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan
    # the quadratic form's signature: a self-join filter on vec_id ordering
    assert "id_a" not in plan and "id_b" not in plan


def test_media_byte_histogram_single_scan(spark):
    """media_type rides through the feature extractor as a carry column:
    the plan must contain exactly ONE parquet scan and no join — a join
    back to a re-derived fixture would pack every payload twice."""
    import re

    plan = plan_of(spark, "media_byte_histogram")
    scans = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scans) == 1, plan
    assert "Join" not in plan, plan


def test_chunk_and_filter_are_shuffle_free(spark):
    """doc_chunk_plan and quality_filter_decisions are per-row array ops:
    after the one scan redistribution (parallelize_scan) the plan must hold
    NO further exchange — the property that makes them embarrassingly
    parallel at 100 TB."""
    for name in ("doc_chunk_plan", "quality_filter_decisions"):
        plan = plan_of(spark, name)
        assert plan.count("REPARTITION_BY_NUM") <= 1, name
        assert "ENSURE_REQUIREMENTS" not in plan, f"{name}: unexpected shuffle"
        assert "Join" not in plan, name


def test_prefix_clusters_dedup_on_digest(spark):
    """prefix_template_clusters groups on the 16-byte md5, never the raw
    prefix text: the aggregation key in the plan is the hash expression."""
    plan = plan_of(spark, "prefix_template_clusters")
    assert "md5" in plan
    # one keyed scan redistribution + one aggregation exchange, nothing more
    assert plan.count("ENSURE_REQUIREMENTS") <= 1, plan


def test_boilerplate_profile_single_doc_agg(spark):
    """The boilerplate profile computes both per-doc counts in ONE doc_id
    aggregation (flag join + conditional count), not two groupBys with a
    join of their results; document frequency is a hash aggregate (map-side
    partials), never a count-over-window on the gram."""
    plan = plan_of(spark, "boilerplate_ngram_profile")
    assert "Window" not in plan, "df must be a hash agg, not a window"


def test_codegen_present(spark):
    plan = plan_of(spark, "validation_profile")
    assert "WholeStageCodegen" in plan or "HashAggregate" in plan


def test_aqe_skew_join_splits_hot_key(spark):
    """A 90%-hot-key join must trigger AQE's skew split (the mechanism the
    session factory relies on at 100 TB instead of manual salting). Verified
    on the executed adaptive plan: SortMergeJoin(skew=true)."""
    from pyspark.sql import functions as F

    prev = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        )
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1MB"
    )
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1MB")
    try:
        left = spark.range(0, 2_000_000).select(
            F.when(F.col("id") % 10 != 0, 0).otherwise(F.col("id")).alias("k"),
            F.rand(1).alias("x"),
        )
        right = spark.range(0, 50_000).select(
            F.col("id").alias("k"), F.rand(2).alias("y")
        )
        joined = left.join(right, "k")
        # execute THIS QueryExecution (count() would plan a separate one)
        joined._jdf.queryExecution().toRdd().count()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_fact_fact_join_shuffle_shape(spark):
    """shipping_priority_topk is the big-fact x big-fact query: with
    broadcasting disabled (emulating sides too big for the threshold, as at
    production SF) it must run as shuffle joins with both filters still
    pushed to the scans — the shape the docstring promises for 100 TB."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(spark, "shipping_priority_topk")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "BroadcastHashJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    assert "GreaterThan(l_shipdate" in plan


def test_pii_profile_is_scan_bound(spark):
    """pii_redaction_profile must be a narrow regex projection + one
    source rollup: no join, no UDF/Python, at most the scan redistribution
    plus the single aggregation exchange — at 100 TB a compliance sweep
    must be scan-bound."""
    plan = plan_of(spark, "pii_redaction_profile")
    assert "Join" not in plan, plan
    assert "Python" not in plan and "ArrowEval" not in plan, plan
    assert plan.count("REPARTITION_BY_NUM") <= 1, plan
    assert plan.count("ENSURE_REQUIREMENTS") <= 1, plan


def test_passage_dedup_partial_aggregation(spark):
    """passage_dedup_profile aggregates on (source, 16-byte digest) with
    map-side partials (HashAggregate below the exchange) and never joins:
    the digest keys are uniform, so no hot-key mitigation is needed and
    the shuffle carries one row per distinct passage per partition."""
    plan = plan_of(spark, "passage_dedup_profile")
    assert "Join" not in plan, plan
    assert "md5" in plan
    assert "Window" not in plan, plan


def test_passage_dedup_rewrite_plan_shape(spark):
    """The rewrite's scale contract: passage TEXT never shuffles — the
    winner election and reassembly move 16-byte digests and int block
    indices, and the document's words are re-sliced from its own row at
    an id-keyed join. Plan must show hash aggregation on the digest (no
    Window/row_number winner election), no Python/Arrow nodes, and no
    cartesian/broadcast-NLJ shapes."""
    plan = plan_of(spark, "passage_dedup_rewrite")
    assert "md5" in plan
    assert "Window" not in plan, plan
    assert "Python" not in plan and "ArrowEval" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_interval_join_batch_pushes_type_filters(spark):
    """Both event_type filters must reach their parquet scans (the join's
    two sides are filters over one source — each scan should read only
    its slice), and the time bound stays a join-level predicate, not a
    post-join filter over a cross product."""
    plan = plan_of(spark, "interval_join_batch")
    assert "EqualTo(event_type,click)" in plan, plan
    assert "EqualTo(event_type,error)" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_bigram_scores_broadcast_vocab(spark):
    """The vocab-sized unigram tables join back onto the pair table as
    broadcasts; nothing shuffles the corpus-sized side for them, and the
    whole query carries no Python."""
    plan = plan_of(spark, "bigram_association_scores")
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Python" not in plan and "ArrowEval" not in plan, plan


def test_quantization_profile_is_scan_bound(spark):
    """embedding_quantization_profile: explode + hash aggregate on a
    bounded (label, code) key space — no join, no Python, map-side
    partials ahead of the single aggregation exchange."""
    plan = plan_of(spark, "embedding_quantization_profile")
    assert "Join" not in plan, plan
    assert "Python" not in plan and "ArrowEval" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_balanced_sample_map_side_group_limit(spark):
    """The rank<=K filter must be rewritten into a Partial
    WindowGroupLimit BEFORE the exchange (the property the docstring's
    hot-source claim rests on): each mapper forwards at most K rows per
    source, so a hot source costs what a cold one does."""
    plan = plan_of(spark, "balanced_sample_plan")
    # two WindowGroupLimit nodes: the Partial one below the Exchange
    # (map-side) and the Final one above it
    assert plan.count("WindowGroupLimit") >= 2, plan
    tree = plan.split("(1) Scan")[0]
    assert tree.index("Exchange") < tree.rindex("WindowGroupLimit"), tree
    assert "Partial" in plan, plan


def test_dynamic_partition_pruning_on_partitioned_lake(spark, tmp_path):
    """A hive-partitioned fact joined to a filtered dim must get a runtime
    partition filter (DPP): the scan's PartitionFilters carries a
    dynamicpruning subquery fed by the dim's broadcast, so at 100 TB only
    the partitions matching the dim filter are listed and read — the
    storage-layout payoff of sources/writers.py::write_parquet_partitioned."""
    from pyspark.sql import functions as F

    fact = spark.range(0, 20000).select(
        "id", (F.col("id") % 20).alias("pk"), (F.col("id") * 3).alias("v")
    )
    fact.write.partitionBy("pk").mode("overwrite").parquet(str(tmp_path / "fact"))
    dim = spark.range(0, 20).select(
        F.col("id").alias("pk"),
        F.when(F.col("id") < 3, "hot").otherwise("cold").alias("tag"),
    )
    j = (
        spark.read.parquet(str(tmp_path / "fact"))
        .join(dim, "pk")
        .filter(F.col("tag") == "hot")
        .groupBy("pk")
        .agg(F.sum("v").alias("s"))
    )
    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        j.explain("formatted")
    plan = buf.getvalue()
    assert "dynamicpruning" in plan.lower(), plan
    assert j.count() == 3  # and the pruned plan still computes all hot groups


def test_runtime_bloom_filter_reduces_shuffle_join_probe_side(spark, tmp_path):
    """With broadcast disabled (the 100 TB big-dim case), a selective join
    must still be able to prune the probe side at runtime via Spark's
    row-level bloom filter: the filtered build side aggregates a bloom
    sketch and the fact scan applies might_contain BEFORE the shuffle, so
    only candidate rows are exchanged. Thresholds are lowered to make the
    optimizer fire on test-sized data; at real scale the defaults govern."""
    from pyspark.sql import functions as F

    fact = spark.range(0, 20000).select("id", (F.col("id") * 3).alias("v"))
    fact.write.mode("overwrite").parquet(str(tmp_path / "fact"))
    dim = spark.range(0, 200).select(
        F.col("id").alias("pk"),
        F.when(F.col("id") < 5, "hot").otherwise("cold").alias("tag"),
    )
    dim.write.mode("overwrite").parquet(str(tmp_path / "dim"))
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        f = spark.read.parquet(str(tmp_path / "fact"))
        d = spark.read.parquet(str(tmp_path / "dim")).filter(F.col("tag") == "hot")
        j = f.join(d, f.id % 97 == d.pk).groupBy("pk").count()
        import contextlib, io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue().lower()
        assert "bloomfilter" in plan or "might_contain" in plan, plan
        assert j.count() == 5
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_q21_blame_scans_fact_once(spark):
    """sole_late_supplier_blame's decorrelation claim: the lineitem fact
    is scanned ONCE (the cached per_os feeds both sides of the blame
    join) and crosses ONE fact-sized shuffle (the explicit orderkey
    repartition; HashPartitioning(ok) satisfies the (ok, sk) aggregate so
    the groupBy adds no exchange)."""
    df = QUERIES["sole_late_supplier_blame"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # both blame-join branches read the ONE cached per_os (toString prints
    # the cached subplan under each reference, so every textual lineitem
    # FileScan must sit inside an InMemoryRelation definition — an
    # uncached fact scan would break the equality)
    assert plan.count("InMemoryTableScan") == 2, plan
    assert plan.count("lineitem.parquet") == plan.count("InMemoryRelation"), plan
    # exactly one fact-sized shuffle per cached-plan printout: the
    # explicit orderkey repartition; the (ok, sk) aggregate rides it with
    # no ENSURE_REQUIREMENTS exchange in the cached subtree
    assert plan.count("REPARTITION_BY_COL") == plan.count("InMemoryRelation"), plan
    first_def = plan.split("InMemoryRelation", 1)[1]
    agg_over_repartition = first_def.split("REPARTITION_BY_COL", 1)[0]
    assert "ENSURE_REQUIREMENTS" not in agg_over_repartition, plan


def test_bloom_decontamination_probe_side_is_map_side(spark):
    """bloom_decontaminated_docs: the bitmap packs to ONE broadcast row
    (a single BNLJ of a 1-row map side — formatted explain prints the
    node twice) and all k membership lookups are pure expressions over
    it, so the corpus-scale probe side is never shuffled for the
    membership test, the bloom-build aggregation runs ONCE (the r9
    chained-join formulation recomputed it k times), and no cartesian
    shape appears."""
    plan = plan_of(spark, "bloom_decontaminated_docs")
    assert 1 <= plan.count("BroadcastNestedLoopJoin") <= 2, plan
    assert "CartesianProduct" not in plan, plan
    # one build subtree: partial+final bit_or aggregate mentions only —
    # the k-chained-joins shape showed ~5x this
    assert plan.count("bit_or") <= 10, plan


# Queries whose plan legitimately contains a Python execution node: the
# documented Arrow-batched mapInPandas islands (SURVEY §2.9 — multimodal
# decode, ANN codebook scoring). Everything else in the registry must
# stay entirely JVM-side; a row-at-a-time BatchEvalPython node is never
# acceptable anywhere (the 10-100x slow path the zero-UDF policy bans).
_ARROW_ISLAND_QUERIES = {
    "media_probe_profile",
    "media_pixel_stats",
    "media_audio_stats",
    "media_frame_stats",
    "media_byte_histogram",
    "ann_lsh_topk",
    "ivf_ann_topk",
    # k-means cell assignment + block-matmul candidate prefilter
    # (extensions/similarity.py — numpy over Arrow batches, justified
    # in-code; the exact verify that follows is JVM-side)
    "embedding_near_dup_clustered",
    # same two islands through cosine_similarity_join (assignment
    # pandas_udf + blocked_candidate_pairs cogroup); exact fold verify
    # stays JVM-side
    "cross_corpus_contamination",
}


def test_registry_wide_python_node_audit(spark):
    """Sweep EVERY registered + retired query's physical plan: (1) no
    row-at-a-time Python UDF node anywhere, ever; (2) Arrow/Pandas
    nodes only in the allowlisted island queries — so a future edit
    that quietly drops a hot path out of whole-stage codegen into
    Python fails this test instead of shipping. Plans only (no
    execution): the whole sweep builds ~100 plans in seconds."""
    offenders_row_at_a_time = []
    offenders_python = []
    for name in {**QUERIES, **RETIRED_QUERIES}:
        plan = plan_of(spark, name)
        if "BatchEvalPython" in plan:
            offenders_row_at_a_time.append(name)
        if (
            "ArrowEvalPython" in plan or "MapInPandas" in plan
        ) and name not in _ARROW_ISLAND_QUERIES:
            offenders_python.append(name)
    assert not offenders_row_at_a_time, (
        f"row-at-a-time Python UDF nodes in: {offenders_row_at_a_time}"
    )
    assert not offenders_python, (
        f"unallowlisted Python execution nodes in: {offenders_python} — "
        "either restore the JVM-side plan or (if the Python island is "
        "genuinely justified) add the query to _ARROW_ISLAND_QUERIES "
        "with the in-code justification §2.9 requires"
    )


def test_nparts_memo_is_a_bounded_lru(monkeypatch):
    """parallelize_scan's split-count memo keeps at most _NPARTS_MEMO_MAX
    keys, evicting the least recently used; a hit does not re-probe."""
    from collections import OrderedDict

    from big_data_processing_with_aws_glue_workshop_spark.queries import _tables

    monkeypatch.setattr(_tables, "_NPARTS_MEMO", OrderedDict())
    monkeypatch.setattr(_tables, "_NPARTS_MEMO_MAX", 3)
    probes = []

    def memo(key):
        return _tables._memo_nparts(key, lambda: probes.append(key) or len(probes))

    assert [memo(k) for k in ("a", "b", "c")] == [1, 2, 3]
    assert memo("a") == 1  # hit: "a" becomes the most recent
    memo("d")  # evicts "b", the least recently used
    assert list(_tables._NPARTS_MEMO) == ["c", "a", "d"]
    assert memo("b") == 5  # evicted: probed again
    assert probes == ["a", "b", "c", "d", "b"]
    assert len(_tables._NPARTS_MEMO) == 3
