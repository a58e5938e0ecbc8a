"""Physical-plan audits: the plans Catalyst produces are the plans we
want at 100 TB — filters and projections reach the parquet scan, small
dimensions broadcast, aggregates combine map-side, hot stages stay in
whole-stage codegen."""

import re

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df, mode="formatted") -> str:
    jmode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


def test_filter_and_projection_pushdown(spark):
    """A filtered 2-column projection must not scan all columns."""
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .where(F.col("l_quantity") > 40)
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40.0)" in plan
    # ReadSchema carries only the two referenced columns
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema and "l_shipdate" not in read_schema


def test_broadcast_join_for_dimensions(spark):
    """revenue_by_nation broadcasts customer/nation, never shuffles
    lineitem for them."""
    import __spark_entry__ as e

    plan = _plan(e.q_revenue_by_nation(spark, SF), "simple")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_merge_antijoin_broadcasts_batch_keys(spark, tmp_path):
    """The MERGE survivor anti-join must broadcast the batch-key side
    (table side streams)."""
    import pandas as pd

    from chunker_spark.cdc import EVENT_SCHEMA, GenSpec, LakeTable, apply_batch, gen_events_local
    from chunker_spark.cdc.lake import bucket_expr
    from chunker_spark.cdc.schema import KEY_COLS
    from chunker_spark.kernel import ChunkerParams

    params = ChunkerParams(average_bits=9, min_size=256, max_size=4096)
    events = list(gen_events_local(GenSpec(seed=3, n_keys=20, mean_blocks=2), 60))
    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=4)
    pdf = pd.DataFrame(events)[[f.name for f in EVENT_SCHEMA.fields]]
    apply_batch(lake, spark.createDataFrame(pdf, EVENT_SCHEMA), "b0", params=params)

    old = lake.read()
    keys = F.broadcast(old.select(*KEY_COLS).limit(5))
    survivors = old.join(keys, on=list(KEY_COLS), how="left_anti")
    plan = _plan(survivors, "simple")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_partial_aggregation_and_codegen(spark):
    """Aggregations run partial (map-side combine) then final, inside
    whole-stage codegen spans."""
    import __spark_entry__ as e

    plan = _plan(e.q_pricing_summary(spark, SF))
    # two-phase aggregate: partial (map-side combine) below the
    # exchange, final above it
    assert plan.count("HashAggregate") >= 4  # 2 operators, tree + detail
    assert "partial" in plan.lower()
    # whole-stage codegen confirmed on the executed plan (AQE's
    # formatted string hides codegen spans pre-execution)
    df = e.q_pricing_summary(spark, SF)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "*(" in executed  # whole-stage-codegen stage markers


def test_apply_batch_lww_is_partial_final_around_one_exchange(spark, tmp_path, monkeypatch):
    """A hot-path apply_batch batch reduces last-writer-wins with one
    max_by aggregate planned partial → final around its key exchange:
    the map-side combine sends a hot key at most one row per input
    partition to that exchange (the skew bound). The batch crosses
    exactly two exchanges, that one and _spread, and no broadcast. A key
    whose versions span several input partitions commits its max-seq
    version."""
    import random

    import pandas as pd

    from chunker_spark.cdc import EVENT_SCHEMA, GenSpec, LakeTable, apply_batch, gen_events_local
    from chunker_spark.kernel import ChunkerParams

    params = ChunkerParams(average_bits=9, min_size=256, max_size=4096)
    events = list(gen_events_local(GenSpec(seed=3, n_keys=10, mean_blocks=2), 40))
    base = next(e for e in events if e["op"] != "D")
    hot = (base["repo"], base["path"])
    seqs = list(range(1000, 1060))
    random.Random(1).shuffle(seqs)  # the max-seq version is not the last row
    batch = [e for e in events if (e["repo"], e["path"]) != hot]
    for i, seq in enumerate(seqs):  # interleave the hot key's versions through the batch
        batch.insert(min(2 * i, len(batch)), {**base, "op": "U", "seq": seq, "commit": f"hot-{seq}"})
    pdf = pd.DataFrame(batch)[[f.name for f in EVENT_SCHEMA.fields]]
    raw = spark.createDataFrame(pdf, EVENT_SCHEMA)
    hot_parts = (
        raw.where((F.col("repo") == hot[0]) & (F.col("path") == hot[1]))
        .select(F.spark_partition_id()).distinct().count()
    )
    assert hot_parts >= 2  # the hot key's versions span input partitions

    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=4)
    deltas = []
    append_delta = LakeTable.append_delta

    def spy(self, delta_rows, batch_id, stats_fn=None):
        deltas.append(delta_rows)
        return append_delta(self, delta_rows, batch_id, stats_fn=stats_fn)

    monkeypatch.setattr(LakeTable, "append_delta", spy)
    apply_batch(lake, raw, "b0", params=params, collect_metrics=False)

    lines = _plan(deltas[0], "simple").splitlines()
    plan = "\n".join(lines)
    assert "Broadcast" not in plan, plan  # no BroadcastExchange, no broadcast join
    exchanges = [i for i, l in enumerate(lines) if re.search(r"\bExchange ", l)]
    assert len(exchanges) == 2, plan  # the LWW key exchange and _spread
    final = [i for i, l in enumerate(lines) if "max_by(" in l and "partial_max_by(" not in l]
    partial = [i for i, l in enumerate(lines) if "partial_max_by(" in l]
    assert len(final) == 1 and len(partial) == 1, plan
    between = [i for i in exchanges if final[0] < i < partial[0]]
    assert len(between) == 1, plan  # partial → one exchange → final
    assert re.search(r"hashpartitioning\(repo#\d+, path#\d+", lines[between[0]]), plan
    # _spread sits above the final aggregate: the winners, not every
    # version, reach the layout exchange
    assert min(exchanges) < final[0], plan

    got = lake.read().where((F.col("repo") == hot[0]) & (F.col("path") == hot[1]))
    assert [r.commit for r in got.select("commit").collect()] == [f"hot-{max(seqs)}"]


def test_dedup_exact_shuffle_key_is_fingerprint(spark):
    """q_dedup_exact must aggregate on the 64-hex sha256 fingerprint —
    the exchange partitions on `fp`, never on the raw text column."""
    import __spark_entry__ as e

    plan = _plan(e.q_dedup_exact(spark, SF))
    exchanges = [l for l in plan.splitlines() if "hashpartitioning(" in l]
    assert exchanges, plan
    assert all("fp#" in l for l in exchanges)
    assert all("text#" not in l for l in exchanges)


def test_embedding_dedup_has_no_cartesian_join(spark):
    """The exact embedding near-dup path must not plan an all-pairs
    join: candidates come from the blocked-matmul applyInPandas stage,
    verify joins are equi-joins on candidate ids."""
    import __spark_entry__ as e

    plan = _plan(e.q_embedding_dedup(spark, SF), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapGroupsInPandas" in plan  # the blocked matmul stage


def test_minhash_band_join_is_fixed_width_and_sig_reused(spark):
    """The banded candidate join partitions on (band, bkt) without the
    64-long signature arrays; signatures come from ONE materialized
    computation (eager localCheckpoint), so the candidate+verify plan
    reads checkpointed rows (Scan ExistingRDD: banding + both verify
    sides) and contains NO Python/Arrow stage at all — the UDF ran
    exactly once, before the joins. Broadcast is disabled so the test
    sees the shuffle plan this join gets at scale (at sf0.001
    everything would broadcast)."""
    from chunker_spark.ops.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = minhash_lsh_pairs(docs, num_hashes=32, bands=8, threshold=0.5)
        plan = _plan(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    band_exchanges = [
        l for l in plan.splitlines()
        if "hashpartitioning(" in l and "band#" in l
    ]
    assert band_exchanges, plan
    assert all("sig#" not in l for l in band_exchanges)
    assert plan.count("Scan ExistingRDD") >= 3  # banding + both verify joins
    assert "ArrowEvalPython" not in plan  # signature UDF ran once, pre-plan


def test_batch_spread_spreads_monorepo_keys(spark):
    """Monorepo skew: a batch whose keys all live in one repo must still
    spread across partitions in apply_batch's one payload exchange
    (north_rule) — no partition holds more than a small multiple of the
    mean. AQE is off so the exchange keeps its 16 partitions instead of
    coalescing the small test batch."""
    from chunker_spark.cdc.merge import _spread

    rows = [("repo-0", f"src/f{i}.py", f"c{i}") for i in range(2000)]
    df = spark.createDataFrame(rows, "repo string, path string, commit string")
    parts = 16
    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    old = {k: spark.conf.get(k) for k in keys}
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        sizes = _spread(df, num_buckets=16).rdd.glom().map(len).collect()
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert len(sizes) == parts
    nonempty = [s for s in sizes if s]
    assert len(nonempty) >= parts // 2  # most partitions carry work
    assert max(sizes) <= 3 * (2000 / parts)  # no hot partition


def test_semi_join_pushes_returnflag_filter(spark):
    """orders_returned_exists: the l_returnflag predicate reaches the
    lineitem scan, and only l_orderkey survives the projection — the
    join shuffles 8-byte keys, never lineitem payload."""
    import __spark_entry__ as e

    plan = _plan(e.q_orders_returned_exists(spark, SF))
    assert "EqualTo(l_returnflag,R)" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l and "l_orderkey" in l][0]
    assert "l_extendedprice" not in read_schema and "l_quantity" not in read_schema
    assert "LeftSemi" in plan


def test_debezium_parse_single_scan_no_python(spark):
    """Envelope parsing is one JVM-side projection: no Python workers
    (no BatchEvalPython / ArrowEvalPython), and the clean/DLQ split
    plans as filters over the same from_json scan."""
    import json as _json

    from chunker_spark.cdc.envelopes import split_malformed

    raw = spark.createDataFrame(
        [(_json.dumps({"op": "c", "ts_ms": 1, "after": {"repo": "r", "path": "p"},
                       "source": {"lsn": "1"}}),)],
        "value string",
    )
    clean, dlq = split_malformed(raw)
    for df in (clean, dlq):
        plan = _plan(df, "simple")
        assert "EvalPython" not in plan  # no row-at-a-time or Arrow Python
        assert "from_json" in plan or "Project" in plan


def test_sessionize_single_exchange_on_real_table(spark):
    """events_sessions over the real events table: exactly one Exchange
    (the key window); lag/flag/cumsum/groupBy all reuse it."""
    import __spark_entry__ as e

    plan = _plan(e.q_events_sessions(spark, SF), "simple")
    assert plan.count("Exchange") == 1, plan


def test_rollup_is_single_expand_pass(spark):
    """order_rollup: one Expand node, no union of per-level rescans."""
    import __spark_entry__ as e

    plan = _plan(e.q_order_rollup(spark, SF), "simple")
    assert plan.count("Expand") == 1
    assert plan.count("Scan parquet") == 1


def test_cdf_payload_joined_back_only_for_changed_keys(spark, tmp_path):
    """changes() must not shuffle content in the state-diff join: the
    full-outer diff carries only key/seq/deleted columns."""
    import pandas as pd

    from chunker_spark.cdc import EVENT_SCHEMA, GenSpec, LakeTable, apply_batch, gen_events_local
    from chunker_spark.kernel import ChunkerParams

    params = ChunkerParams(average_bits=9, min_size=256, max_size=4096)
    events = list(gen_events_local(GenSpec(seed=7, n_keys=20, mean_blocks=2), 80))
    lake = LakeTable(spark, str(tmp_path / "lake"), num_buckets=2)
    pdf = pd.DataFrame(events)[[f.name for f in EVENT_SCHEMA.fields]]
    apply_batch(lake, spark.createDataFrame(pdf[:40], EVENT_SCHEMA), "b0", params=params)
    apply_batch(lake, spark.createDataFrame(pdf[40:], EVENT_SCHEMA), "b1", params=params)
    plan = _plan(lake.changes(since=0))
    # the FullOuter join itself must not reference the content column
    join_lines = [l for l in plan.splitlines() if "FullOuter" in l]
    assert join_lines and all("content" not in l for l in join_lines)


def test_asof_join_is_linear_no_pair_blowup(spark):
    """The as-of join must plan as union -> ONE hash Exchange -> sort ->
    window — never a non-equi nested-loop/cartesian (the O(|L|x|R|)
    trap a range-predicate formulation falls into)."""
    import __spark_entry__ as e

    plan = _plan(e.q_events_asof_click(spark, SF), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert plan.count("Exchange") == 1, plan


def test_range_join_no_nested_loop(spark):
    """The bucketed range join must plan as an EQUI-join (hash or
    sort-merge on the bucket key) + exact filter — never the
    BroadcastNestedLoopJoin/cartesian Catalyst produces for a raw
    lo <= v < hi predicate."""
    import __spark_entry__ as e

    plan = _plan(e.q_events_value_tiers(spark, SF), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_packing_single_exchange_text_never_shuffles(spark):
    """doc_pack: ONE Exchange (the shard hash partition) and it carries
    only fixed-width columns — the document text is consumed by the
    hash/token projection before the shuffle."""
    import __spark_entry__ as e

    plan = _plan(e.q_doc_pack(spark, SF), "simple")
    assert plan.count("Exchange") == 1, plan
    exchange_line = [l for l in plan.splitlines() if "Exchange" in l][0]
    assert "text" not in exchange_line, exchange_line


def test_tfidf_text_dropped_at_tokenizer(spark):
    """lang_top_terms: the explode produces fixed-width (id, lang, term)
    rows; no Exchange carries the raw text column, and the corpus-size
    scalar rides in as a broadcast, not a shuffle."""
    import __spark_entry__ as e

    plan = _plan(e.q_lang_top_terms(spark, SF), "simple")
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text#" not in line, line
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_kmeans_assign_is_map_only(spark):
    """Centroid assignment adds NO exchange: centroids are plan
    literals, the distance fold is JVM built-ins (no Python worker)."""
    from chunker_spark.ops.clustering import kmeans_assign

    v = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    dim = v.select(F.size("embedding").alias("d")).first()["d"]
    cents = [(i, [float(i)] * dim) for i in range(4)]
    plan = _plan(kmeans_assign(v, cents), "simple")
    assert "Exchange" not in plan, plan
    assert "Python" not in plan and "ArrowEval" not in plan, plan


def test_stratified_sample_single_exchange(spark):
    """Exact stratified sampling: one hash Exchange on the strata; rank
    and per-stratum count share the same window sort."""
    import __spark_entry__ as e

    plan = _plan(e.q_doc_stratified(spark, SF), "simple")
    assert plan.count("Exchange") == 1, plan


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Spark-native bucketing: two tables bucketed+sorted on the join
    key join with NO Exchange on either side — the strategy for 100 TB
    fact-fact joins that repeat across a pipeline (pay the partitioned
    write once, skip the shuffle on every subsequent join). Bucket
    counts must match; broadcast disabled to force the merge path."""
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    customer = spark.read.parquet(f"{SF}/customer.parquet")
    (
        orders.write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", str(tmp_path / "orders_b"))
        .mode("overwrite").saveAsTable("orders_bucketed")
    )
    (
        customer.write.bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", str(tmp_path / "customer_b"))
        .mode("overwrite").saveAsTable("customer_bucketed")
    )
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = (
            spark.table("orders_bucketed")
            .join(
                spark.table("customer_bucketed"),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            .groupBy("c_mktsegment")
            .count()
        )
        plan = _plan(j, "simple")
        assert "SortMergeJoin" in plan
        # the join itself is exchange-free: the only Exchange in the plan
        # is the one the final tiny groupBy needs
        join_part = plan.split("SortMergeJoin")[1]
        assert "Exchange" not in join_part, plan
        # value sanity vs the plain (shuffled) join
        plain = (
            orders.join(customer, F.col("o_custkey") == F.col("c_custkey"))
            .groupBy("c_mktsegment")
            .count()
        )
        assert sorted(map(tuple, j.collect())) == sorted(map(tuple, plain.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS orders_bucketed")
        spark.sql("DROP TABLE IF EXISTS customer_bucketed")


def test_boilerplate_text_never_shuffles(spark):
    """remove_boilerplate_lines over the raw documents table: every
    shuffle Exchange in the plan moves fixed-width ints only — the line
    text reaches no Exchange (the df count runs on (hash, id) pairs,
    the drop join projects (id, pos), and the rebuild is a positional
    array filter on the un-shuffled original column). Audited on the
    formatted plan, whose Exchange blocks list their output columns."""
    from chunker_spark.ops.boilerplate import remove_boilerplate_lines

    df = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(remove_boilerplate_lines(df), "formatted")
    # formatted output: each "(N) Exchange" block is followed by its
    # Input/Arguments lines naming the columns it carries
    blocks = re.split(r"\n\(\d+\) ", plan)
    exchange_blocks = [b for b in blocks if b.startswith("Exchange")]
    assert exchange_blocks, plan  # the df aggregate must really shuffle
    for b in exchange_blocks:
        assert "text#" not in b and "_bp_line" not in b, b


def test_mixture_sample_single_exchange(spark):
    """doc_mixture: the per-source rank+count windows and the CASE quota
    share ONE hash Exchange on the stratum — the quota lookup adds no
    join, no shuffle."""
    import __spark_entry__ as e

    plan = _plan(e.q_doc_mixture(spark, SF), "simple")
    assert plan.count("Exchange") == 1, plan


def test_weighted_sample_is_partial_topk_not_full_sort(spark):
    """doc_weighted_sample: the global top-k plans as
    TakeOrderedAndProject — per-partition partial top-k feeding a
    driver-side merge of k rows — with NO sort Exchange (rangepartitioning
    would mean a full distributed sort of the corpus for 100 rows)."""
    import __spark_entry__ as e

    plan = _plan(e.q_doc_weighted_sample(spark, SF), "simple")
    assert "TakeOrderedAndProject" in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """Catalyst's runtime row-group pruning: a selective dimension
    filter on orders injects a BloomFilter aggregate whose might_contain
    guards the lineitem side of the shuffle join — scan rows that can't
    match die before the Exchange. This is free plan quality at 100 TB
    (the o_orderkey bloom replaces a full-fact shuffle of misses); the
    audit pins that our session config keeps it ON and the plan shape
    triggers it."""
    conf = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        # at sf0.001 the fact scan is far below the default 10GB
        # application-side threshold that gates injection in production
        # (where it would fire unaided) — drop it so the plan shape is
        # testable at toy scale
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force the shuffle join shape
    }
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        orders = spark.read.parquet(f"{SF}/orders.parquet").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        joined = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
            "o_orderpriority"
        ).count()
        plan = _plan(joined, "formatted")
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan.lower() or "BloomFilterAggregate" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_doc_windows_plan_is_map_only(spark):
    """Sliding-window chunking must be a pure scan->generate->project
    stage: zero Exchanges (nothing to shuffle — each window derives
    from its own input row) and the generate/projection inside
    whole-stage codegen territory."""
    import __spark_entry__ as e

    plan = _plan(e.q_doc_windows(spark, SF))
    assert "Exchange" not in plan, plan
    assert "Generate" in plan, plan


def test_semdedup_plan_cluster_join_no_cartesian(spark):
    """SemDeDup's pairwise stage must be the cluster-keyed equi-join —
    never a cartesian/BNLJ — and the centroid assignment must be
    exchange-free (literals in codegen). The verdict aggregate's
    exchange carries fixed-width (id, cluster, ...) rows, not
    embeddings."""
    import __spark_entry__ as e

    plan = _plan(e.q_semdedup(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the final aggregate partitions on the verdict key, embedding-free
    agg_exchanges = [
        l for l in plan.splitlines() if "Exchange hashpartitioning" in l and "id" in l
    ]
    assert all("emb" not in l for l in agg_exchanges), plan


def test_aqe_skew_join_splits_mega_cluster(spark):
    """The 100 TB skew story behind the cluster-scoped pairwise ops
    (SemDeDup's cluster join, the LSH band joins): when one cluster or
    bucket dwarfs the rest, AQE's skew-join must split that shuffle
    partition across parallel tasks instead of handing one task the
    whole quadratic bucket. Thresholds are tuned down to exercise the
    mechanism at test scale; the assertion is on the FINAL adaptive
    plan — the sort-merge join must carry skew=true after execution."""
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        payload = "x" * 200
        rows = [(0, i, payload) for i in range(3000)] + [
            (k, 0, payload) for k in range(1, 400)
        ]
        df = spark.createDataFrame(rows, "cluster int, id long, emb string")
        # downstream must NOT reuse the join key's partitioning (a
        # groupBy(cluster) right after would make AQE skip the split
        # to preserve the partitioning guarantee — itself a lesson for
        # operator authors): a global aggregate leaves AQE free
        j = (
            df.alias("l")
            .join(df.alias("r"), "cluster")
            .where(F.col("l.id") < F.col("r.id"))
            .agg(F.count(F.lit(1)).alias("n_pairs"))
        )
        assert j.collect()[0]["n_pairs"] == 3000 * 2999 // 2  # exact: only the mega-cluster pairs
        final = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final, final
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_variant_query_is_jvm_side_and_pruned(spark):
    """events_props_variant: VARIANT shred + typed gets are JVM
    expressions (no Python in the plan), and the scan reads only the
    two referenced columns."""
    import __spark_entry__ as e

    plan = _plan(e.q_events_props_variant(spark, SF))
    assert "pythonUDF" not in plan and "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "props" in read_schema and "event_type" in read_schema
    assert "value" not in read_schema and "user_id" not in read_schema


def test_session_window_single_exchange(spark):
    """events_session_window: one hash Exchange on the key; the
    session-window aggregation rides it (no second shuffle)."""
    import __spark_entry__ as e

    plan = _plan(e.q_events_session_window(spark, SF), "simple")
    assert plan.count("Exchange") == 1, plan


def test_hll_union_rollup_two_level_aggregate(spark):
    """user_distinct_rollup: the daily partial and the union rollup are
    hash aggregates with map-side partials; no Python, no sort-based
    fallback for the sketch column."""
    import __spark_entry__ as e

    plan = _plan(e.q_user_distinct_rollup(spark, SF), "simple")
    assert "pythonUDF" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final x two levels


def test_table_diff_join_is_content_free(spark):
    """table_diff over the documents table: payloads reduce map-side to
    (key, digest) — the full-outer join must not reference the text
    column."""
    from chunker_spark.ops.audit import table_diff

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    d = table_diff(docs, docs.where(F.col("doc_id") % 7 != 0), ["doc_id"], ["text"])
    plan = _plan(d)
    join_lines = [l for l in plan.splitlines() if "FullOuter" in l]
    assert join_lines and all("text" not in l for l in join_lines)


def test_repetition_and_pii_are_map_only(spark):
    """doc_repetition / doc_pii: zero Exchange (map-only over the scan),
    zero Python workers, and the parquet scan reads only (doc_id, text)
    — the quality/scrub passes stream at 100 TB."""
    import __spark_entry__ as e

    for q in (e.q_doc_repetition, e.q_doc_pii):
        plan = _plan(q(spark, SF))
        assert "Exchange" not in plan, plan
        assert "EvalPython" not in plan, plan
        read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
        assert "doc_id" in read_schema and "text" in read_schema
        assert "lang" not in read_schema and "n_chars" not in read_schema


def test_scd2_shuffles_exclude_payload(spark):
    """events_scd2: exactly two Exchanges (the user_id version window,
    then the tiny per-type aggregate) and neither carries the props
    payload column; the scan prunes props entirely."""
    import __spark_entry__ as e

    plan = _plan(e.q_events_scd2(spark, SF), "simple")
    assert plan.count("Exchange") == 2, plan
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "props" not in line, line
    full = _plan(e.q_events_scd2(spark, SF))
    read_schema = [l for l in full.splitlines() if "ReadSchema" in l][0]
    assert "props" not in read_schema and "value" not in read_schema


def test_wire_dialect_parsers_python_free(spark):
    """Every wire-dialect parser (Mongo extended-JSON, GoldenGate trail,
    wal2json, DMS, Canal) plans as JVM projections/filters over one
    fixture scan — no row-at-a-time or Arrow Python anywhere."""
    import __spark_entry__ as e

    for q in (
        e.q_mongo_parse,
        e.q_goldengate_parse,
        e.q_wal2json_parse,
        e.q_dms_parse,
        e.q_canal_parse,
    ):
        plan = _plan(q(spark, SF), "simple")
        assert "EvalPython" not in plan, (q.__name__, plan)


def test_bloom_probe_is_broadcast_no_text_shuffle(spark):
    """bloom_decontaminate: the corpus-side probe joins the (word_idx,
    bits) array by BROADCAST — the corpus never shuffles, and no
    Exchange carries the raw text column."""
    from pyspark.sql import functions as F

    from chunker_spark.ops.decontaminate import bloom_decontaminate

    d = spark.read.parquet(f"{SF}/documents.parquet")
    verdict = bloom_decontaminate(d, d.where(F.col("doc_id") % 7 == 0).select("text"), fpp=1e-3)
    plan = _plan(verdict, "simple")
    assert "BroadcastHashJoin" in plan, plan
    for line in plan.splitlines():
        if "Exchange" in line and "Broadcast" not in line:
            assert "text" not in line, line


# ---- lambda hoisting guard --------------------------------------------

#: Catalyst string/regex/hash expression classes (simple-name prefixes):
#: too costly to evaluate again on every lambda call.
_COSTLY_OPS = (
    "StringSplit", "RegExp", "RLike", "Lower", "Upper", "StringTrim",
    "XxHash64", "Murmur3Hash", "Md5", "Sha1", "Sha2", "Crc32",
)


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def _uses_lambda_var(expr, in_body, found) -> bool:
    """Walk a JVM Catalyst expression. Inside a lambda body, add to
    ``found`` the class name of every non-foldable costly op that
    references no lambda variable: it is the same value on every lambda
    call, yet higher-order functions run interpreted and common
    subexpression elimination skips their bodies, so it is recomputed
    per call. Returns whether ``expr`` references a lambda variable."""
    name = expr.getClass().getSimpleName()
    if name == "NamedLambdaVariable":
        return True
    if name == "LambdaFunction":
        return _uses_lambda_var(expr.function(), True, found)
    has_var = False
    for child in _seq(expr.children()):
        has_var |= _uses_lambda_var(child, in_body, found)
    if in_body and not has_var and name.startswith(_COSTLY_OPS) and not expr.foldable():
        found.add(name)
    return has_var


def _lambda_hoisting_violations(plan, lambda_pattern) -> set[str]:
    """Costly ops recomputed per lambda call anywhere in a logical plan;
    only trees whose pattern bits contain a lambda are walked."""
    found: set[str] = set()
    stack = [plan]
    while stack:
        node = stack.pop()
        for e in _seq(node.expressions()):
            if e.containsPattern(lambda_pattern):
                _uses_lambda_var(e, False, found)
        stack.extend(c for c in _seq(node.children()) if c.containsPattern(lambda_pattern))
        stack.extend(_seq(node.subqueries()))
    return found


def test_no_costly_expression_recomputed_inside_lambdas(spark):
    """Every query's optimized plan evaluates each string/regex/hash
    expression once per row: none sits inside a higher-order-function
    lambda body without depending on the lambda's variables (bind it to
    a lambda variable outside instead, see functions.text._bind)."""
    import __spark_entry__ as e

    lambda_pattern = spark._jvm.org.apache.spark.sql.catalyst.trees.TreePattern.LAMBDA_FUNCTION()
    bad = {}
    for name, qfn in sorted(e.queries().items()):
        found = _lambda_hoisting_violations(
            qfn(spark, SF)._jdf.queryExecution().optimizedPlan(), lambda_pattern
        )
        if found:
            bad[name] = sorted(found)
    assert not bad, bad
