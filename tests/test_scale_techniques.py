"""Scale-technique demos pinned as tests: bucketed co-located joins
(no shuffle), salted-join result equivalence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from delta_lake_pyspark_scd2_spark.operators.skew import salted_join
from delta_lake_pyspark_scd2_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def test_salted_join_equals_plain_join(spark):
    orders = load_table(spark, SF, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, SF, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_extendedprice"
    )
    plain = li.join(orders, "o_orderkey")
    salted = salted_join(li, orders, on="o_orderkey", salt_buckets=4)
    assert salted.count() == plain.count()
    a = plain.groupBy("o_orderkey").count()
    b = salted.groupBy("o_orderkey").count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # and the physical shuffle key really is (key, salt)
    plan = salted._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "__salt" in plan


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    # bucketBy co-location: both sides bucketed on the join key => the
    # sort-merge join reads buckets directly, no Exchange on either side
    import uuid

    suffix = uuid.uuid4().hex[:8]
    t_orders, t_li = f"b_orders_{suffix}", f"b_lineitem_{suffix}"
    orders = load_table(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(
            t_orders
        )
        li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(t_li)
        # at this toy size the planner rightly prefers broadcast; turn it
        # off to surface the bucketed sort-merge join path (the one that
        # matters when both sides are fact-sized)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table(t_li).join(
            spark.table(t_orders),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = j._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )
        assert "Exchange" not in plan  # co-located: zero shuffles
        assert "SortMergeJoin" in plan
        assert j.count() == li.count()
    finally:
        import shutil

        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        for t in (t_orders, t_li):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)


def test_approx_count_distinct_within_rsd(spark):
    """The 100-TB swap-in for exact COUNT DISTINCT
    (a7_percentile_distinct's noted alternative): HLL++ is a fixed-size
    mergeable sketch — constant memory per group, one map-side
    combinable pass, no giant distinct shuffle. Pin the advertised
    error contract against ground truth on real data."""
    ev = load_table(spark, SF, "events")
    exact = ev.select(F.countDistinct("user_id")).first()[0]
    approx = ev.select(F.approx_count_distinct("user_id", rsd=0.02)).first()[0]
    assert abs(approx - exact) <= max(3.0, 4 * 0.02 * exact)  # 4 sigma
    # deterministic: same data -> same sketch -> same estimate
    again = ev.repartition(3).select(
        F.approx_count_distinct("user_id", rsd=0.02)
    ).first()[0]
    assert again == approx  # merge is partitioning-independent


def test_approx_percentile_within_accuracy(spark):
    """percentile_approx (Greenwald-Khanna) vs the exact percentile:
    rank error bounded by n/accuracy — the streaming/low-memory
    quantile path for 100-TB columns."""
    ev = load_table(spark, SF, "events").filter(F.col("value").isNotNull())
    acc = 1000
    exact_med = ev.select(F.expr("percentile(value, 0.5)")).first()[0]
    approx_med = ev.select(
        F.percentile_approx("value", F.lit(0.5), F.lit(acc))
    ).first()[0]
    # value at a rank within n/acc of the true median rank
    lo, hi = ev.select(
        F.expr(f"percentile(value, {max(0.0, 0.5 - 2.0 / acc)})"),
        F.expr(f"percentile(value, {min(1.0, 0.5 + 2.0 / acc)})"),
    ).first()
    assert lo <= approx_med <= hi, (approx_med, exact_med, lo, hi)


def test_runtime_bloom_filter_join_injection(spark):
    """Runtime bloom-filter semi-join reduction — the 100 TB lever for
    a big-fact × selectively-filtered-dim shuffle join: the optimizer
    builds a bloom filter from the filtered dim keys and applies it on
    the fact side BEFORE the shuffle, so most fact rows never cross the
    wire. Thresholds are lowered to fire at test scale (defaults need a
    10 MB+ creation side); the join result must be unchanged."""
    sets = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "1000GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in sets}
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, SF, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_orderkey", "o_totalprice")
    expected = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .agg(F.sum("l_quantity").alias("s"))
        .first()["s"]
    )
    try:
        for k, v in sets.items():
            spark.conf.set(k, v)
        joined = li.join(orders, li.l_orderkey == orders.o_orderkey).agg(
            F.sum("l_quantity").alias("s")
        )
        plan = joined._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "extended"
            )
        )
        assert "bloom_filter" in plan.lower() or "mightcontain" in plan.lower(), plan
        assert joined.first()["s"] == expected
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_dynamic_partition_pruning(spark, tmp_path):
    """DPP: joining a partitioned fact on its partition column with a
    selectively-filtered dim prunes fact partitions at RUNTIME from the
    dim's build side — at 100 TB this is the difference between
    scanning every date partition and only the ones the dim admits."""
    fact_path = str(tmp_path / "fact")
    dim_path = str(tmp_path / "dim")
    load_table(spark, SF, "orders").write.partitionBy("o_orderpriority").parquet(
        fact_path
    )
    spark.createDataFrame(
        [("1-URGENT", "keep")], "prio string, tag string"
    ).write.parquet(dim_path)
    fact = spark.read.parquet(fact_path)
    dim = spark.read.parquet(dim_path).filter(F.col("tag") == "keep")
    j = fact.join(dim, fact.o_orderpriority == dim.prio)
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()
    n = j.count()
    expected = (
        load_table(spark, SF, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .count()
    )
    assert n == expected
    # the files actually read from the fact are only the pruned
    # partition's (input_file_name can't span a join's two sources, so
    # project it on the fact side before the join)
    tagged = fact.withColumn("f", F.input_file_name()).join(
        dim, F.col("o_orderpriority") == dim.prio
    )
    files = {r["f"] for r in tagged.select("f").distinct().collect()}
    assert files and all("o_orderpriority=1-URGENT" in f for f in files)


@pytest.mark.parametrize("mode", ["rewrite", "dv"])
def test_upsert_hot_key_target_matches_dict_replay(spark, tmp_path, mode):
    """``upsert`` on a target with one hot key (600 rows) and 50
    uniform keys (3 rows each): an update + delete batch must leave the
    table a Python dict replay predicts — every row of an updated key
    replaced by its one update row, a deleted key's rows gone, a new
    key inserted — and one change record per replaced or deleted row
    in the commit's change-data files."""
    from delta_lake_pyspark_scd2_spark.sources.vtable import (
        CDC_DIR,
        VersionedParquetTable,
    )

    target = [("HOT", i, f"v{i}") for i in range(600)] + [
        (f"K{k}", j, f"v{j}") for k in range(50) for j in range(3)
    ]
    upd = [("HOT", -1, "upd"), ("K3", -1, "upd"), ("NEW", -1, "ins")]
    schema = "k string, seq int, val string"
    t = VersionedParquetTable.create(
        spark, spark.createDataFrame(target, schema), str(tmp_path / mode),
        properties={"enableChangeDataFeed": "true"},
    )
    m = t.upsert(
        spark.createDataFrame(upd, schema), ["k"],
        deletes=spark.createDataFrame([("K7",)], "k string"), mode=mode,
    )

    replay: dict = {}
    for r in target:
        replay.setdefault(r[0], []).append(r)
    for r in upd:
        replay[r[0]] = [r]
    del replay["K7"]
    want = sorted(r for rows in replay.values() for r in rows)
    assert sorted(tuple(r) for r in t.read().collect()) == want
    assert (m["n_updated"], m["n_inserted"], m["n_deleted"]) == (603, 1, 3)
    changes = spark.read.parquet(f"{t.path}/{CDC_DIR}/*").groupBy("_change_type")
    assert {r[0]: r[1] for r in changes.count().collect()} == {
        "update_preimage": 603,
        "update_postimage": 2,
        "insert": 1,
        "delete": 3,
    }
