"""Scale-mechanics tests: salting for skewed keys, bucketing for
co-located joins — asserted on results AND on the physical plan."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from faexport_db_spark.datamodel.testdata import load_table
from faexport_db_spark.operators.partitioning import fan_out, salted_agg, write_bucketed
from faexport_db_spark.plans.audit import shuffle_count


@pytest.mark.slow
def test_salted_agg_matches_plain_agg(spark, sf_small):
    """Two-phase salted aggregation is result-identical to the direct
    groupBy for decomposable aggregates."""
    ev = load_table(spark, sf_small, "events")
    plain = {
        (r["event_type"],): (r["n"], r["mx"])
        for r in ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.max("value").alias("mx"))
        .collect()
    }
    salted = {
        (r["event_type"],): (r["n"], r["mx"])
        for r in salted_agg(
            ev,
            ["event_type"],
            {"n": ("count", "sum", "value"), "mx": ("max", "max", "value")},
        ).collect()
    }
    assert plain == salted


def test_salted_agg_spreads_hot_key(spark, sf_small):
    """The phase-1 grouping key includes the salt: a single hot key
    occupies up to salt_buckets reduce groups instead of one."""
    hot = spark.range(10000).select(
        F.lit("fa").alias("website_id"), F.col("id").alias("v")
    )
    out = salted_agg(hot, ["website_id"], {"n": ("count", "sum", "v")}, salt_buckets=8)
    assert out.collect()[0]["n"] == 10000
    # phase 1 must partition on (key, salt): the hot key fans out
    import re

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"hashpartitioning\([^)]*__salt", plan), plan


def test_bucketed_join_skips_both_shuffles(spark, sf_small, tmp_path):
    """Co-bucketed fact/fact join (J5 child-attach shape at scale):
    bucketing both sides on the join key removes every exchange from
    the join plan — the scan itself delivers the co-partitioning."""
    orders = load_table(spark, sf_small, "orders")
    lineitem = load_table(spark, sf_small, "lineitem")
    write_bucketed(
        orders.select("o_orderkey", "o_orderstatus"), "b_orders", ["o_orderkey"], 8,
        path=str(tmp_path / "b_orders"),
    )
    write_bucketed(
        lineitem.select(F.col("l_orderkey").alias("o_orderkey"), "l_quantity"),
        "b_lineitem",
        ["o_orderkey"],
        8,
        path=str(tmp_path / "b_lineitem"),
    )
    left = spark.table("b_orders")
    right = spark.table("b_lineitem")
    joined = left.join(right, "o_orderkey").hint("merge")
    assert shuffle_count(joined) == 0, "bucketed join must not shuffle"
    # and it still computes the right thing
    expected = orders.join(
        lineitem.select(F.col("l_orderkey").alias("o_orderkey"), "l_quantity"),
        "o_orderkey",
    ).count()
    assert joined.count() == expected
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_fan_out_widens_narrow_input_only(spark, sf_small):
    docs = load_table(spark, sf_small, "documents")
    widened = fan_out(docs)
    target = spark.sparkContext.defaultParallelism
    assert widened.rdd.getNumPartitions() == target
    assert fan_out(widened).rdd.getNumPartitions() == target  # idempotent


def test_fan_out_by_key_hash_partitions_and_feeds_downstream_agg(spark, sf_small):
    """``by=`` fans out with HASH partitioning (no round-robin
    determinism sort) and, when the key matches the downstream
    grouping, the fan-out exchange is the only one in the plan."""
    docs = load_table(spark, sf_small, "documents")
    widened = fan_out(docs, by=["doc_id"])
    target = spark.sparkContext.defaultParallelism
    assert widened.rdd.getNumPartitions() == target
    plan = widened._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(doc_id" in plan, plan
    assert "roundrobin" not in plan.lower(), plan
    agg = widened.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # the planner inserts NO exchange of its own: the groupBy reuses
    # the fan-out's hash partitioning (shuffle_count counts only
    # planner-inserted exchanges)
    assert shuffle_count(agg) == 0, "groupBy must reuse the fan-out exchange"
    import re

    agg_plan = agg._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", agg_plan)) == 1, agg_plan
    # same rows either way
    assert widened.count() == docs.count()


def test_fan_out_exchange_flavor_and_audit_visibility(spark, sf_small):
    """Guard for the loosened ``shuffle_count`` (it counts only
    ENSURE_REQUIREMENTS exchanges, VERDICT r09): every fan_out exchange
    must be REPARTITION-flavored — so the exclusion is exact — and a
    planner-inserted shuffle downstream of a fan-out must STILL be
    counted (the exclusion can never hide a real shuffle)."""
    docs = load_table(spark, sf_small, "documents")
    widened = fan_out(docs, by=["doc_id"])
    plan = widened._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" in plan, plan
    assert "ENSURE_REQUIREMENTS" not in plan, plan
    # a grouping key the fan-out does NOT satisfy → the planner inserts
    # its own exchange, and the audit sees exactly it
    other = widened.groupBy(F.md5("text").alias("k")).agg(
        F.count(F.lit(1)).alias("n")
    )
    assert shuffle_count(other) == 1, "planner shuffle must stay visible"
    # multi-split input: fan_out is an identity — NO exchange of either
    # flavor exists for the exclusion to hide (same object back)
    wide = spark.range(10000).repartition(
        spark.sparkContext.defaultParallelism * 2
    )
    assert fan_out(wide) is wide


def test_fan_out_estimates_width_without_rdd_conversion(spark, sf_small, monkeypatch):
    """``df.rdd`` plans the query a second time per call (VERDICT r02
    item 5); for file-backed input the width probe must come from file
    metadata, never the RDD."""
    from pyspark.sql import dataframe as df_mod

    docs = load_table(spark, sf_small, "documents")

    def _boom(self):
        raise AssertionError("fan_out must not convert a file-backed plan to RDD")

    with monkeypatch.context() as m:
        m.setattr(df_mod.DataFrame, "rdd", property(_boom))
        widened = fan_out(docs)
    assert widened.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_fan_out_leaves_wide_file_input_alone(spark, tmp_path):
    """An input already scanning with >= defaultParallelism splits must
    pass through untouched — no shuffle inserted at real scale."""
    target = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "wide")
    spark.range(10000).repartition(target * 2).write.parquet(path)
    wide = spark.read.parquet(path)
    assert fan_out(wide) is wide


def test_persisted_store_prunes_partitions_and_joins_without_shuffle(
    spark, tmp_path
):
    """The persisted snapshot store E2E (datamodel/store.py): a per-site
    read must PRUNE to the one website_id directory (the F1 compound-key
    shape never lists the other sites), and the J5 child-attach join of
    two co-bucketed store tables must plan ZERO exchanges — the layout,
    not the query, delivers the partitioning."""
    from faexport_db_spark.datamodel.store import (
        read_site,
        write_child_store,
        write_snapshot_store,
    )
    from tests.fixtures_faexport import files as mk_files
    from tests.fixtures_faexport import submission_snapshots as mk_snaps

    snaps = mk_snaps(spark)
    write_snapshot_store(snaps, "store_snaps", str(tmp_path / "snaps"), n_buckets=4)
    write_child_store(mk_files(spark), "store_files", str(tmp_path / "files"), n_buckets=4)
    try:
        # --- partition pruning: only the fa directory is read ---------
        site = read_site(spark, "store_snaps", "fa")
        plan = site._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "website_id" in plan, plan
        in_files = site.inputFiles()
        assert in_files and all("website_id=fa" in f for f in in_files), in_files
        assert site.count() == snaps.filter(F.col("website_id") == "fa").count()

        # --- co-bucketed child attach: zero exchanges -----------------
        left = spark.table("store_snaps").select(
            "submission_snapshot_id", "website_id", "site_submission_id"
        )
        right = spark.table("store_files").select(
            "submission_snapshot_id", "file_id", "file_url"
        )
        joined = left.join(right, "submission_snapshot_id").hint("merge")
        assert shuffle_count(joined) == 0, "co-bucketed store join must not shuffle"
        expected = (
            mk_snaps(spark)
            .select("submission_snapshot_id", "website_id", "site_submission_id")
            .join(
                mk_files(spark).select(
                    "submission_snapshot_id", "file_id", "file_url"
                ),
                "submission_snapshot_id",
            )
            .count()
        )
        assert joined.count() == expected
    finally:
        spark.sql("DROP TABLE IF EXISTS store_snaps")
        spark.sql("DROP TABLE IF EXISTS store_files")


def test_settings_seed_matches_reference_contract(spark):
    """The settings version row (reference schema/faexport_db.sql:124)."""
    from faexport_db_spark.datamodel.store import SCHEMA_VERSION, seed_settings

    rows = seed_settings(spark).collect()
    assert [(r["setting_id"], r["setting_value"]) for r in rows] == [
        ("version", SCHEMA_VERSION)
    ]


def test_registered_salted_query_has_two_phase_plan(spark, sf_small):
    """The registered a1s_salted_skew_count really routes through the
    salted two-phase shape: a salt-keyed exchange below a key-only
    exchange (plus map-side partials) — not a plain single groupBy."""
    import re

    from faexport_db_spark.queries import QUERIES

    plan = (
        QUERIES["a1s_salted_skew_count"](spark, sf_small)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert re.search(r"hashpartitioning\([^)]*__salt", plan), plan
    assert re.search(r"hashpartitioning\(o_orderstatus[^_]", plan), plan


def test_salted_join_equals_plain_join(spark, sf_small):
    """Salting is layout-only: the salted join's result set is exactly
    the plain join's, for inner and left, including unmatched-left
    rows and duplicate right matches."""
    from faexport_db_spark.datamodel.testdata import load_table
    from faexport_db_spark.operators.partitioning import salted_join

    li = load_table(spark, sf_small, "lineitem").select(
        F.col("l_orderkey").alias("okey"), "l_quantity", "l_linenumber"
    )
    o = load_table(spark, sf_small, "orders").select(
        F.col("o_orderkey").alias("okey"), "o_orderpriority"
    )
    for how in ("inner", "left"):
        salted = salted_join(li, o, "okey", n_salt=4, how=how)
        plain = li.join(o, "okey", how)
        assert salted.columns == plain.columns
        assert salted.exceptAll(plain).count() == 0
        assert plain.exceptAll(salted).count() == 0


def test_salted_join_key_includes_salt_and_rejects_right(spark, sf_small):
    import pytest as _pytest

    from faexport_db_spark.datamodel.testdata import load_table
    from faexport_db_spark.operators.partitioning import salted_join
    from faexport_db_spark.plans.audit import formatted_plan

    li = load_table(spark, sf_small, "lineitem").select(
        F.col("l_orderkey").alias("okey"), "l_quantity"
    )
    o = load_table(spark, sf_small, "orders").select(
        F.col("o_orderkey").alias("okey"), "o_orderpriority"
    )
    plan = formatted_plan(salted_join(li, o, "okey", n_salt=4))
    assert "__salt" in plan  # the join really runs on (key, salt)
    with _pytest.raises(ValueError):
        salted_join(li, o, "okey", how="right")


def test_salted_join_rejects_reserved_salt_column(spark):
    import pytest as _pytest

    from faexport_db_spark.operators.partitioning import salted_join

    a = spark.createDataFrame([(1, 0)], ["k", "__salt"])
    b = spark.createDataFrame([(1, "x")], ["k", "v"])
    with _pytest.raises(ValueError, match="__salt"):
        salted_join(a, b, "k")
