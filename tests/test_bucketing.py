"""Bucketed tables & sorted layouts: the write-time scale primitives.

Pins the payoff, not just the API: a join between two tables bucketed on
the join key must plan with ZERO exchanges (the shuffle was paid at write
time), and a range-layout write must produce files whose parquet min/max
statistics actually prune.
"""

import pyspark.sql.functions as F
import pytest

from data_pipeline_package_for_python_spark import plans
from data_pipeline_package_for_python_spark.sources import (
    write_bucketed,
    write_sorted_layout,
)


@pytest.fixture(scope="module")
def bucketed_pair(spark, tables, tmp_path_factory):
    wh = tmp_path_factory.mktemp("warehouse")
    write_bucketed(
        tables["orders"],
        "orders_b",
        bucket_by="o_custkey",
        n_buckets=8,
        sort_by="o_custkey",
        path=(wh / "orders_b").as_posix(),
    )
    write_bucketed(
        tables["customer"],
        "customer_b",
        bucket_by="c_custkey",
        n_buckets=8,
        sort_by="c_custkey",
        path=(wh / "customer_b").as_posix(),
    )
    yield spark.table("orders_b"), spark.table("customer_b")
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS customer_b")


def test_bucketed_join_is_shuffle_free(spark, bucketed_pair):
    orders_b, customer_b = bucketed_pair
    # Force the sort-merge path (broadcast would trivially hide the
    # exchange) and assert bucketing removed BOTH shuffles.
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = orders_b.join(
            customer_b, orders_b.o_custkey == customer_b.c_custkey
        )
        r = plans.plan_report(j)
        assert "SortMergeJoin" in r.joins
        assert r.n_shuffles == 0
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_agg_is_shuffle_free(spark, bucketed_pair):
    orders_b, _ = bucketed_pair
    g = orders_b.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    assert plans.plan_report(g).n_shuffles == 0


def test_q3_bucketed_fact_edge_has_zero_exchanges(spark, tables, sf_dir):
    """r10 co-partitioned tier for the B3 residual: Q3 over the
    bucketed (orders, lineitem) pair must plan with NO exchange at all
    below the top-k — the fact join consumes bucket clustering and the
    (o_orderkey, o_orderdate) aggregation folds into the join stage.
    Forcing SMJ (no broadcast) makes the pin meaningful at any SF."""
    from data_pipeline_package_for_python_spark.queries.relational import (
        bucketed_order_tables,
        q3_over_bucketed,
        q5_over_bucketed,
    )

    ob, lib = bucketed_order_tables(spark, sf_dir)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # exclude the dim enrich (would SMJ without broadcast hints):
        # pin the fact edge itself — li ⋈ o on the bucket key + agg
        li = lib.select("l_orderkey", "l_extendedprice", "l_discount")
        o = ob.select("o_orderkey", "o_orderdate")
        fact_join = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderkey", "o_orderdate")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        r = plans.plan_report(fact_join)
        assert "SortMergeJoin" in r.joins
        assert r.n_shuffles == 0, r
        # one sorted file per bucket + the sorted-scan ordering flag
        # (set by bucketed_order_tables) ⇒ the SMJ consumes the
        # write-time sort: NO Sort operator anywhere in the plan
        plan_str = fact_join._jdf.queryExecution().executedPlan().toString()
        assert "Sort [" not in plan_str.replace("SortMergeJoin", ""), (
            plan_str
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    # full query shapes (broadcast dims allowed): fact edge still
    # exchange-free — Q3 has zero exchanges end-to-end, Q5 exactly one
    # (the n_name rollup)
    q3 = q3_over_bucketed(spark, ob, lib, tables["customer"])
    assert plans.plan_report(q3).n_shuffles == 0
    q5 = q5_over_bucketed(
        spark, ob, lib, tables["customer"], tables["nation"],
        tables["region"],
    )
    assert plans.plan_report(q5).n_shuffles <= 1


def test_bucketed_q3_q5_match_shipped_results(spark, sf_dir):
    """The layout tiers change the physical plan ONLY: bucketed AND
    star Q3/Q5 must return exactly the shipped queries' rows."""
    from data_pipeline_package_for_python_spark.queries import QUERIES

    for shipped, variants in (
        ("join_q3_topk",
         ("join_q3_topk_bucketed", "join_q3_topk_bucketed_star")),
        ("join_star_q5",
         ("join_star_q5_bucketed", "join_star_q5_bucketed_star")),
    ):
        a = QUERIES[shipped].spark_fn(spark, sf_dir)
        rows_a = sorted(map(tuple, a.collect()))
        for variant in variants:
            b = QUERIES[variant].spark_fn(spark, sf_dir)
            rows_b = sorted(map(tuple, b.collect()))
            assert rows_a == rows_b, f"{shipped} vs {variant}"


def test_star_layout_plans_have_no_dim_side(spark, sf_dir):
    """r11 star tier: the denormalized layout must plan Q3 with ZERO
    exchanges AND zero broadcasts (no dim side at all — the customer /
    nation / region columns came along at ingest), and Q5 with exactly
    the rollup exchange and no broadcasts."""
    from data_pipeline_package_for_python_spark.queries.relational import (
        bucketed_star_tables,
        q3_over_bucketed_star,
        q5_over_bucketed_star,
    )

    ostar, lib = bucketed_star_tables(spark, sf_dir)
    # the star table carries the denormalized dim columns
    for col in ("c_mktsegment", "n_name", "r_name"):
        assert col in ostar.columns

    # at fixture scale the stats gate may broadcast the filtered star
    # orders side (correct — it is tiny); the LAYOUT pin is the
    # SMJ-over-buckets shape a TB-scale plan takes, so gate broadcasts
    # off for the pin exactly as the fact-edge test does
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        q3 = q3_over_bucketed_star(spark, ostar, lib)
        r3 = plans.plan_report(q3)
        assert r3.n_shuffles == 0, r3
        p3 = q3._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in p3
        assert "SortMergeJoin" in p3

        q5 = q5_over_bucketed_star(spark, ostar, lib)
        r5 = plans.plan_report(q5)
        assert r5.n_shuffles <= 1, r5
        p5 = q5._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in p5
        assert "SortMergeJoin" in p5
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_sorted_layout_roundtrip_and_pruning(spark, tables, tmp_path):
    path = (tmp_path / "orders_layout").as_posix()
    write_sorted_layout(
        tables["orders"], path, layout_by=["o_orderdate"], n_files=4
    )
    back = spark.read.parquet(path)
    assert back.count() == tables["orders"].count()
    # Predicate on the layout column must be pushed to the scan, where the
    # clustered min/max stats make it effective.
    r = plans.plan_report(
        back.filter(F.col("o_orderdate") < "1993-01-01")
    )
    assert any("o_orderdate" in f for fs in r.pushed_filters for f in fs)


def _rg_stats(path, col):
    """(min, max) per parquet row group for ``col`` across all files."""
    import os

    import pyarrow.parquet as pq

    spans = []
    for f in os.listdir(path):
        if not f.endswith(".parquet"):
            continue
        md = pq.read_metadata(os.path.join(path, f))
        idx = md.schema.to_arrow_schema().get_field_index(col)
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            spans.append((st.min, st.max))
    return spans


def test_zorder_prunes_on_both_columns(spark, tables, tmp_path):
    """Z-order must give BOTH columns pruning power: for a selective
    range predicate on either column, fewer row groups' min/max spans
    admit it than under a single-column sort (where the second column
    is uniform noise in every row group)."""
    from data_pipeline_package_for_python_spark.sources import (
        write_sorted_layout,
        write_zorder_layout,
    )

    orders = tables["orders"]
    zpath = (tmp_path / "orders_z").as_posix()
    spath = (tmp_path / "orders_s").as_posix()
    write_zorder_layout(
        orders, zpath, zorder_by=["o_custkey", "o_totalprice"], n_files=16
    )
    write_sorted_layout(
        orders, spath, layout_by=["o_custkey"], n_files=16
    )

    back = spark.read.parquet(zpath)
    assert back.count() == orders.count()  # layout never loses rows

    lo, hi = 100000.0, 120000.0  # ~6% band of o_totalprice
    def admits(spans):
        return sum(1 for mn, mx in spans if mx >= lo and mn <= hi)

    z_hits = admits(_rg_stats(zpath, "o_totalprice"))
    s_hits = admits(_rg_stats(spath, "o_totalprice"))
    z_total = len(_rg_stats(zpath, "o_totalprice"))
    # single-column sort leaves totalprice unclustered -> ~every row
    # group admits the band; z-order must skip a real fraction
    assert z_hits < s_hits
    assert z_hits <= z_total * 0.75

    # ...without giving up pruning on the first column either
    k_spans = _rg_stats(zpath, "o_custkey")
    k_total = len(k_spans)
    k_hits = sum(1 for mn, mx in k_spans if mx >= 100 and mn <= 200)
    assert k_hits <= k_total * 0.75


def test_analyze_table_stats_drive_broadcast(spark, sf_dir):
    """ANALYZE TABLE COMPUTE STATISTICS feeds Catalyst's size
    estimates: after analysis a catalog table's stats are exact
    (sizeInBytes + rowCount), which is what the stats-gated broadcast
    decisions key on — the CBO discipline a production deploy runs
    nightly.  Pin that analysis actually lands in the catalog and the
    analyzed small table plans as the broadcast side."""
    from data_pipeline_package_for_python_spark.queries._registry import load

    spark.sql("DROP TABLE IF EXISTS nation_stats_t")
    load(spark, sf_dir, "nation").write.saveAsTable("nation_stats_t")
    spark.sql(
        "ANALYZE TABLE nation_stats_t COMPUTE STATISTICS"
    )
    stats = spark.sql("DESCRIBE EXTENDED nation_stats_t").filter(
        "col_name = 'Statistics'"
    ).collect()
    assert stats and "rows" in stats[0]["data_type"]
    fact = load(spark, sf_dir, "customer")
    j = fact.join(
        spark.table("nation_stats_t"),
        fact.c_nationkey == F.col("n_nationkey"),
    )
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    spark.sql("DROP TABLE IF EXISTS nation_stats_t")


def test_release_bucketed_order_tables_cleans_everything(spark, sf_dir):
    """The layout lifecycle (round-11): release must drop BOTH catalog
    tables, remove the multi-GB tempdir, empty the cache, and restore
    the legacy outputOrdering flag to its default — otherwise every
    (session, sf_dir) layout is immortal."""
    import os

    from data_pipeline_package_for_python_spark.queries.relational import (
        bucketed_order_tables,
        release_bucketed_order_tables,
    )
    from data_pipeline_package_for_python_spark.session import session_state

    layouts = session_state(spark).layouts
    ob, lib = bucketed_order_tables(spark, sf_dir)
    n_orders = ob.count()
    assert n_orders > 0 and lib.count() > 0
    entries = [
        v for k, v in layouts.items()
        if k[0] == sf_dir
        and len(v[0]) == 2  # the (orders, lineitem) pair, not star
    ]
    assert entries, "build must populate the cache"
    (names, base) = entries[0]
    assert os.path.isdir(base)
    assert spark.catalog.tableExists(names[0])
    assert spark.catalog.tableExists(names[1])
    # table names must be process-stable (md5, not PYTHONHASHSEED hash)
    import hashlib
    want = hashlib.md5(f"{sf_dir}:8".encode()).hexdigest()[:8]
    assert names[0].endswith(want) and names[1].endswith(want)

    released = release_bucketed_order_tables(spark)
    assert released >= 1
    assert not os.path.isdir(base)
    assert not spark.catalog.tableExists(names[0])
    assert not spark.catalog.tableExists(names[1])
    assert not layouts, "cache must be emptied"
    # flag restored to default (false since Spark 3.0)
    assert (
        spark.conf.get(
            "spark.sql.legacy.bucketedTableScan.outputOrdering"
        ).lower() == "false"
    )
    # a rebuild after release works and mints the SAME stable names
    ob2, _ = bucketed_order_tables(spark, sf_dir)
    assert ob2.count() == n_orders
    release_bucketed_order_tables(spark)


def test_q12_bucketed_reuses_layout_one_exchange(spark, sf_dir):
    """Amortization pin: Q12 over the SAME pair layout plans with at
    most the 3-group rollup exchange — the fact edge is free for every
    orderkey equijoin, not just Q3/Q5 — and matches the shipped Q12."""
    from data_pipeline_package_for_python_spark.queries import QUERIES

    a = sorted(map(tuple, QUERIES["join_q12_late_priority"]
                   .spark_fn(spark, sf_dir).collect()))
    b_df = QUERIES["join_q12_late_priority_bucketed"].spark_fn(
        spark, sf_dir)
    assert plans.plan_report(b_df).n_shuffles <= 1
    assert a == sorted(map(tuple, b_df.collect()))


def test_q4_bucketed_semi_join_over_layout(spark, sf_dir):
    """Amortization pin for a different JOIN TYPE: Q4's EXISTS over
    the pair layout plans as a left-semi SORT-MERGE join (residual
    non-equi condition inside the SMJ) with zero sorts and at most the
    5-group rollup exchange, and matches the shipped decorrelated Q4."""
    from data_pipeline_package_for_python_spark.queries import QUERIES

    a = sorted(map(tuple, QUERIES["join_exists_q4"]
                   .spark_fn(spark, sf_dir).collect()))
    b_df = QUERIES["join_exists_q4_bucketed"].spark_fn(spark, sf_dir)
    assert plans.plan_report(b_df).n_shuffles <= 1
    assert a == sorted(map(tuple, b_df.collect()))

    # forced-SMJ layout pin (the TB-scale shape; at fixture scale the
    # stats gate may broadcast the filtered orders side)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        b2 = QUERIES["join_exists_q4_bucketed"].spark_fn(spark, sf_dir)
        assert plans.plan_report(b2).n_shuffles <= 1
        p = b2._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in p and "LeftSemi" in p
        assert "Sort [" not in p.replace("SortMergeJoin", ""), p
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_q18_bucketed_aggregation_consumes_layout(spark, sf_dir):
    """Amortization pin for an AGGREGATION: Q18's per-order quantity
    rollup over the bucketed lineitem satisfies its clustered
    distribution straight from the scan — ZERO exchanges in the whole
    plan (the shipped shape pays a full fact shuffle here), partial
    and final HashAggregate fused in one stage, and the survivor join
    to bucketed orders adds no exchange either.  Results match the
    shipped Q18."""
    from data_pipeline_package_for_python_spark.queries import QUERIES

    a = sorted(map(tuple, QUERIES["agg_having_q18"]
                   .spark_fn(spark, sf_dir).collect()))
    b_df = QUERIES["agg_having_q18_bucketed"].spark_fn(spark, sf_dir)
    assert plans.plan_report(b_df).n_shuffles == 0
    assert a == sorted(map(tuple, b_df.collect()))


def test_q21_bucketed_direct_semi_anti(spark, sf_dir):
    """Amortization pin for the DIRECT EXISTS/NOT-EXISTS shape: over
    the layout, Q21's official formulation (late pairs ⋉ other-supplier
    lines, ⋉̸ other late suppliers) plans as left-semi + left-anti
    sort-merge self-joins with only the final per-supplier rollup
    exchange — the two fact-sized shuffles that forced the shipped
    decorrelation are gone.  Results match the shipped decorrelated
    Q21."""
    from data_pipeline_package_for_python_spark.queries import QUERIES

    a = sorted(map(tuple, QUERIES["join_q21_waiting_suppliers"]
                   .spark_fn(spark, sf_dir).collect()))
    b_df = QUERIES["join_q21_semi_anti_bucketed"].spark_fn(
        spark, sf_dir)
    assert plans.plan_report(b_df).n_shuffles <= 1
    assert a == sorted(map(tuple, b_df.collect()))

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        b2 = QUERIES["join_q21_semi_anti_bucketed"].spark_fn(
            spark, sf_dir)
        assert plans.plan_report(b2).n_shuffles <= 1
        p = b2._jdf.queryExecution().executedPlan().toString()
        assert "LeftSemi" in p and "LeftAnti" in p
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_star_layout_shares_lineitem_and_releases(spark, sf_dir):
    """The star tier must reuse the plain pair's lineitem table (one
    write serves both tiers) and be covered by the release path."""
    from data_pipeline_package_for_python_spark.queries.relational import (
        bucketed_order_tables,
        bucketed_star_tables,
        release_bucketed_order_tables,
    )
    from data_pipeline_package_for_python_spark.session import session_state

    layouts = session_state(spark).layouts
    release_bucketed_order_tables(spark)
    _, lib_pair = bucketed_order_tables(spark, sf_dir)
    before = len(layouts)
    ostar, lib_star = bucketed_star_tables(spark, sf_dir)
    # exactly ONE new cache entry (the star orders); lineitem shared
    assert len(layouts) == before + 1
    assert lib_star.schema == lib_pair.schema
    # star orders carries every original orders column too
    for col in ("o_orderkey", "o_custkey", "o_orderdate"):
        assert col in ostar.columns
    released = release_bucketed_order_tables(spark)
    assert released == 2  # the pair entry + the star entry
    assert not layouts
