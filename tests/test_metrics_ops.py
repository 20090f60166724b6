"""Hand-computed / pure-Python oracles for the round-4 metric queries
(AUC, KS, Gini, market basket, sorted-neighborhood) — independent of
the DuckDB differential gate: the same numbers derived from first
principles on fixtures small enough to verify by eye."""

import itertools

import pytest
from pyspark.sql import functions as F

from data_pipeline_package_for_python_spark.queries import QUERIES
from data_pipeline_package_for_python_spark.session import session_state


def _run(spark, name, tmp_path, **tables):
    sf = str(tmp_path)
    for t, df in tables.items():
        df.write.mode("overwrite").parquet(f"{sf}/{t}.parquet")
    scans = session_state(spark).scans
    scans.clear()
    try:
        return QUERIES[name].spark_fn(spark, sf)
    finally:
        scans.clear()


# --------------------------------------------------------------------- #
# Gini                                                                  #
# --------------------------------------------------------------------- #

def _orders(spark, rows):
    return spark.createDataFrame(
        [
            (i, ck, "O", float(tp), "1995-06-01", "1-URGENT")
            for i, (ck, tp) in enumerate(rows)
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("date"))


def test_gini_perfect_equality_is_zero(spark, tmp_path):
    out = _run(
        spark, "analytics_gini", tmp_path,
        orders=_orders(spark, [(c, 100.0) for c in range(8)]),
    ).collect()[0]
    assert out["gini_ppm"] == 0


def test_gini_total_concentration_approaches_one(spark, tmp_path):
    # one customer holds everything except epsilon: G = (n-1)/n - eps
    rows = [(0, 1_000_000.0)] + [(c, 0.01) for c in range(1, 10)]
    out = _run(
        spark, "analytics_gini", tmp_path, orders=_orders(spark, rows)
    ).collect()[0]
    # (n-1)/n = 0.9 for n=10
    assert 880_000 < out["gini_ppm"] <= 900_000, out["gini_ppm"]


# --------------------------------------------------------------------- #
# AUC / KS vs pure-python                                               #
# --------------------------------------------------------------------- #

def _docs(spark, rows):
    # rows: (doc_id, text, lang)
    return spark.createDataFrame(
        [(d, t, l, "src0", len(t)) for d, t, l in rows],
        "doc_id string, text string, lang string, source string,"
        " n_chars long",
    )


def _py_scores(texts):
    import hashlib

    def score(text):
        s = 0
        for w in text.split(" "):
            h = int(hashlib.md5(w.encode()).hexdigest()[:8], 16)
            s += ((h % 100003) * 31 + 7) % 1001 - 500
        return s

    return [score(t) for t in texts]


def test_auc_matches_pair_counting(spark, tmp_path):
    rows = [
        (f"d{i}", f"tok{i}a word{i % 7} tail{i % 3}", "en" if i % 3 else "de")
        for i in range(30)
    ]
    out = _run(
        spark, "ml_auc_exact", tmp_path, documents=_docs(spark, rows)
    ).collect()[0]
    scores = _py_scores([t for _, t, _ in rows])
    ys = [1 if l == "en" else 0 for _, _, l in rows]
    pos = [s for s, y in zip(scores, ys) if y]
    neg = [s for s, y in zip(scores, ys) if not y]
    wins = sum(
        1.0 if p > n else (0.5 if p == n else 0.0)
        for p, n in itertools.product(pos, neg)
    )
    auc = wins / (len(pos) * len(neg))
    assert out["n_pos"] == len(pos) and out["n_neg"] == len(neg)
    assert out["auc_num"] / out["auc_den"] == pytest.approx(auc, abs=1e-12)


def test_ks_matches_pure_python(spark, tmp_path):
    rows = [
        (f"d{i}", f"w{i % 11} x{i % 5} y{i}", "en" if i % 2 else "fr")
        for i in range(24)
    ]
    out = _run(
        spark, "ml_ks_statistic", tmp_path, documents=_docs(spark, rows)
    ).collect()[0]
    scores = _py_scores([t for _, t, _ in rows])
    ys = [1 if l == "en" else 0 for _, _, l in rows]
    pos = sorted(s for s, y in zip(scores, ys) if y)
    neg = sorted(s for s, y in zip(scores, ys) if not y)
    ks = max(
        abs(
            sum(1 for p in pos if p <= s) / len(pos)
            - sum(1 for n in neg if n <= s) / len(neg)
        )
        for s in set(scores)
    )
    assert out["ks_num"] / out["ks_den"] == pytest.approx(ks, abs=1e-12)


# --------------------------------------------------------------------- #
# market basket                                                         #
# --------------------------------------------------------------------- #

def test_market_basket_hand_computed(spark, tmp_path):
    # 4 baskets over items {1,2,3}: {1,2} {1,2} {1,3} {2}
    li_rows = []
    baskets = {10: [1, 2], 20: [1, 2], 30: [1, 3], 40: [2]}
    ln = 0
    for ok, items in baskets.items():
        for it in items:
            ln += 1
            li_rows.append((ok, it, 1, ln, 1.0, 10.0, 0.0, 0.0,
                            "N", "O", "1995-06-01"))
    li = spark.createDataFrame(
        li_rows,
        "l_orderkey long, l_partkey long, l_suppkey long,"
        " l_linenumber long, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate string",
    ).withColumn("l_shipdate", F.col("l_shipdate").cast("date"))
    rows = {
        (r["i"], r["j"]): r
        for r in _run(
            spark, "analytics_market_basket", tmp_path, lineitem=li
        ).collect()
    }
    # only pair with support >= 2 is (1,2): n_1=3, n_2=3, N=4
    assert set(rows) == {(1, 2)}
    r = rows[(1, 2)]
    assert r["n_ij"] == 2 and r["n_i"] == 3 and r["n_j"] == 3
    assert r["support_ppm"] == 500_000          # 2/4
    assert r["conf_i_to_j_ppm"] == 666_666      # 2/3
    assert r["lift_ppm"] == 888_888             # 2*4/(3*3)


# --------------------------------------------------------------------- #
# sorted-neighborhood linkage                                           #
# --------------------------------------------------------------------- #

def test_snm_cross_partition_adjacency(spark):
    from data_pipeline_package_for_python_spark.operators.joins import (
        sorted_neighborhood_join,
    )

    # heavily partitioned input: adjacency must survive the global sort
    left = spark.createDataFrame(
        [(i, f"record-{i:04d}x") for i in range(50)], "k long, v string"
    ).repartition(16)
    right = spark.createDataFrame(
        [(i, f"record-{i:04d}") for i in range(50)], "k long, v string"
    ).repartition(16)
    out = sorted_neighborhood_join(
        left, right, "k", "v", "k", "v", window=2, max_distance=1
    ).collect()
    self_matches = {(r["left_key"], r["right_key"]) for r in out
                    if r["left_key"] == r["right_key"]}
    assert len(self_matches) == 50  # every corrupted record re-linked


def test_snm_range_blocked_matches_global_semantics(spark):
    """Pin the distributed tier: range_len=10 splits record-00NN into 5
    prefix ranges; the boundary pairs (e.g. record-0009x ↔ record-0010)
    straddle ranges and must still surface via the duplicated head
    rows.  The result set must be IDENTICAL to the degenerate
    single-range run (range_len=1 here → one 'r' range = the old
    global-window shape), and the data window must be partitioned."""
    from data_pipeline_package_for_python_spark.operators.joins import (
        sorted_neighborhood_join,
    )

    left = spark.createDataFrame(
        [(i, f"record-{i:04d}x") for i in range(50)], "k long, v string"
    ).repartition(16)
    right = spark.createDataFrame(
        [(i, f"record-{i:04d}") for i in range(50)], "k long, v string"
    ).repartition(16)
    blocked = sorted_neighborhood_join(
        left, right, "k", "v", "k", "v",
        window=2, max_distance=1, range_len=10,
    )
    # 5 ranges record-000 .. record-004, 20 rows each.
    plan = blocked._jdf.queryExecution().executedPlan().toString()
    # every lead/lag window is PARTITIONED on rng — no global window
    assert "windowspecdefinition(rng#" in plan
    # ... and directly: the ONLY unpartitioned window specs in the plan
    # are the documented range-METADATA cumsum/pos windows, which order
    # on rng (one row per distinct prefix, recomputed per subplan).  A
    # regression to a global DATA window (ordered on v/side/k) fails
    # here, not just via the registry allowlist.
    import re

    from data_pipeline_package_for_python_spark.plans import (
        _count_global_windows,
    )
    n_global = _count_global_windows(plan)
    specs = set()
    i = 0
    while True:
        i = plan.find("windowspecdefinition(", i)
        if i < 0:
            break
        j = i + len("windowspecdefinition(")
        depth, k = 1, j
        while depth:
            depth += {"(": 1, ")": -1}.get(plan[k], 0)
            k += 1
        specs.add(plan[i:k])
        i = k
    meta_global = [
        s for s in specs
        if re.match(r"windowspecdefinition\(rng#\d+ (ASC|DESC)", s)
    ]
    assert n_global == len(meta_global) > 0
    got = {tuple(r) for r in blocked.collect()}
    ref = {
        tuple(r)
        for r in sorted_neighborhood_join(
            left, right, "k", "v", "k", "v",
            window=2, max_distance=1, range_len=1,
        ).collect()
    }
    assert got == ref and len(
        {(a, c) for a, _, c, _, _ in got if a == c}
    ) == 50


# --------------------------------------------------------------------- #
# two-phase prefix sums                                                  #
# --------------------------------------------------------------------- #

def test_prefix_sums_equal_global_window_both_frames(spark):
    """prefix_sums must reproduce the single-window running sum exactly
    — inclusive and exclusive frames, negative values, negative bucket
    boundaries (div truncates toward zero: bucket 0 spans [-9, 9], still
    a contiguous sort interval), and a partitioned plan."""
    from pyspark.sql.window import Window as W

    from data_pipeline_package_for_python_spark.operators.prefix import (
        prefix_sums,
    )

    rows = [(k, (k * 37) % 23 - 11) for k in range(-40, 40)]
    df = spark.createDataFrame(rows, "s long, x long").repartition(16)
    for end, frame_end in (("current", W.currentRow), ("preceding", -1)):
        got = {
            (r["s"], r["cum"])
            for r in prefix_sums(
                df, order=["s"], cols={"x": "cum"},
                bucket=F.expr("s div 10"), end=end,
            ).collect()
        }
        ref = {
            (r["s"], r["cum"])
            for r in df.withColumn(
                "cum",
                F.coalesce(
                    F.sum("x").over(
                        W.orderBy("s").rowsBetween(
                            W.unboundedPreceding, frame_end
                        )
                    ),
                    F.lit(0),
                ),
            ).collect()
        }
        assert got == ref, end
    # degenerate single-bucket (constant) and empty inputs
    one = {
        (r["s"], r["cum"])
        for r in prefix_sums(
            df, order=["s"], cols={"x": "cum"}, bucket=F.lit(0)
        ).collect()
    }
    ref_inc = {
        (r["s"], r["cum"])
        for r in df.withColumn(
            "cum",
            F.sum("x").over(
                W.orderBy("s").rowsBetween(
                    W.unboundedPreceding, W.currentRow
                )
            ),
        ).collect()
    }
    assert one == ref_inc
    assert (
        prefix_sums(
            df.filter(F.lit(False)), order=["s"], cols={"x": "cum"},
            bucket=F.expr("s div 10"),
        ).count()
        == 0
    )
    # the data window is bucket-partitioned in the plan
    plan = (
        prefix_sums(
            df, order=["s"], cols={"x": "cum"},
            bucket=F.expr("s div 10"),
        )
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "windowspecdefinition(__bkt#" in plan


def test_prefix_sums_null_src_counts_as_zero(spark):
    """NULL source values must behave like SUM's null-skipping — in
    particular a NULL on a bucket's LAST row with end='preceding' must
    NOT null the bucket total and silently zero later buckets' offsets
    (the exclusive running sum at s=25 must still carry bucket 0+1
    mass)."""
    from pyspark.sql.window import Window as W

    from data_pipeline_package_for_python_spark.operators.prefix import (
        prefix_sums,
    )

    # s=9 and s=19 are the LAST rows of buckets 0 and 1 (s div 10)
    rows = [(s, None if s in (9, 19) else s + 1) for s in range(26)]
    df = spark.createDataFrame(rows, "s long, x long").repartition(8)
    for end, frame_end in (("current", W.currentRow), ("preceding", -1)):
        got = {
            (r["s"], r["cum"])
            for r in prefix_sums(
                df, order=["s"], cols={"x": "cum"},
                bucket=F.expr("s div 10"), end=end,
            ).collect()
        }
        ref = {
            (r["s"], r["cum"])
            for r in df.withColumn(
                "cum",
                F.coalesce(
                    F.sum("x").over(
                        W.orderBy("s").rowsBetween(
                            W.unboundedPreceding, frame_end
                        )
                    ),
                    F.lit(0),
                ),
            ).collect()
        }
        assert got == ref, end


def test_prefix_rank_equals_global_row_number(spark):
    """prefix_rank must equal row_number() OVER (ORDER BY key [DESC],
    tiebreak) exactly — duplicate keys resolved by the key-partitioned
    tiebreak, both directions."""
    from pyspark.sql.window import Window as W

    from data_pipeline_package_for_python_spark.operators.prefix import (
        prefix_rank,
    )

    rows = [(k % 13, f"t{k:03d}") for k in range(60)]
    df = spark.createDataFrame(rows, "k long, tb string").repartition(16)
    for desc in (False, True):
        order = [F.col("k").desc(), "tb"] if desc else ["k", "tb"]
        ref = {
            (r["k"], r["tb"], r["rk"])
            for r in df.withColumn(
                "rk",
                F.row_number().over(W.orderBy(*order)).cast("bigint"),
            ).collect()
        }
        got = {
            (r["k"], r["tb"], r["rk"])
            for r in prefix_rank(
                df, key="k", tiebreak="tb",
                bucket=(-F.expr("k div 4") if desc else F.expr("k div 4")),
                descending=desc,
            ).collect()
        }
        assert got == ref, f"descending={desc}"


# --------------------------------------------------------------------- #
# bootstrap / permutation laws                                          #
# --------------------------------------------------------------------- #

def test_bootstrap_ci_brackets_true_mean(spark, tmp_path):
    rows = [(c % 20, 100.0 + (c % 7)) for c in range(200)]
    out = _run(
        spark, "ml_bootstrap_ci", tmp_path,
        orders=_orders(spark, rows),
    ).collect()[0]
    # CI in cent units; true mean = mean(100 + c%7)*100
    true_mean = sum(100.0 + (c % 7) for c in range(200)) / 200 * 100
    assert out["ci_lo_units"] < true_mean < out["ci_hi_units"], dict(out)
    assert out["ci_lo_units"] < out["mean_units"] < out["ci_hi_units"]
    assert out["n_replicates"] == 100


def _events(spark, rows):
    # rows: (event_id, user_id, value)
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [
            (i, base + dt.timedelta(minutes=i), u, "purchase", float(v),
             None)
            for i, u, v in rows
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )


def test_permutation_test_detects_planted_effect(spark, tmp_path):
    # arm assignment is md5(user_id || ':ab') % 2 — plant a HUGE effect
    # aligned with the real arms so no permutation can match it
    import hashlib

    def arm(u):
        return int(
            hashlib.md5(f"{u}:ab".encode()).hexdigest()[:8], 16
        ) % 2

    rows = [
        (i, u, 1000.0 if arm(u) == 0 else 1.0)
        for i, u in enumerate(range(60))
    ]
    out = _run(
        spark, "analytics_permutation_test", tmp_path,
        events=_events(spark, rows),
    ).collect()[0]
    assert out["p_value_ppm"] <= 20_000, dict(out)  # <= 2/100 extreme


def test_permutation_test_null_is_not_significant(spark, tmp_path):
    # no effect: value independent of arm -> p should be large
    rows = [(i, u, float(100 + (i % 5))) for i, u in enumerate(range(60))]
    out = _run(
        spark, "analytics_permutation_test", tmp_path,
        events=_events(spark, rows),
    ).collect()[0]
    assert out["p_value_ppm"] >= 100_000, dict(out)
