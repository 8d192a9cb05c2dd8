"""Query builder end-to-end vs the DuckDB oracle on testdata."""

import pytest

from tostore_spark import Agg, QueryCondition


def rows(df):
    return [tuple(r) for r in df.collect()]


def test_filter_sort_limit(db, duck):
    got = rows(db.query("lineitem").where("l_quantity", ">", 45)
               .select(["l_orderkey", "l_linenumber"])
               .order_by_asc("l_orderkey", "l_linenumber").limit(20).df())
    exp = duck.execute("""select l_orderkey, l_linenumber from lineitem
        where l_quantity > 45 order by 1,2 limit 20""").fetchall()
    assert got == exp


def test_groupby_agg_having(db, duck):
    got = sorted(rows(db.query("lineitem")
                      .group_by(["l_returnflag"])
                      .select_agg([Agg.count("*", "cnt"), Agg.sum("l_quantity", "s"),
                                   Agg.min("l_quantity", "mn"), Agg.max("l_quantity", "mx")])
                      .having(QueryCondition().where("cnt", ">", 10))
                      .df()))
    exp = sorted(duck.execute("""select l_returnflag, count(*), sum(l_quantity),
        min(l_quantity), max(l_quantity) from lineitem group by 1
        having count(*) > 10""").fetchall())
    assert got == exp


def test_join_naming_and_select(db):
    df = (db.query("orders").join("customer", "o_custkey", "=", "c_custkey")
          .select(["o_orderkey", "customer.c_name as cust", "c_mktsegment"])
          .limit(5).df())
    assert df.columns == ["o_orderkey", "cust", "c_mktsegment"]


def test_left_join_nulls(db, duck):
    got = db.query("customer").left_join("orders", "c_custkey", "=", "o_custkey") \
            .where("o_orderkey", "IS", None).count()
    exp = duck.execute("""select count(*) from customer left join orders
        on c_custkey = o_custkey where o_orderkey is null""").fetchone()[0]
    assert got == exp


def test_theta_join(db, duck):
    got = db.query("region").join("nation", "r_regionkey", "<", "n_regionkey").count()
    exp = duck.execute(
        "select count(*) from region join nation on r_regionkey < n_regionkey"
    ).fetchone()[0]
    assert got == exp


def test_distinct_fields(db, duck):
    got = len(rows(db.query("customer").select(["c_mktsegment"]).distinct().df()))
    exp = duck.execute("select count(distinct c_mktsegment) from customer").fetchone()[0]
    assert got == exp


def test_offset_limit(db, duck):
    got = rows(db.query("customer").order_by_asc("c_custkey")
               .select(["c_custkey"]).offset(10).limit(5).df())
    exp = duck.execute(
        "select c_custkey from customer order by 1 limit 5 offset 10").fetchall()
    assert got == exp


def test_scalar_terminals(db, duck):
    assert db.query("orders").count() == duck.execute(
        "select count(*) from orders").fetchone()[0]
    assert db.query("orders").where("o_totalprice", ">", 1e9).exists() is False
    assert db.query("orders").exists() is True
    s = db.query("lineitem").sum("l_quantity")
    exp = duck.execute("select sum(l_quantity) from lineitem").fetchone()[0]
    assert s == exp
    assert db.query("lineitem").min("l_quantity") == duck.execute(
        "select min(l_quantity) from lineitem").fetchone()[0]


def test_cursor_pagination_walk(db, duck):
    """Walk 3 keyset pages == one big ordered scan."""
    qb = (db.query("customer").select(["c_custkey", "c_acctbal"])
          .order_by_asc("c_acctbal", "c_custkey").limit(30))
    seen = []
    page = qb.run()
    seen += [r["c_custkey"] for r in page]
    for _ in range(2):
        page = page.next_page()
        seen += [r["c_custkey"] for r in page]
    exp = [r[0] for r in duck.execute(
        "select c_custkey from customer order by c_acctbal, c_custkey limit 90"
    ).fetchall()]
    assert seen == exp


def test_order_by_desc_suffix_forms(db):
    a = rows(db.query("orders").order_by_desc("o_totalprice")
             .select(["o_orderkey"]).limit(5).df())
    qb = db.query("orders").select(["o_orderkey"]).limit(5)
    qb._order_by = ["o_totalprice DESC"]
    b = rows(qb.df())
    assert a == b


def test_agg_nonnumeric_skip(db, spark):
    """sum/avg over a text field ignore non-numeric values
    (query_aggregation.dart:95-146)."""
    sdf = spark.createDataFrame(
        [(1, "10"), (2, "x"), (3, "5.5"), (4, None)], ["id", "v"])
    db.register_table("mixed_t", df=sdf)
    out = (db.query("mixed_t").select_agg([Agg.sum("v", "s"), Agg.avg("v", "a")])
           .df().collect()[0])
    assert out["s"] == 15.5
    assert out["a"] == 15.5 / 2


def test_agg_minmax_timestamp_ntz(db, spark):
    """min/max keep a TIMESTAMP_NTZ column's type (the plain-parquet
    timestamp Spark 4 reads) instead of casting it to double."""
    import datetime as dt
    from pyspark.sql import types as T
    ts = [dt.datetime(2024, 1, 2, 3, 4, 5), dt.datetime(2023, 6, 7),
          dt.datetime(2025, 12, 31, 23, 59)]
    sdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(ts)] + [(9, None)],
        T.StructType([T.StructField("id", T.LongType()),
                      T.StructField("t", T.TimestampNTZType())]))
    db.register_table("ntz_t", df=sdf)
    out = (db.query("ntz_t").select_agg([Agg.min("t", "lo"), Agg.max("t", "hi")])
           .df())
    assert isinstance(out.schema["lo"].dataType, T.TimestampNTZType)
    row = out.collect()[0]
    assert (row["lo"], row["hi"]) == (min(ts), max(ts))


def test_query_cache_hit_and_invalidation(spark):
    from tostore_spark import ToStoreSpark

    db = ToStoreSpark(spark)
    db.register_table("qc_t", df=spark.createDataFrame(
        [(1, "a"), (2, "b")], ["id", "v"]))
    qb = lambda: db.query("qc_t").order_by_asc("id").limit(10)
    r1 = qb().run()
    hits0 = db.query_cache.hits
    r2 = qb().run()
    assert db.query_cache.hits == hits0 + 1
    assert [r["id"] for r in r2] == [r["id"] for r in r1]
    # write bumps the generation -> stale entry cannot hit
    db.set_df("qc_t", spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")],
                                            ["id", "v"]))
    r3 = qb().run()
    assert [r["id"] for r in r3] == [1, 2, 3]
    # different query shapes never collide
    r4 = db.query("qc_t").where("id", ">", 1).order_by_asc("id").limit(10).run()
    assert [r["id"] for r in r4] == [2, 3]


def test_agg_parity_plus(spark, db):
    from tostore_spark import Agg
    r = (db.query("orders")
         .select_agg([Agg.count_distinct("o_custkey", "nc"),
                      Agg.approx_count_distinct("o_custkey", "anc"),
                      Agg.percentile("o_totalprice", 0.5, "med")])
         .run().records[0])
    assert r["nc"] > 0
    assert abs(r["anc"] - r["nc"]) / r["nc"] < 0.1  # HLL within 10%
    assert r["med"] > 0


def test_time_rollup_hierarchy_consistent(spark, db):
    from pyspark.sql import functions as F
    from tostore_spark.plans.rollup import time_rollup
    out = time_rollup(db.df("events"), "ts", "value").persist()
    per = {g: (r["n"], round(r["s"], 4)) for g, r in
           ((g, out.filter(F.col("granularity") == g)
             .agg(F.sum("n").alias("n"),
                  F.sum("sum_value").alias("s")).collect()[0])
            for g in ("hour", "day", "month"))}
    # every granularity covers the same events and total value
    assert per["hour"] == per["day"] == per["month"]


def test_group_by_cube(spark, db):
    from tostore_spark import Agg
    rows = (db.query("orders")
            .group_by_cube(["o_orderstatus", "o_orderpriority"])
            .select_agg([Agg.count("*", "n")])
            .df().collect())
    # cube = per-pair + per-status + per-priority + grand total
    statuses = db.df("orders").select("o_orderstatus").distinct().count()
    prios = db.df("orders").select("o_orderpriority").distinct().count()
    grand = [r for r in rows
             if r["o_orderstatus"] is None and r["o_orderpriority"] is None]
    assert len(grand) == 1 and grand[0]["n"] == db.df("orders").count()
    assert len(rows) >= statuses + prios + 1


def test_moving_features_semantics(spark):
    from tostore_spark.functions.timeseries import moving_features
    rows = [("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 30.0), ("b", 1, 5.0)]
    df = spark.createDataFrame(rows, ["k", "seq", "v"])
    out = {(r["k"], r["seq"]): r for r in
           moving_features(df, "k", "seq", "v", window_rows=2).collect()}
    a2 = out[("a", 2)]
    assert a2["lag_1"] == 10.0 and a2["lead_1"] == 30.0
    assert a2["delta"] == 10.0 and a2["moving_avg"] == 15.0
    assert a2["cum_sum"] == 30.0 and a2["row_idx"] == 2
    # partitions are independent
    b1 = out[("b", 1)]
    assert b1["lag_1"] is None and b1["cum_sum"] == 5.0


def test_resample_semantics(spark):
    import datetime as dt
    from tostore_spark.functions.timeseries import resample
    t0 = dt.datetime(2024, 1, 1)
    rows = [("a", t0, 10.0), ("a", t0 + dt.timedelta(hours=1), 20.0),
            # 2-day gap for entity a, then one more observation
            ("a", t0 + dt.timedelta(days=3), 50.0),
            ("b", t0, 1.0)]
    df = spark.createDataFrame(rows, ["k", "ts", "v"])

    lin = {(r["k"], r["bucket_ts"]): r for r in
           resample(df, "k", "ts", "v", 86400, fill="linear").collect()}
    assert len(lin) == 5  # a: 4 grid days, b: 1
    assert lin[("a", t0)]["avg_value"] == 15.0  # in-bucket average
    assert lin[("a", t0)]["n_obs"] == 2 and lin[("a", t0)]["is_observed"]
    # linear interpolation across the gap: 15 -> 50 over 3 steps
    d1 = lin[("a", t0 + dt.timedelta(days=1))]
    d2 = lin[("a", t0 + dt.timedelta(days=2))]
    assert not d1["is_observed"] and d1["n_obs"] == 0
    assert abs(d1["avg_value"] - (15.0 + 35.0 / 3)) < 1e-9
    assert abs(d2["avg_value"] - (15.0 + 2 * 35.0 / 3)) < 1e-9

    ff = {(r["k"], r["bucket_ts"]): r for r in
          resample(df, "k", "ts", "v", 86400, fill="ffill").collect()}
    assert ff[("a", t0 + dt.timedelta(days=1))]["avg_value"] == 15.0
    assert ff[("a", t0 + dt.timedelta(days=2))]["avg_value"] == 15.0

    none = {(r["k"], r["bucket_ts"]): r for r in
            resample(df, "k", "ts", "v", 86400, fill=None).collect()}
    assert none[("a", t0 + dt.timedelta(days=1))]["avg_value"] is None


def test_resample_windows_are_partitioned(spark):
    import re
    import datetime as dt
    from tostore_spark.functions.timeseries import resample
    df = spark.createDataFrame([("a", dt.datetime(2024, 1, 1), 1.0)],
                               ["k", "ts", "v"])
    plan = (resample(df, "k", "ts", "v", 3600, fill="linear")
            ._jdf.queryExecution().executedPlan().toString())
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        assert m.group(1).startswith("__ent#"), f"unpartitioned: {m.group(0)}"


def test_moving_features_windows_are_partitioned(spark):
    import re
    from tostore_spark.functions.timeseries import moving_features
    df = spark.createDataFrame([("a", 1, 1.0)], ["k", "seq", "v"])
    plan = (moving_features(df, "k", "seq", "v")
            ._jdf.queryExecution().executedPlan().toString())
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        assert m.group(1).startswith("k#"), f"unpartitioned: {m.group(0)}"


def test_top_k_per_group_methods(spark):
    from tostore_spark.functions.ranking import top_k_per_group
    rows = [("a", 1, 30.0), ("a", 2, 20.0), ("a", 3, 20.0), ("a", 4, 10.0),
            ("b", 5, 1.0)]
    df = spark.createDataFrame(rows, ["g", "id", "v"])
    # row_number: exactly k, ties broken by the id tie-break
    rn = top_k_per_group(df, "g", ["-v", "id"], 2)
    assert sorted((r.g, r.id) for r in rn.collect()) == \
        [("a", 1), ("a", 2), ("b", 5)]
    # rank: boundary tie returns both tied rows (3 rows for k=2)
    rk = top_k_per_group(df, "g", "-v", 2, method="rank", keep_rank=True)
    a = sorted((r.id, r["__rank"]) for r in rk.collect() if r.g == "a")
    assert a == [(1, 1), (2, 2), (3, 2)]
    # dense_rank: k=2 distinct values -> ids 1,2,3
    dr = top_k_per_group(df, "g", "-v", 2, method="dense_rank")
    assert sorted(r.id for r in dr.collect() if r.g == "a") == [1, 2, 3]
    import pytest as _pt
    with _pt.raises(ValueError):
        top_k_per_group(df, "g", "-v", 2, method="nope")


def test_top_k_per_group_plan_group_limit(spark):
    from tostore_spark.functions.ranking import top_k_per_group
    df = spark.createDataFrame([("a", 1, 1.0)], ["g", "id", "v"])
    plan = (top_k_per_group(df, "g", ["-v", "id"], 3)
            ._jdf.queryExecution().executedPlan().toString())
    assert "WindowGroupLimit" in plan, plan


def test_moving_time_features_peers_and_horizon(spark):
    import datetime as dt
    from tostore_spark.functions.timeseries import moving_time_features
    t0 = dt.datetime(2024, 1, 1)
    rows = [("a", t0, 10.0),
            ("a", t0 + dt.timedelta(seconds=30), 20.0),
            # tied timestamps are RANGE peers: both see both
            ("a", t0 + dt.timedelta(seconds=100), 1.0),
            ("a", t0 + dt.timedelta(seconds=100), 3.0),
            # outside the 60s window of the first two
            ("a", t0 + dt.timedelta(seconds=200), 100.0)]
    df = spark.createDataFrame(rows, ["k", "ts", "v"])
    out = moving_time_features(df, "k", "ts", "v", 60).collect()
    by_ts = {}
    for r in out:
        by_ts.setdefault(r.ts, []).append(r)
    assert by_ts[t0][0].t_cnt == 1 and by_ts[t0][0].t_avg == 10.0
    r30 = by_ts[t0 + dt.timedelta(seconds=30)][0]
    assert r30.t_cnt == 2 and r30.t_avg == 15.0
    for r in by_ts[t0 + dt.timedelta(seconds=100)]:
        # tied timestamps are peers: both rows see both (window [40,100]
        # excludes the 0s and 30s rows)
        assert r.t_cnt == 2 and abs(r.t_avg - 2.0) < 1e-9
    r200 = by_ts[t0 + dt.timedelta(seconds=200)][0]
    assert r200.t_cnt == 1 and r200.t_max == 100.0


def test_pagerank_fixed_points_and_star(spark):
    from tostore_spark.functions.graph import pagerank
    # 2-cycle: rank 1.0 is the exact fixed point at any iteration count
    cyc = spark.createDataFrame([("x", "y"), ("y", "x")], ["src", "dst"])
    assert {r.node: r.rank for r in
            pagerank(cyc, n_iter=6, checkpoint_every=2).collect()} \
        == {"x": 1.0, "y": 1.0}
    # star a->b, c->b: sources settle at 0.15, b at 0.15+0.85*(0.15+0.15)
    star = spark.createDataFrame(
        [("a", "b"), ("c", "b"), ("a", "b")],   # duplicate edge ignored
        ["src", "dst"])
    got = {r.node: r.rank for r in pagerank(star, n_iter=3).collect()}
    assert got["a"] == 0.15 and got["c"] == 0.15
    assert abs(got["b"] - 0.405) < 1e-9


def test_ewma_weights_and_window(spark):
    from tostore_spark.functions.timeseries import ewma
    rows = [("a", 1, 10.0), ("a", 2, 20.0), ("b", 1, 7.0)]
    df = spark.createDataFrame(rows, ["k", "seq", "v"])
    out = {(r.k, r.seq): r.ewma
           for r in ewma(df, "k", "seq", "v", alpha=0.5,
                         window_rows=4).collect()}
    # single observation: ewma == value
    assert out[("a", 1)] == 10.0 and out[("b", 1)] == 7.0
    # two observations, alpha=.5: (0.5*10 + 1*20) / 1.5
    assert abs(out[("a", 2)] - (0.5 * 10 + 20) / 1.5) < 1e-8
    import pytest as _pt
    with _pt.raises(ValueError):
        ewma(df, "k", "seq", "v", alpha=0.0)


def test_anomaly_zscore_flags_spike(spark):
    from tostore_spark.functions.timeseries import anomaly_zscore
    base = [("a", i, 10.0 + (i % 2)) for i in range(1, 11)]
    rows = base + [("a", 11, 500.0)]       # obvious spike
    df = spark.createDataFrame(rows, ["k", "seq", "v"])
    out = {r.seq: r for r in
           anomaly_zscore(df, "k", "seq", "v", window_rows=10,
                          threshold=3.0, min_obs=5).collect()}
    # warm-up rows have no score until min_obs trailing points exist
    assert out[1].zscore is None and not out[1].is_anomaly
    assert out[5].zscore is None and out[6].zscore is not None
    # the spike is flagged; its neighbors are not
    assert out[11].is_anomaly and out[11].zscore > 3.0
    assert not out[10].is_anomaly


def test_resample_differential_vs_python(spark):
    """Randomized differential check of bucket/grid/ffill vs a pure-
    Python reference."""
    import datetime as dt
    import random
    rnd = random.Random(29)
    t0 = dt.datetime(2024, 1, 1)
    rows = [(rnd.choice("ab"),
             t0 + dt.timedelta(seconds=rnd.randrange(0, 40000)),
             float(rnd.randrange(0, 1000)) / 7)
            for _ in range(120)]
    from tostore_spark.functions.timeseries import resample
    df = spark.createDataFrame(rows, ["k", "ts", "v"])
    got = {(r.k, r.bucket_ts): (r.avg_value, r.n_obs, r.is_observed)
           for r in resample(df, "k", "ts", "v", 3600,
                             fill="ffill").collect()}

    # python reference
    from collections import defaultdict
    byk = defaultdict(list)
    for k, ts, v in rows:
        byk[k].append((int(ts.timestamp()) // 3600, v))
    want = {}
    for k, obs in byk.items():
        agg = defaultdict(list)
        for b, v in obs:
            agg[b].append(round(v, 6))
        lo, hi = min(agg), max(agg)
        lastv = None
        for b in range(lo, hi + 1):
            ts = dt.datetime.utcfromtimestamp(b * 3600)
            if b in agg:
                lastv = sum(agg[b]) / len(agg[b])
                want[(k, ts)] = (lastv, len(agg[b]), True)
            else:
                want[(k, ts)] = (lastv, 0, False)
    assert set(got) == set(want)
    for key in got:
        g, w = got[key], want[key]
        assert g[1] == w[1] and g[2] == w[2], key
        assert abs(g[0] - w[0]) < 1e-9, key


def test_scd2_lookup_differential_vs_python(spark):
    import datetime as dt
    import random
    from tostore_spark.plans.scd import scd2_lookup
    rnd = random.Random(31)
    t0 = dt.datetime(2024, 1, 1)
    hist_rows, keys = [], list(range(5))
    for k in keys:
        cuts = sorted(rnd.sample(range(1, 100), 2))
        bounds = [None] + [t0 + dt.timedelta(days=c) for c in cuts] + [None]
        for i in range(3):
            hist_rows.append(
                (k, f"v{i}",
                 bounds[i] or dt.datetime(1970, 1, 1), bounds[i + 1]))
    hist = spark.createDataFrame(
        hist_rows, "uid long, tier string, valid_from timestamp,"
                   " valid_to timestamp")
    facts = [(i, rnd.choice(keys),
              t0 + dt.timedelta(days=rnd.randrange(0, 120)))
             for i in range(80)]
    fdf = spark.createDataFrame(facts, "fid long, uid long, ts timestamp")
    got = {r.fid: r.tier for r in
           scd2_lookup(fdf, hist, "uid", "ts").collect()}

    def ref(fid, uid, ts):
        for k, tier, vf, vt in hist_rows:
            if k == uid and vf <= ts and (vt is None or ts < vt):
                return tier
        return None

    for fid, uid, ts in facts:
        assert got[fid] == ref(fid, uid, ts), fid


def test_seasonal_decompose_identity_and_centering(spark):
    """Recomposition identity (value == trend + seasonal + resid on
    interior rows, nulls only at the h-row edges), near-zero seasonal
    centering, and a pure period-3 cycle recovered exactly."""
    import datetime as dt
    from tostore_spark.functions.timeseries import seasonal_decompose
    t0 = dt.datetime(2024, 1, 1)
    # entity a: constant 10 + cycle (+3, 0, -3) repeating -> trend 10
    cyc = [3.0, 0.0, -3.0]
    rows = [("a", t0 + dt.timedelta(days=i), 10.0 + cyc[i % 3])
            for i in range(12)]
    # entity b: pure linear ramp, no cycle -> seasonal ~ 0
    rows += [("b", t0 + dt.timedelta(days=i), float(i)) for i in range(9)]
    df = spark.createDataFrame(rows, ["k", "ts", "v"])
    out = seasonal_decompose(df, "k", "ts", "v", period=3).collect()
    got = {(r["k"], r["ts"]): r for r in out}
    for (k, ts), r in got.items():
        if r["trend"] is None:
            assert r["resid"] is None
            continue
        assert abs(r["v"] - (r["trend"] + r["seasonal"] + r["resid"])) \
            < 1e-9
    # edges: first and last row of each series have no trend (h=1)
    a_ts = sorted(ts for k, ts in got if k == "a")
    assert got[("a", a_ts[0])]["trend"] is None
    assert got[("a", a_ts[-1])]["trend"] is None
    # the pure cycle is recovered: trend == 10, seasonal == the cycle
    mid = got[("a", a_ts[4])]
    assert abs(mid["trend"] - 10.0) < 1e-9
    assert abs(mid["seasonal"] - cyc[4 % 3]) < 1e-9
    assert abs(mid["resid"]) < 1e-9
    # a linear ramp has (near-)zero seasonal everywhere
    for (k, ts), r in got.items():
        if k == "b" and r["seasonal"] is not None:
            assert abs(r["seasonal"]) < 1e-6
    # seasonal effects sum to ~0 across one period
    import itertools
    seas_a = {r["seasonal"] for (k, _), r in got.items()
              if k == "a" and r["seasonal"] is not None}
    assert abs(sum(seas_a)) < 1e-6


def test_seasonal_decompose_rejects_even_period(spark):
    from pyspark.sql import functions as F

    from tostore_spark.functions.timeseries import seasonal_decompose
    df = spark.range(5).select(F.lit("a").alias("k"), "id",
                               F.col("id").cast("double").alias("v"))
    for bad in (2, 4, 1):
        with pytest.raises(ValueError, match="odd"):
            seasonal_decompose(df, "k", "id", "v", period=bad)
