from pyspark.sql import Row
from pyspark.sql import functions as F

from document_parsing_etl_pipeline_spark.operators.asof import asof_join
from document_parsing_etl_pipeline_spark.operators import skew
from document_parsing_etl_pipeline_spark.operators.skew import (
    key_skew_profile, salt_plan, salted_join_profiled,
)


def test_asof_join_picks_latest_preceding(spark):
    trades = spark.createDataFrame(
        [Row(sym="A", t=10, px=0.0), Row(sym="A", t=25, px=0.0),
         Row(sym="B", t=15, px=0.0)]
    )
    quotes = spark.createDataFrame(
        [Row(sym="A", qt=5, bid=1.0), Row(sym="A", qt=20, bid=2.0),
         Row(sym="A", qt=30, bid=3.0), Row(sym="B", qt=40, bid=9.0)]
    )
    out = asof_join(trades, quotes, key="sym", left_ts="t",
                    right_ts="qt", right_vals=["bid"])
    got = {(r.sym, r.t): r.asof_bid for r in out.collect()}
    assert got[("A", 10)] == 1.0   # quote@5 is latest ≤ 10
    assert got[("A", 25)] == 2.0   # quote@20, not 30
    assert got[("B", 15)] is None  # no preceding quote


def test_asof_join_equal_timestamp(spark):
    left = spark.createDataFrame([Row(k="x", t=10)])
    right = spark.createDataFrame([Row(k="x", rt=10, v=7)])
    eq = asof_join(left, right, "k", "t", "rt", ["v"], allow_equal=True)
    assert eq.collect()[0].asof_v == 7
    ne = asof_join(left, right, "k", "t", "rt", ["v"], allow_equal=False)
    assert ne.collect()[0].asof_v is None


def test_salt_plan_fans_out_only_hot_keys(spark):
    big = spark.createDataFrame(
        [Row(k="hot", payload=i) for i in range(2000)]
        + [Row(k=f"cold{j}", payload=j) for j in range(50)]
    )
    plan = {r.k: r.n_salts
            for r in salt_plan(big, "k", target_rows_per_task=200).collect()}
    # hot: ceil(2000/200) = 10 sub-keys; cold keys (1 row) stay out
    assert plan == {"hot": 10}


def test_profiled_salting_equalizes_task_sizes(spark):
    big = spark.createDataFrame(
        [Row(k="hot", payload=i) for i in range(2000)]
        + [Row(k=f"cold{j}", payload=j) for j in range(50)]
    )
    plan = salt_plan(big, "k", target_rows_per_task=200)
    sizes = {
        (r.k, r._salt): r.n
        for r in skew._salt_big(big, skew._plan_map(plan), "k")
        .groupBy("k", "_salt").agg(F.count("*").alias("n")).collect()
    }
    hot = [n for (k, _), n in sizes.items() if k == "hot"]
    # the hot key spreads over all 10 sub-keys, each near the 200-row
    # target (row-hash spread: allow 2x) — no single straggler task
    assert len(hot) == 10
    assert max(hot) <= 400 and min(hot) >= 50
    # cold keys stay on one sub-key
    assert all(s == 0 for (k, s) in sizes if k != "hot")


def test_profiled_salted_join_matches_plain_join(spark):
    big = spark.createDataFrame(
        [Row(k=i % 5, payload=i) for i in range(500)]
    )
    small = spark.createDataFrame(
        [Row(k=i, name=f"n{i}") for i in range(4)]
    )
    plan = salt_plan(big, "k", target_rows_per_task=30)
    plain = big.join(small, "k").select("k", "payload", "name")
    salted = salted_join_profiled(big, small, "k", plan).select(
        "k", "payload", "name"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )


def test_key_skew_profile(spark):
    df = spark.createDataFrame(
        [Row(k="hot")] * 90 + [Row(k="cold")] * 10
    )
    prof = key_skew_profile(df, "k").collect()
    assert prof[0].k == "hot" and prof[0].share == 0.9


def test_interleave_bits_matches_python_morton(spark):
    from document_parsing_etl_pipeline_spark.operators.layout import (
        interleave_bits,
    )

    vals = [(0, 0), (255, 255), (1, 0), (0, 1), (170, 85), (37, 200)]
    df = spark.createDataFrame(vals, ["xq", "yq"])
    got = {
        (r.xq, r.yq): r.z
        for r in df.select(
            "xq", "yq", interleave_bits("xq", "yq", 8).alias("z")
        ).collect()
    }

    def morton(x, y):
        z = 0
        for j in range(8):
            z |= ((x >> j) & 1) << (2 * j)
            z |= ((y >> j) & 1) << (2 * j + 1)
        return z

    assert got == {(x, y): morton(x, y) for x, y in vals}
    # z-curve locality sanity: (255,255) maps to the max cell
    assert got[(255, 255)] == 65535
