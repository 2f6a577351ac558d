"""Measure the bucketed-layout win on the canonical fact-fact join.

lineitem ⋈ orders on the order key is the highest-volume join in the
TPC-H suite; at 100 TB it shuffles both fact tables every query. Bucketing
both sides on the key at write time pays that shuffle ONCE — afterwards
the sort-merge join runs with zero Exchange. This script measures the
trade at sf0.1: plain join (forced SMJ, broadcast off — the honest
100 TB shape where neither side broadcasts) vs the same join over
bucketed+sorted tables, asserting the bucketed plan really has no
Exchange, and reporting the one-time bucketing cost.

Usage: python tools/bench_bucketed.py [sf_dir]
Prints one JSON line for BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import median3  # noqa: E402


def main() -> None:
    sf_dir = (
        sys.argv[1]
        if len(sys.argv) > 1
        else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    from pyspark.sql import functions as F

    from randas_spark.io.layout import write_bucketed
    from randas_spark.queries import t
    from randas_spark.session import get_spark

    spark = get_spark("bench-bucketed")
    # the 100 TB shape: neither fact side broadcasts
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount")
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")

    def join_agg(li_df, o_df):
        return (
            li_df.join(o_df, li_df.l_orderkey == o_df.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
            )
        )

    plain_sec = median3(spark, lambda: join_agg(li, orders).collect())[0]

    t0 = time.perf_counter()
    write_bucketed(li, "li_bench_b", ["l_orderkey"], num_buckets=32, sort_cols=["l_orderkey"])
    write_bucketed(
        orders, "orders_bench_b", ["o_orderkey"], num_buckets=32, sort_cols=["o_orderkey"]
    )
    bucket_write_sec = round(time.perf_counter() - t0, 4)

    li_b = spark.table("li_bench_b")
    o_b = spark.table("orders_bench_b")
    joined = join_agg(li_b, o_b)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # the point of the exercise: zero runtime shuffle on the bucketed pair
    # (the final single-partition gather of the 5 agg rows doesn't count —
    # check the join inputs specifically: no Exchange below SortMergeJoin)
    join_part = plan.split("SortMergeJoin")[-1] if "SortMergeJoin" in plan else plan
    no_exchange = "Exchange hashpartitioning" not in join_part
    bucketed_sec = median3(spark, lambda: joined.collect())[0]

    spark.sql("DROP TABLE IF EXISTS li_bench_b")
    spark.sql("DROP TABLE IF EXISTS orders_bench_b")

    # ---- the REAL headline trio over bucketed layout (round-6) --------
    # q12/q18/q21 are the suite's fact-fact orderkey joins; bucket the
    # FULL-WIDTH tables once (what a production layout would persist)
    # and run the identical query cores over plain vs bucketed inputs.
    from randas_spark.queries.tpch import q12_core, q18_core, q21_core

    li_full = t(spark, sf_dir, "lineitem")
    o_full = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    supp = t(spark, sf_dir, "supplier")

    t0 = time.perf_counter()
    write_bucketed(li_full, "li_full_b", ["l_orderkey"], num_buckets=32, sort_cols=["l_orderkey"])
    write_bucketed(o_full, "o_full_b", ["o_orderkey"], num_buckets=32, sort_cols=["o_orderkey"])
    trio_write_sec = round(time.perf_counter() - t0, 4)
    li_b, o_b = spark.table("li_full_b"), spark.table("o_full_b")

    trio = {}
    for name, plain_fn, bucket_fn in [
        ("q12", lambda: q12_core(li_full, o_full), lambda: q12_core(li_b, o_b)),
        ("q18", lambda: q18_core(li_full, o_full, cust), lambda: q18_core(li_b, o_b, cust)),
        ("q21", lambda: q21_core(li_full, o_full, supp), lambda: q21_core(li_b, o_b, supp)),
    ]:
        p = median3(spark, lambda: plain_fn().collect())[0]
        b = median3(spark, lambda: bucket_fn().collect())[0]
        plan_b = bucket_fn()._jdf.queryExecution().executedPlan().toString()
        jp = plan_b.split("SortMergeJoin")[-1] if "SortMergeJoin" in plan_b else plan_b
        trio[name] = {
            "plain_sec": p,
            "bucketed_sec": b,
            "speedup": round(p / b, 2) if b else None,
            "no_exchange_under_join": "Exchange hashpartitioning" not in jp,
        }

    spark.sql("DROP TABLE IF EXISTS li_full_b")
    spark.sql("DROP TABLE IF EXISTS o_full_b")

    print(
        json.dumps(
            {
                "metric": "bucketed_join_vs_plain",
                "sf_dir": sf_dir,
                "plain_smj_sec": plain_sec,
                "bucketed_smj_sec": bucketed_sec,
                "one_time_bucket_write_sec": bucket_write_sec,
                "speedup": round(plain_sec / bucketed_sec, 2) if bucketed_sec else None,
                "bucketed_join_has_no_exchange": no_exchange,
                "tpch_trio_bucket_write_sec": trio_write_sec,
                "tpch_trio": trio,
            }
        )
    )


if __name__ == "__main__":
    main()
