"""Skew-stress gate: salted vs unsalted A/B on a zipf-head rung (r10
verdict ask 1 — the one 100 TB axis with zero scale evidence; all prior
rungs replicate entities uniformly, so the salted operators had oracle
passes but no measured hot-key win).

Input: a dir from tools/make_skewed_sf.py (one user owning ~p of events,
one custkey owning ~p of orders — EVERY replica funnels into the same hot
key). Four experiments, each timing two physically different plans that
must produce IDENTICAL rows (compared by the checksum fold —
queries/checksums._fold, the same COUNT+BIT_XOR+DECIMAL-SUM discipline the
cross-engine gate uses; here both sides are Spark, so the fold is exact):

1. asof_union_salt — the j7b merge-form as-of over user_id, plain vs
   salt_bucket_seconds (operators/joins.py asof_join_union skew lever).
   The plain form windows over the key alone: the hot user's rows all
   serialize through ONE task's sort — the skew shape AQE cannot split
   (skew handling only rewrites joins, never windows).
2. top1_window_vs_agg — latest order per custkey (the w1 shape), window
   row_number vs top1_per_group_agg (min/max-struct). The agg form elects
   winners by partial aggregation: the hot custkey collapses map-side and
   no task ever sees its full row set.
3. salted_join — orders⋈customer on the hot custkey: plain equi-join
   (AQE skew-join splitting ON, the session default — an honest baseline)
   vs operators/skew.salted_join. Expect AQE to hold its own here: skew
   SPLITTING exists for joins; the record shows whichever wins.
4. salted_count — count per user_id, plain groupBy().count() vs
   operators/skew.salted_count. Expected ~parity: map-side partial
   aggregation already spreads a hot COUNT; recorded to show the honest
   boundary of where salting matters (it's windows/fan-in aggs, not
   combinable aggregates).

Wall-clock protocol: per experiment the variants alternate A,B,A,B (both
see the same cache state evolution); each variant's wall is its best run.

Usage:
    python tools/skew_gate.py <skew_dir> <label> [out.json] [runs]
    # e.g. python tools/skew_gate.py /tmp/sf_skew1000x 1000x SWEEP_SKEW_r11.json

Run solo (local[32], SPARK_DRIVER_MEMORY=12g+). shuffle_partitions=512:
at 100 TB partitions are small and plentiful — a hot key's rows dwarf any
one partition's fair share, which is precisely what makes the unsalted
window forms straggle; testing at 32 partitions would hide the skew under
partition granularity.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

HOT_KEY = 7


def fold(df, cols):
    from cehrbert_data_spark.queries.checksums import _fold

    return _fold(df, [F.col(c) for c in cols]).collect()[0].asDict()


def run_ab(name, build_a, build_b, fold_cols, runs, results):
    """Alternate the two variants; record best wall each + fold equality."""
    walls = {"a": [], "b": []}
    folds = {}
    for i in range(runs):
        for tag, build in (("a", build_a), ("b", build_b)):
            t0 = time.time()
            folds[tag] = fold(build(), fold_cols)
            walls[tag].append(round(time.time() - t0, 2))
            print(f"  {name}/{tag} run{i}: {walls[tag][-1]}s {folds[tag]}", flush=True)
    results[name] = {
        "identical": folds["a"] == folds["b"],
        "fold": folds["a"],
        "wall_a": min(walls["a"]),
        "wall_b": min(walls["b"]),
        "runs_a": walls["a"],
        "runs_b": walls["b"],
        "speedup_b_over_a": round(min(walls["a"]) / max(min(walls["b"]), 1e-9), 2),
    }


def main() -> int:
    skew_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf_skew1000x"
    label = sys.argv[2] if len(sys.argv) > 2 else "skew"
    out_path = sys.argv[3] if len(sys.argv) > 3 else "SWEEP_SKEW_r11.json"
    runs = int(sys.argv[4]) if len(sys.argv) > 4 else 2

    from cehrbert_data_spark.operators.joins import asof_join_union
    from cehrbert_data_spark.operators.skew import salted_count, salted_join
    from cehrbert_data_spark.operators.windows import (
        top1_per_group_agg,
        top_n_per_group,
    )
    from cehrbert_data_spark.session import build_session
    from cehrbert_data_spark.sources.readers import read_table

    spark = build_session("skew_gate", shuffle_partitions=512)

    events = read_table(spark, skew_dir, "events")
    orders = read_table(spark, skew_dir, "orders")
    customer = read_table(spark, skew_dir, "customer")

    n_events = events.count()
    n_orders = orders.count()
    hot_events = events.where(F.col("user_id") == HOT_KEY).count()
    hot_orders = orders.where(F.col("o_custkey") == HOT_KEY).count()
    shape = {
        "events": n_events,
        "orders": n_orders,
        "hot_user_rows": hot_events,
        "hot_user_pct": round(100.0 * hot_events / n_events, 2),
        "hot_cust_rows": hot_orders,
        "hot_cust_pct": round(100.0 * hot_orders / n_orders, 2),
        "shuffle_partitions": 512,
    }
    print(f"shape: {shape}", flush=True)
    results: dict = {}

    # 1. merge-form as-of: plain window-over-key vs time-bucket salt.
    # 6h buckets over the 30-day event span -> ~120 buckets; the hot
    # user's rows split across them instead of one task.
    views = events.where(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_event_id"),
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_event_id"), "ts"
    )
    asof_cols = ["purchase_event_id", "user_id", "view_event_id"]

    def asof_plain():
        return asof_join_union(
            purchases, views, on="user_id", left_ts="ts", right_ts="view_ts",
            tiebreak="view_event_id",
        ).select(asof_cols)

    def asof_salted():
        return asof_join_union(
            purchases, views, on="user_id", left_ts="ts", right_ts="view_ts",
            tiebreak="view_event_id", salt_bucket_seconds=6 * 3600,
        ).select(asof_cols)

    run_ab("asof_union_salt", asof_plain, asof_salted, asof_cols, runs, results)

    # 2. w1 shape: latest order per custkey, window vs agg form
    top1_cols = ["o_custkey", "o_orderkey", "o_totalprice"]

    def w1_window():
        return top_n_per_group(
            orders, ["o_custkey"],
            ["o_orderdate DESC", "o_orderkey DESC"], n=1,
        ).select(top1_cols)

    def w1_agg():
        return top1_per_group_agg(
            orders, ["o_custkey"], ["o_orderdate", "o_orderkey"], descending=True,
        ).select(top1_cols)

    run_ab("top1_window_vs_agg", w1_window, w1_agg, top1_cols, runs, results)

    # 3. hot-key equi-join: AQE skew-split baseline vs explicit salt
    cust = customer.select(
        F.col("c_custkey").alias("o_custkey"), "c_name", "c_nationkey"
    )
    join_cols = ["o_orderkey", "o_custkey", "c_nationkey"]

    def join_plain():
        return orders.join(cust, "o_custkey").select(join_cols)

    def join_salted():
        return salted_join(orders, cust, "o_custkey", num_salts=8).select(join_cols)

    run_ab("salted_join", join_plain, join_salted, join_cols, runs, results)

    # 4. combinable agg: expected ~parity (map-side combine already works)
    cnt_cols = ["user_id", "count"]

    def count_plain():
        return events.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("count")
        ).select(cnt_cols)

    def count_salted():
        return salted_count(events, ["user_id"]).select(cnt_cols)

    run_ab("salted_count", count_plain, count_salted, cnt_cols, runs, results)

    record = {
        "gate": "skew_stress",
        "label": label,
        "dir": skew_dir,
        "shape": shape,
        "experiments": results,
        "all_identical": all(r["identical"] for r in results.values()),
        "note": (
            "variant a = plain/window form, variant b = salted/agg form; "
            "identical == checksum-fold equality of full outputs"
        ),
    }
    with open(out_path, "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({k: {"identical": v["identical"], "wall_a": v["wall_a"],
                          "wall_b": v["wall_b"]} for k, v in results.items()}))
    print(f"wrote {out_path}; all identical: {record['all_identical']}")
    return 0 if record["all_identical"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
