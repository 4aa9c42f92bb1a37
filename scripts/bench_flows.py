"""Scale evidence for the OD-flow family (VERDICT r7 item 5):

- batch ``od_flows`` at 16M+ events (noop protocol, min-of-3), uniform
  AND hot-user (one user = 50% of all events) arms — the skew claim to
  evidence is that the only event-sized operation is the map-side-
  combined anchor aggregation, so a hot user's cost is bounded by their
  DAY count, not their event count;
- ``flows_stream`` throughput + state-size reading on the hot-user
  workload with many in-flight days — the state claim to evidence is
  ONE state row per key (the pending-day running minima live inside
  that row's blob), independent of event rate.

Inputs are prebuilt and materialized OUTSIDE timed regions (bench
protocol: never time synthesis). Prints one JSON line.

Run: python scripts/bench_flows.py [--rows 16000000] [--stream-rows 4000000]
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import tempfile
import time

sys.path.insert(0, ".")

from pyspark.sql import DataFrame

from a_tree_spark.engine.session import get_spark
from a_tree_spark.pipeline.temporal import od_flows, od_moves

DAY_US = 86_400_000_000


def synth(spark, n: int, n_users: int, n_days: int, hot: bool) -> DataFrame:
    """Deterministic event stream over ``n_days`` days; ``hot`` routes
    half of all rows to user 0 (both id parities, so any split sees the
    hot key)."""
    user = (
        f"CAST(CASE WHEN id % 4 < 2 THEN 0 "
        f"ELSE 1 + (id DIV 2) % {n_users - 1} END AS BIGINT)"
        if hot
        else f"CAST((id DIV 2) % {n_users} AS BIGINT)"
    )
    return spark.range(n).selectExpr(
        "id AS event_id",
        f"{user} AS user_id",
        "timestamp_micros(CAST(1704067200000000 + "
        f"(id * 2654435761) % {n_days * DAY_US} AS BIGINT)) AS ts",
        "CAST(id % 4096 AS BIGINT) AS cell_id",
    )


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def batch_arm(spark, path: str, tag: str, out: dict) -> None:
    events = spark.read.parquet(path)
    walls = []
    for _ in range(3):
        t0 = time.time()
        _noop(od_flows(events))
        walls.append(round(time.time() - t0, 3))
    flows = od_flows(events)
    out[tag] = {
        "runs_s": walls,
        "best_s": min(walls),
        "n_events": events.count(),
        "n_anchor_rows": od_moves(events).count(),
        "n_flow_rows": flows.count(),
    }


def stream_arm(spark, path: str, workdir: str, out: dict) -> None:
    from a_tree_spark.streaming.flows_stream import flows_stream

    batch_events = spark.read.parquet(path)
    schema = batch_events.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(path)
    )
    moves = flows_stream(stream)
    emitted = {"rows": 0}

    def sink(df, _bid):
        emitted["rows"] += df.count()

    t0 = time.time()
    query = (
        moves.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", f"{workdir}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    if not query.awaitTermination(1800):
        # still running: stop it before anything reads a partial run or
        # the caller's cleanup deletes the checkpoint under it
        query.stop()
        raise RuntimeError("flows_stream did not finish within 1800 s")
    wall = time.time() - t0
    progresses = query.recentProgress
    state_rows = [
        op["numRowsTotal"]
        for p in progresses
        for op in (p.get("stateOperators") or [])
    ]
    n_events = batch_events.count()
    batch_rows = od_moves(batch_events).count()
    # the stream only emits transitions whose DESTINATION day the
    # watermark closed DURING a trigger; with availableNow the
    # watermark lags one trigger and no trigger runs after the last,
    # so the tail days stay pending by design — emitted is strictly
    # below the batch total here (row-level parity incl. the pending
    # epilogue is pinned by tests/test_streaming.py, not this bench).
    # The upper-bound reference is the batch relation over days the
    # FINAL watermark (max ts - 1h) would close.
    from pyspark.sql import functions as F

    wm_us = (
        batch_events.agg(F.max(F.unix_micros("ts"))).collect()[0][0]
        - 3_600_000_000
    )
    finalized_rows = (
        od_moves(batch_events)
        .where((F.col("day") + 1) * DAY_US <= wm_us)
        .count()
    )
    assert emitted["rows"] <= finalized_rows <= batch_rows
    out["stream_hot"] = {
        "wall_s": round(wall, 2),
        "n_events": n_events,
        "events_per_sec": round(n_events / wall, 1),
        "emitted_move_rows": emitted["rows"],
        "batch_od_moves_rows": batch_rows,
        "batch_rows_over_final_wm_days": finalized_rows,
        # recentProgress keeps only the last
        # spark.sql.streaming.numRecentProgressUpdates triggers, so the
        # state readings cover that window, not necessarily the whole run
        "state_rows_max_in_recent_progress": max(state_rows) if state_rows else None,
        "state_rows_final": state_rows[-1] if state_rows else None,
        "n_triggers_in_recent_progress": len(progresses),
    }


def _at_least_two(text: str) -> int:
    """--users: the hot-user arm spreads the other half of the events
    over users 1..n-1, so it needs at least two users."""
    value = int(text)
    if value < 2:
        raise argparse.ArgumentTypeError(f"must be at least 2, got {value}")
    return value


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=16_000_000)
    ap.add_argument("--stream-rows", type=int, default=4_000_000)
    ap.add_argument("--users", type=_at_least_two, default=50_000)
    ap.add_argument("--days", type=int, default=30)
    args = ap.parse_args()

    spark = get_spark("bench_flows")
    spark.sparkContext.setLogLevel("ERROR")
    workdir = tempfile.mkdtemp(prefix="bench_flows_")
    out: dict = {
        "bench": "od_flows+flows_stream scale",
        "rows": args.rows,
        "users": args.users,
        "days": args.days,
    }
    try:
        # materialize inputs outside timing
        uni, hot, shot = (
            f"{workdir}/uniform",
            f"{workdir}/hot",
            f"{workdir}/stream_hot",
        )
        synth(spark, args.rows, args.users, args.days, hot=False).repartition(
            32
        ).write.parquet(uni)
        synth(spark, args.rows, args.users, args.days, hot=True).repartition(
            32
        ).write.parquet(hot)
        # stream corpus: fewer rows (python per-row state fold), 8 files
        # so availableNow runs several triggers with days in flight
        synth(
            spark, args.stream_rows, args.users, args.days, hot=True
        ).repartition(8).write.parquet(shot)

        spark.sparkContext.setJobDescription("od_flows uniform 16M")
        batch_arm(spark, uni, "batch_uniform", out)
        spark.sparkContext.setJobDescription("od_flows hot-user 16M")
        batch_arm(spark, hot, "batch_hot_user", out)
        spark.sparkContext.setJobDescription("flows_stream hot-user")
        stream_arm(spark, shot, workdir, out)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
