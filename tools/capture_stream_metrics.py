"""Capture streaming-progress evidence for the twin streams.

Usage: python tools/capture_stream_metrics.py <tag> <suffix>

Runs the watermarked stream-stream join and the stateful counter
twins at $SPARK_GRAFT_SF_DIR and writes each query's recentProgress
(batch durations + state-operator metrics, the micro-batch analog of
.explain) to plans/<tag>/<name>_<suffix>.txt. This is the evidence
file for streaming rows, where a physical plan does not show the
state-store instance count that dominates their cost.
"""

from __future__ import annotations

import json
import os
import sys
import uuid

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    tag, suffix = sys.argv[1], sys.argv[2]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(REPO, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)

    from pyspark.sql import functions as F

    from pypiper_spark.session import get_spark
    from pypiper_spark.streaming import twins

    spark = get_spark(app_name="capture-stream-metrics")

    def dump(name: str, progresses) -> None:
        keep = []
        for p in progresses:
            keep.append(
                {
                    "batchId": p.get("batchId"),
                    "numInputRows": p.get("numInputRows"),
                    "durationMs": p.get("durationMs"),
                    "stateOperators": [
                        {
                            "operatorName": so.get("operatorName"),
                            "numStateStoreInstances": so.get("numStateStoreInstances"),
                            "allUpdatesTimeMs": so.get("allUpdatesTimeMs"),
                            "commitTimeMs": so.get("commitTimeMs"),
                            "numRowsTotal": so.get("numRowsTotal"),
                        }
                        for so in p.get("stateOperators", [])
                    ],
                }
            )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(json.dumps(keep, indent=1) + "\n")
        print(f"wrote {path}", file=sys.stderr)

    def dump_drains(name: str) -> None:
        """One file per query the runner drained (twins.LAST_PROGRESS):
        a runner that drains several queries gets each query name in
        its file name, so no drain overwrites another's evidence."""
        drains = twins.LAST_PROGRESS
        for qname, progresses in drains.items():
            dump(name if len(drains) == 1 else f"{name}_{qname}", progresses)

    # stream-stream join (the run_stream_stream_join construction,
    # instrumented — same plan, same trigger)
    ev = twins.events_stream(spark, sf_dir).withColumn(
        "ts_ltz", F.col("ts").cast("timestamp")
    )
    s = (
        ev.filter(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("signup_id"),
            F.col("user_id").alias("s_user_id"),
            F.col("ts_ltz").alias("signup_ts"),
        )
        .withWatermark("signup_ts", "1 hour")
    )
    e = (
        ev.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user_id"),
            F.col("ts_ltz").alias("error_ts"),
        )
        .withWatermark("error_ts", "1 hour")
    )
    joined = s.join(
        e,
        (F.col("s_user_id") == F.col("e_user_id"))
        & (F.col("error_ts") >= F.col("signup_ts"))
        & (F.col("error_ts") <= F.col("signup_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select("signup_id", "error_id", F.col("s_user_id").alias("user_id"))
    name = f"cap_{uuid.uuid4().hex[:8]}"
    scope = getattr(twins, "_stream_scope", None)
    import contextlib

    ctx = scope(spark, sf_dir) if scope else contextlib.nullcontext()
    with ctx:
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        twins._await_or_raise(q, 300)
    dump("q_stream_stream_join", q.recentProgress)

    # stateful counter
    ev2 = twins.events_stream(spark, sf_dir)
    name2 = f"cap_{uuid.uuid4().hex[:8]}"
    from pyspark.sql.streaming.state import GroupStateTimeout

    ctx = scope(spark, sf_dir) if scope else contextlib.nullcontext()
    with ctx:
        q2 = (
            ev2.groupBy("user_id")
            .applyInPandasWithState(
                twins._count_per_user,
                outputStructType=twins._COUNTER_SCHEMA,
                stateStructType=twins._STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
            .writeStream.format("memory")
            .queryName(name2)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        twins._await_or_raise(q2, 300)
    dump("q_stream_stateful_counter", q2.recentProgress)

    # r13 (VERDICT r12 next #10): the remaining twins — run each
    # registered stream query and dump the recentProgress the drain
    # hook (twins.LAST_PROGRESS) recorded, so the full 15-path
    # state-partition claim is verifiable without re-running streams.
    from pypiper_spark.registry import all_queries

    qs = all_queries()
    rest = [
        "q_stream_tumbling_real",
        "q_stream_sliding_real",
        "q_stream_dedup_real",
        "q_stream_static_enrich",
    ]
    for name in rest:
        twins.LAST_PROGRESS.clear()
        qs[name].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        dump_drains(name)
        spark.catalog.clearCache()
    # the late-accounting REGISTERED query is the batch reconstruction;
    # its stream twin lives in twins.run_late_accounting_stream (the
    # equality test's subject) — capture that runner directly
    twins.LAST_PROGRESS.clear()
    twins.run_late_accounting_stream(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    dump_drains("q_stream_late_accounting_twin")
    return 0


if __name__ == "__main__":
    sys.exit(main())
