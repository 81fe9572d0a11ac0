#!/usr/bin/env python3
"""One benchmark run of pypiper-spark, in a fresh process.

    python3 perfbench/run.py --workload table_ingest --seed 0 --seconds 5 --trace 0

Run from the root of a checkout. The run:

1. isolates artifacts: ``SPARK_GRAFT_INDEX_DIR``, ``TMPDIR`` and
   ``SPARK_LOCAL_DIRS`` point at fresh directories under ``.bench_run/``,
   removed at exit, so every run pays the same artifact builds;
2. sets up: ``get_spark`` at ``local[nproc]``, the registry import and an
   untimed warm-up pass whose outputs are collected (``setup_s`` runs
   from process start to the end of this pass, minus input generation,
   the host record and the CPU canary);
3. runs timed passes in a closed loop from one thread until ``--seconds``
   have passed: each op is called, materialised through the ``noop``
   sink, and followed by ``session.release_query_caches``;
4. checks the warm-up outputs against DuckDB (``workloads.check_outputs``).

``--trace 1`` alternates untraced and traced passes (at least untraced,
traced, untraced), turns on an uncompressed Spark event log and a
streaming progress listener, and reports the per-layer metrics; spans and
their self times are written to ``.bench_out/``. The last stdout line is
the result JSON; the line before it is the full record (host, canary,
fail ratio, per-op figures). See README.md for every metric.
"""

from __future__ import annotations

import time

T0 = time.monotonic()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import uuid  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("llm_pipeline", "table_ingest")
DEFAULT_SEED = 0
MB = 1024 * 1024


def _process_age() -> float:
    """Seconds since this process was started (from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


AGE0 = _process_age()


def canary() -> float:
    """A fixed pure-Python CPU task; its time flags a disturbed host.
    It is recorded, never used to rescale a metric."""
    t = time.perf_counter()
    h = hashlib.sha256()
    acc = 0
    for i in range(2_000_000):
        acc = (acc * 31 + i) % 1_000_003
        if i % 1000 == 0:
            h.update(acc.to_bytes(4, "little"))
    return time.perf_counter() - t


def _vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def host_record(nproc: int) -> dict:
    import pyspark

    commit = None
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    digest = hashlib.sha1()
    for dp, dns, fns in sorted(os.walk(os.path.join(ROOT, "pypiper_spark"))):
        dns.sort()
        for f in sorted(fns):
            if f.endswith(".py"):
                with open(os.path.join(dp, f), "rb") as fh:
                    digest.update(f.encode() + fh.read())
    return {
        "nproc": nproc,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "git_commit": commit,
        "source_sha1": digest.hexdigest(),
        "loadavg_start": os.getloadavg(),
    }


def _store_entries(dirs: list[str]) -> dict[str, int]:
    """Artifact-store entries (index dir and temp dir) -> mtime ns."""
    out = {}
    for d in dirs:
        for f in os.listdir(d):
            try:
                out[os.path.join(d, f)] = os.stat(os.path.join(d, f)).st_mtime_ns
            except FileNotFoundError:
                pass
    return out


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f)) for dp, _, fs in os.walk(path) for f in fs
    )


def _median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0.0


def tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least 10 samples above it:
    (value, percentile, n); below 11 samples, the minimum."""
    s = sorted(samples)
    n = len(s)
    k = max(0, n - 11)
    pct = 100.0 * k / (n - 1) if n > 1 else 0.0
    return (s[k] if s else 0.0), pct, n


class Run:
    def __init__(self, args):
        self.args = args
        self.workload = args.workload
        self.traced = bool(args.trace)
        self.run_dir = os.path.join(ROOT, ".bench_run", f"{os.getpid()}-{uuid.uuid4().hex[:8]}")
        self.dirs = {k: os.path.join(self.run_dir, k) for k in ("index", "tmp", "local", "tables", "eventlog")}
        self.tracer = None
        self.listener = None
        self.progress: list = []
        self.passes: list[dict] = []
        self.failed_calls = 0
        self.attempted = 0

    # -- environment -----------------------------------------------------------
    def isolate(self) -> None:
        for d in self.dirs.values():
            os.makedirs(d)
        os.environ["SPARK_GRAFT_INDEX_DIR"] = self.dirs["index"]
        os.environ["TMPDIR"] = self.dirs["tmp"]
        os.environ["SPARK_LOCAL_DIRS"] = self.dirs["local"]
        tempfile.tempdir = None  # re-read TMPDIR
        self.nproc = len(os.sched_getaffinity(0))
        self.inherited_cpus = os.environ.get("SPARK_GRAFT_CPUS")
        os.environ["SPARK_GRAFT_CPUS"] = str(self.nproc)

    def start_spark(self):
        from pypiper_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.dirs["tmp"], "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.dirs['tmp']} -XX:-UsePerfData",
        }
        if self.traced:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.dir": "file://" + self.dirs["eventlog"],
                }
            )
        return get_spark(
            app_name=f"perfbench-{self.workload}", master=f"local[{self.nproc}]", extra_conf=conf
        )

    # -- passes ----------------------------------------------------------------
    def run_pass(self, ctx, ops, collect: bool, traced: bool, n: int) -> tuple[dict, dict]:
        from pypiper_spark import session

        sc = ctx.spark.sparkContext
        ctx.root = os.path.join(self.dirs["tables"], f"pass{n}")
        stores = [self.dirs["index"], self.dirs["tmp"]]
        recs, outputs = [], {}
        track_stores = traced or collect  # the warm-up pass builds, traced passes should hit
        if traced:
            self.tracer.install()
        t_pass = time.perf_counter()
        for op in ops:
            rec = ctx.rec = {"op": op.name, "kind": op.kind}
            if traced:
                self.tracer.op = f"{n}/{op.name}"
                sc.setJobDescription(op.name)
            if track_stores:
                before = _store_entries(stores)
            rec["w0"] = time.time()
            t = time.perf_counter()
            try:
                out = op.run(ctx, collect)
                rec["ok"] = True
            except Exception as e:  # noqa: BLE001 - a raising op is a failed op
                out, rec["ok"], rec["error"] = None, False, f"{type(e).__name__}: {e}"[:500]
                self.failed_calls += 1
            rec["lat"] = time.perf_counter() - t
            rec["w1"] = time.time()
            self.attempted += 1
            session.release_query_caches(ctx.spark)
            if traced:
                self.tracer.op = ""
                sc.setJobDescription(None)
            if track_stores:
                after = _store_entries(stores)
                rec["store_writes"] = sum(1 for k, v in after.items() if before.get(k) != v)
            if out is not None:
                outputs[op.name] = out
            recs.append(rec)
        pass_s = time.perf_counter() - t_pass
        if traced:
            self.tracer.remove()
        rec_pass = {"n": n, "traced": traced, "pass_s": pass_s, "ops": recs}
        rec_pass.update(self.table_stats(ctx))
        shutil.rmtree(ctx.root, ignore_errors=True)
        return rec_pass, outputs

    def table_stats(self, ctx) -> dict:
        from pypiper_spark import tableformat

        if not os.path.isdir(ctx.root) or tableformat.current_id(ctx.root) < 1:
            return {}
        snaps = tableformat.snapshots(ctx.root)
        out = {
            "disk_bytes": _du(ctx.root),
            "files_per_snapshot": statistics.mean(len(m["files"]) for m in snaps),
        }
        key = next(iter(snaps[0].get("stats_cols", ())), None)
        if key is not None:  # lookups after commit i read snapshot i + 1
            out["prune_ratio"] = statistics.mean(
                len(tableformat.files_for(ctx.root, i + 1, (key, k, k)))
                / len(tableformat.files_for(ctx.root, i + 1))
                for i, keys in enumerate(ctx.plan["reads"])
                for k in keys
            )
        return out

    # -- the run -----------------------------------------------------------------
    def execute(self) -> dict:
        import workloads as W

        self.isolate()
        t = time.monotonic()  # inputs, host record and canary: not set-up
        canary_before = canary()
        corpus = W.corpus_dir(W.CORPUS[self.workload])
        plan = W.make_plan(self.workload, corpus, self.args.seed)
        host = host_record(self.nproc)
        host["SPARK_GRAFT_CPUS_inherited"] = self.inherited_cpus
        excluded_s = time.monotonic() - t

        layers: dict[str, float] = {}
        t = time.monotonic()
        spark = self.start_spark()
        layers["session.get_spark_s"] = time.monotonic() - t
        jvm = spark.sparkContext._gateway.proc
        phases = {}
        try:
            t = time.monotonic()
            from pypiper_spark.registry import all_queries

            queries = all_queries()
            layers["registry.import_s"] = time.monotonic() - t
            if self.traced:
                import spans

                self.tracer = spans.Tracer()
                self.listener = spans.add_progress_listener(spark, self.progress)
            ctx = W.Ctx(spark=spark, corpus=corpus, queries=queries, plan=plan)
            rng = random.Random(self.args.seed)

            warm, outputs = self.run_pass(ctx, W.pass_ops(self.workload, plan, rng), True, False, 0)
            for _ in range(W.NOOP_WARMUPS[self.workload]):
                self.run_pass(ctx, W.pass_ops(self.workload, plan, rng), False, False, 0)
            setup_s = AGE0 + (time.monotonic() - T0) - excluded_s

            t_meas = time.perf_counter()
            n = 1
            while True:
                traced = self.traced and n % 2 == 0
                p, _ = self.run_pass(ctx, W.pass_ops(self.workload, plan, rng), False, traced, n)
                self.passes.append(p)
                n += 1
                done = time.perf_counter() - t_meas >= self.args.seconds
                # traced runs: untraced, traced, untraced at least, so the
                # tracing overhead is not confounded with the first pass
                if done and (not self.traced or n > 3):
                    break
            phases["measured_s"] = time.perf_counter() - t_meas

            # the program's peak, before the DuckDB check runs in this process
            rss = {"python_mb": _vm_hwm_mb("self"), "jvm_mb": _vm_hwm_mb(jvm.pid)}
            t = time.monotonic()
            bad = W.check_outputs(outputs, plan, queries, corpus)
            live, committed = (
                W.user_bytes(plan, corpus) if self.workload == "table_ingest" else (0, 0)
            )
            phases["check_s"] = time.monotonic() - t
        finally:
            t = time.monotonic()
            self.stop_spark(spark, jvm)
            phases["stop_s"] = time.monotonic() - t

        failed = self.failed_calls + len(bad)
        raised = {r["op"]: r["error"] for p in [warm] + self.passes for r in p["ops"] if not r["ok"]}
        timed = [p for p in self.passes if not p["traced"]]
        record = {
            "workload": self.workload,
            "seed": self.args.seed,
            "host": host,
            "plan": plan,
            "attempted": self.attempted,
            "failed": failed,
            "fail_ratio": failed / self.attempted,
            "failed_ops": {**raised, **bad},
            "pass_s": [(p["pass_s"], p["traced"]) for p in self.passes],
            "phases": {"setup_s": setup_s, **phases},
            "peak_rss": rss,
        }
        if self.traced:
            out_dir = os.path.join(ROOT, ".bench_out")
            os.makedirs(out_dir, exist_ok=True)
            self.tracer.dump(os.path.join(out_dir, f"trace-{self.workload}-{self.args.seed}.json"))
            record["span_self_times"] = self.tracer.self_times()
            metrics = self.layer_metrics(layers, warm, timed, committed)
            record["per_layer"] = metrics
        else:
            metrics = self.end_to_end(setup_s, timed, live, sum(rss.values()), record)
            record["end_to_end"] = metrics
        record["warmup_latency_s"] = {r["op"]: r["lat"] for r in warm["ops"]}
        record["op_latency_s"] = {
            op: _median([r["lat"] for p in timed for r in p["ops"] if r["op"] == op])
            for op in dict.fromkeys(r["op"] for p in timed for r in p["ops"])
        }
        record["canary_s"] = {"before": canary_before, "after": canary()}
        record["host"]["loadavg_end"] = os.getloadavg()
        return {
            "record": record,
            "result": {
                "correct": failed == 0,
                "attempted": self.attempted,
                "failed": failed,
                "metrics": metrics,
            },
        }

    def stop_spark(self, spark, jvm) -> None:
        if self.listener is not None:
            spark.streams.removeListener(self.listener)
        gateway = spark.sparkContext._gateway
        spark.stop()
        gateway.shutdown()
        try:
            jvm.stdin.close()
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()

    # -- metrics -------------------------------------------------------------------
    def end_to_end(self, setup_s, timed, live, peak_rss, record) -> dict:
        def ops(kinds=None):
            return [
                r["lat"] for p in timed for r in p["ops"] if r["ok"] and (kinds is None or r["kind"] in kinds)
            ]

        # Recorded, not gated (README.md): a figure is gated only if it is
        # measured on every workload and repeats within a tenth over ten seeds.
        tail_v, tail_pct, tail_n = tail(ops())
        record["recorded"] = {
            "op_tail_s": {"value": tail_v, "unit": "s", "percentile": tail_pct, "n": tail_n},
            "write_p50_s": {"value": _median(ops({"write"})), "unit": "s"},
            "read_p50_s": {"value": _median(ops({"read"})), "unit": "s"},
            "fail_ratio": {"value": record["fail_ratio"], "unit": "ratio"},
            "peak_rss_mb": {"value": peak_rss, "unit": "MB"},
        }
        values = {
            "setup_s": (setup_s, "s"),
            "pass_s": (_median(p["pass_s"] for p in timed), "s"),
            "op_p50_s": (_median(ops()), "s"),
            # llm_pipeline commits no table; the result must still name every
            # end-to-end metric, so it reports the neutral 1.0
            "space_amp": (_median(p["disk_bytes"] / live for p in timed) if live else 1.0, "ratio"),
        }
        return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}

    def layer_metrics(self, layers, warm, timed_untraced, committed) -> dict:
        import spans

        traced = [p for p in self.passes if p["traced"]]
        keys = {f"{p['n']}/{r['op']}": r for p in traced for r in p["ops"]}
        per_pass = lambda f: _median(sum(f(r) for r in p["ops"]) for p in traced)  # noqa: E731
        span_pass = lambda name: _median(  # noqa: E731
            sum(self.tracer.totals(name, {f"{p['n']}/{r['op']}" for r in p["ops"]})) for p in traced
        )

        # artifacts: cold (warm-up) build minus warm build, per op
        warm_build = {r["op"]: r.get("build_s", 0.0) for r in warm["ops"]}
        timed_build = {
            op: _median([r.get("build_s", 0.0) for p in self.passes for r in p["ops"] if r["op"] == op])
            for op in warm_build
        }
        artifact_ops = {r["op"] for r in warm["ops"] if r["store_writes"]}
        calls = [r for p in traced for r in p["ops"] if r["op"] in artifact_ops]
        hits = [r for r in calls if r.get("store_writes", 0) == 0]

        log = spans.read_event_log(self.dirs["eventlog"])
        windows = [(r["w0"], r["w1"], k) for k, r in keys.items()]
        ev = spans.attribute(log, windows)
        submits = sorted(s / 1000.0 for s, _ in log["jobs"])

        def planning(r):
            a = r.get("action_wall")
            if a is None:
                return 0.0
            first = next((t for t in submits if a <= t <= r["w1"]), None)
            return max(0.0, first - a) if first is not None else 0.0

        def evsum(field, scale=1.0):
            return _median(
                sum(ev.get(f"{p['n']}/{r['op']}", {}).get(field, 0) for r in p["ops"]) * scale
                for p in traced
            )

        def idle(p):
            return sum(
                r["lat"] - ev.get(f"{p['n']}/{r['op']}", {}).get("run_s", 0.0) / self.nproc
                for r in p["ops"]
            )

        def op_lat(prefix):
            return _median([r["lat"] for p in traced for r in p["ops"] if r["op"].startswith(prefix)])

        def span_call(name):
            return _median(self.tracer.totals(name, set(keys)))

        job_rows = [
            r["mapbatches_rows"] / r["branch_s"]
            for p in traced for r in p["ops"] if r.get("mapbatches_rows") and r.get("branch_s")
        ]
        stream_windows = [(r["w0"], r["w1"]) for p in traced for r in p["ops"] if r["op"] == "stream_ingest"]
        batches = [d for ts, d in self.progress if any(a <= ts <= b for a, b in stream_windows)]
        per_user = (
            _median(p.get("disk_bytes", 0) / committed for p in traced) if committed else 0.0
        )
        values = {
            **{k: (v, "s") for k, v in layers.items() if k.endswith("_s")},
            "artifacts.build_s": (
                sum(max(0.0, warm_build[o] - timed_build.get(o, 0.0)) for o in warm_build), "s"
            ),
            "artifacts.files_built": (sum(r["store_writes"] for r in warm["ops"]), "count"),
            "artifacts.hit_ratio": (len(hits) / len(calls) if calls else 0.0, "ratio"),
            "queries.build_s": (per_pass(lambda r: r.get("build_s", 0.0) if r["kind"] == "query" else 0.0), "s"),
            "queries.action_s": (per_pass(lambda r: r.get("action_s", 0.0) if r["kind"] == "query" else 0.0), "s"),
            "catalog.load_table_s": (span_pass("catalog.load_table"), "s"),
            "queries.planning_s": (per_pass(planning), "s"),
            "queries.idle_s": (_median(idle(p) for p in traced), "s"),
            "queries.jobs": (evsum("jobs"), "count"),
            "queries.stages": (evsum("stages"), "count"),
            "queries.tasks": (evsum("tasks"), "count"),
            "queries.executor_run_s": (evsum("run_s"), "s"),
            "queries.executor_cpu_s": (evsum("cpu_s"), "s"),
            "queries.shuffle_write_mb": (evsum("sw_b", 1 / MB), "MB"),
            "queries.shuffle_read_mb": (evsum("sr_b", 1 / MB), "MB"),
            "queries.spill_mb": (evsum("spill_b", 1 / MB), "MB"),
            "queries.gc_s": (evsum("gc_s"), "s"),
            "pipeline.run_s": (span_pass("pipeline.run"), "s"),
            "pipeline.branch_s": (per_pass(lambda r: r.get("branch_s", 0.0)), "s"),
            "pipeline.mapbatches_rows_per_s": (_median(job_rows), "1/s"),
            "tableformat.create_s": (span_call("tableformat.create"), "s"),
            "tableformat.append_s": (span_call("tableformat.append"), "s"),
            "tableformat.merge_partial_s": (span_call("tableformat.merge_partial"), "s"),
            "tableformat.delete_where_s": (span_call("tableformat.delete_where"), "s"),
            "tableformat.compact_s": (span_call("tableformat.compact"), "s"),
            "tableformat.bytes_written_per_user_byte": (per_user, "ratio"),
            "tableformat.read_pruned_s": (op_lat("read_pruned"), "s"),
            "tableformat.read_snapshot_s": (op_lat("read_snapshot"), "s"),
            "tableformat.read_full_s": (op_lat("read_full"), "s"),
            "tableformat.files_per_snapshot": (_median(p.get("files_per_snapshot") for p in traced), "count"),
            "tableformat.prune_ratio": (_median(p.get("prune_ratio") for p in traced), "ratio"),
            "streaming.ingest_s": (op_lat("stream_ingest"), "s"),
            "streaming.batches": (len(batches) / len(traced), "count"),
            "streaming.trigger_ms": (_median(d.get("triggerExecution") for d in batches), "ms"),
            "streaming.addbatch_ms": (_median(d.get("addBatch") for d in batches), "ms"),
            "streaming.planning_ms": (_median(d.get("queryPlanning") for d in batches), "ms"),
            "streaming.walcommit_ms": (_median(d.get("walCommit") for d in batches), "ms"),
            # against untraced passes after the first traced one: the first
            # timed pass is still warming up
            "trace.overhead_s": (
                _median(p["pass_s"] for p in traced)
                - _median(p["pass_s"] for p in timed_untraced if p["n"] > traced[0]["n"]),
                "s",
            ),
        }
        return {k: {"value": float(v), "unit": u} for k, (v, u) in values.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "pypiper_spark")):
        print(f"no pypiper_spark package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, os.path.dirname(os.path.abspath(__file__))]
    run = Run(args)
    try:
        out = run.execute()
    finally:
        shutil.rmtree(run.run_dir, ignore_errors=True)
    print(json.dumps(out["record"], default=str))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
