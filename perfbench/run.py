"""Run one workload of the repo benchmark and print its metrics.

    python3 perfbench/run.py --workload analytics|curation|incremental \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. One process, one Spark session on
`local[<cores>]`, one client in a closed loop. Inputs are generated from
the seed under `.perfbench_work/` in the checkout, which is removed on
exit; nothing outside the checkout is read or written.

A run:
1. sets up once: imports, JVM launch and session start, input
   generation and, for `incremental`, Derby seeding;
2. runs every operation once, untimed, and checks every output (the
   warm-up pass; `incremental`: round 0, the initial load, and the
   final export and import, checked after the window). `setup_s`
   is the time from the start of this script to the end of this step,
   that is, to the first timed operation;
3. runs whole passes over the operations (`incremental`: rounds) in a
   closed loop for `--seconds` seconds and at least the workload's
   `MIN_PASSES`, writing each query output to the `noop` sink;
4. prints a human report on stderr and, as the last line of stdout,
   one JSON object with `correct`, `attempted`, `failed` and `metrics`.

With `--trace 0` the metrics are the end-to-end ones. With `--trace 1`
the same loop runs with spans and status-store counters on, the
metrics are the per-layer ones, and the spans are written to
`perfbench/traces/`.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

TAIL_SAMPLES = 10    # samples beyond the reported tail percentile


def tail_pct(n_min: int) -> float:
    """Highest percentile with at least TAIL_SAMPLES of `n_min`
    samples beyond it. Fixed per workload from the guaranteed minimum
    sample count, so runs with more samples report the same
    percentile."""
    return 100.0 * (n_min - TAIL_SAMPLES) / n_min


def percentile(values: list[float], pct: float) -> float:
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def reset_hwm(pid: int) -> None:
    """Reset the process's `VmHWM` to its current resident size."""
    with open(f"/proc/{pid}/clear_refs", "w") as fh:
        fh.write("5")


def start_session(work: str):
    from hive_exporter_spark.metrics import SHUFFLE_METRIC_CONF
    from hive_exporter_spark.session import build_session

    tmp = os.path.join(work, "tmp")
    conf = {
        **SHUFFLE_METRIC_CONF,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} "
            f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}"),
    }
    return build_session("perfbench", master=f"local[{cores()}]", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop the session and the JVM this process launched, and wait
    until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def make_workload(name: str, seed: int):
    import workloads as wl

    if name == "analytics":
        return wl.QueryWorkload(name, wl.ANALYTICS, seed)
    if name == "curation":
        return wl.QueryWorkload(name, wl.CURATION, seed)
    return wl.IncrementalWorkload(seed)


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


class Runner:
    def __init__(self, args, work: str):
        from spans import Tracer

        self.args, self.work = args, work
        self.tracer = Tracer(bool(args.trace))
        self.spark = None
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.lat: dict[str, list[float]] = {}
        self.counters: list[dict] = []
        self.exec_id = -1

    def setup(self) -> None:
        ts = time.perf_counter()
        self.spark = start_session(self.work)
        self.session_s = time.perf_counter() - ts
        self.jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        self.wl = make_workload(self.args.workload, self.args.seed)
        self.wl.setup(self.spark, self.work)

    def op(self, op: str) -> float | None:
        """One timed operation; None if it raised."""
        tr, spark = self.tracer, self.spark
        if tr.enabled:
            tr.op_mark = tr.mark(spark)
            tr.op_id = self.attempted
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with tr.span(f"op.{op}"):
                after = self.wl.run_op(spark, op, tr)
            dt = time.perf_counter() - t0
            if tr.enabled:
                c = tr.counters(spark, tr.op_mark)
                c.update(op=op, wall_s=dt)
                if op in ("jdbc_bounds", "ingest_merge", "ingest_append"):
                    from spans import jdbc_rows_read
                    c["jdbc_rows"], self.exec_id = jdbc_rows_read(spark, self.exec_id)
                self.counters.append(c)
            if after is not None:
                after()
        except Exception:  # noqa: BLE001 - counted, the run goes on
            self.failed += 1
            self.errors.append(f"{op}: {traceback.format_exc(limit=3)[-600:]}")
            return None
        self.lat.setdefault(op, []).append(dt)
        return dt

    def warmup(self) -> None:
        """The untimed pass before the window, with tracing off.
        `analytics`, `curation`: the check pass. `incremental`: round 0,
        the initial load of the whole source, and the final operations,
        which run only once in the window and would otherwise be timed
        cold."""
        saved, self.tracer.enabled = self.tracer.enabled, False
        if self.args.workload == "incremental":
            self.wl.first_round(self.spark)
            for op in self.wl.ops() + self.wl.FINAL_OPS:
                self.op(op)
        else:
            bad = self.wl.check(self.spark)
            log("warm-up pass with checks: Spark {spark:.1f} s, DuckDB oracles "
                "{duckdb:.1f} s".format(**self.wl.check_s))
            self.attempted += len(self.wl.ops())
            self.failed += len(bad)
            self.errors += bad
        self.tracer.enabled = saved
        self.lat.clear()
        getattr(self.wl, "layer_stats", {}).clear()
        if self.tracer.enabled and self.args.workload == "incremental":
            from spans import jdbc_rows_read
            _, self.exec_id = jdbc_rows_read(self.spark, -1)

    def collect_garbage(self) -> None:
        """Start the timed window with both heaps collected, so no
        collection owed by the set-up or the checks lands in it."""
        gc.collect()
        self.spark.sparkContext._jvm.java.lang.System.gc()

    def timed(self) -> dict:
        """Whole passes over the operation list (`incremental`: rounds,
        each after its delta), then the workload's final operations.
        The JVM's high-water mark is reset at the start, so the peak it
        reads at the end is that of the timed operations."""
        wl, seconds = self.wl, self.args.seconds
        passes: list[float] = []
        self.collect_garbage()
        reset_hwm(self.jvm_pid)
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds or len(passes) < wl.MIN_PASSES:
            wl.before_pass(self.spark)
            passes.append(sum(self.op(op) or 0.0 for op in wl.ops()))
        for op in wl.FINAL_OPS:
            self.op(op)
        window = time.perf_counter() - t0
        rss = vm_hwm_mb(self.jvm_pid)
        k = max(1, len(passes) // 3)
        return {"passes": passes, "window_s": window, "peak_rss_mb": rss,
                "round_growth": statistics.mean(passes[-k:]) / statistics.mean(passes[:k]),
                "n_min": wl.MIN_PASSES * len(wl.ops()) + len(wl.FINAL_OPS)}


def end_to_end(r: Runner, setup_s: float, timed: dict) -> dict:
    samples = [x for v in r.lat.values() for x in v]
    pct = tail_pct(timed["n_min"])
    m = {
        "setup_s": (setup_s, "s"),
        "pass_s": (statistics.median(timed["passes"]), "s"),
        # Each operation of the loop counts once, with its own median.
        # The final operations run once, and their single samples, all
        # near the middle, moved this median by up to 30% from run to
        # run; they count in op_tail_s.
        "op_p50_s": (statistics.median(
            statistics.median(r.lat[op]) for op in r.wl.ops() if op in r.lat), "s"),
        "op_tail_s": (percentile(samples, pct), "s"),
        "round_growth": (timed["round_growth"], "ratio"),
        "peak_rss_mb": (timed["peak_rss_mb"], "MB"),
    }
    log(f"setup_s {setup_s:.3f} s, of which session start {r.session_s:.3f} s")
    log(f"pass_s {m['pass_s'][0]:.3f} s over {r.wl.size()}; "
        f"passes {[round(p, 3) for p in timed['passes']]} in a {timed['window_s']:.1f} s window")
    log(f"op_p50_s {m['op_p50_s'][0]:.4f} s; op_tail_s {m['op_tail_s'][0]:.4f} s "
        f"at p{pct:.1f} of {len(samples)} samples")
    log(f"round_growth {timed['round_growth']:.4f}; peak_rss_mb {timed['peak_rss_mb']:.1f} MB")
    log("median seconds per operation: " + ", ".join(
        f"{op} {statistics.median(v):.3f}" for op, v in r.lat.items()))
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def per_layer(r: Runner, timed: dict) -> dict:
    tr, passes = r.tracer, len(timed["passes"])
    self_s = tr.self_times()
    tot = {k: sum(c.get(k, 0) for c in r.counters) for k in ("run_ms", "gc_ms", "jdbc_rows")}
    round_ops = set(r.wl.ops())
    in_rounds = [c for c in r.counters if c["op"] in round_ops]
    busy = (sum(c["run_ms"] for c in in_rounds) / 1000.0
            / max(1e-9, sum(c["job_wall_s"] for c in in_rounds) * cores()))
    op_wall = sum(c["wall_s"] for c in r.counters)
    st = getattr(r.wl, "layer_stats", {})

    def share(name: str) -> float:
        return self_s.get(name, 0.0) / op_wall

    ingest_out = sum(c["output_bytes"] for c in r.counters
                     if c["op"] in ("ingest_merge", "ingest_append"))
    rows_in = st.get("ingest.rows_ingested", 0)
    m = {
        "session.start_s": (r.session_s, "s"),
        "operators.build_s": (self_s.get("operators.build", 0.0) / passes, "s"),
        "operators.build_jobs": (tr.notes.get("operators.build_jobs", 0) / passes, "count"),
        "spark.plan_s": (self_s.get("spark.plan", 0.0) / passes, "s"),
        "spark.exec_s": (sum(c["job_wall_s"] for c in in_rounds) / passes, "s"),
        "spark.jobs": (sum(c["jobs"] for c in in_rounds) / passes, "count"),
        "spark.stages": (sum(c["stages"] for c in in_rounds) / passes, "count"),
        "spark.tasks": (sum(c["tasks"] for c in in_rounds) / passes, "count"),
        "spark.slot_busy_share": (busy, "ratio"),
        "spark.cpu_ms": (sum(c["cpu_ms"] for c in in_rounds) / passes, "ms"),
        "spark.gc_share": (tot["gc_ms"] / max(1, tot["run_ms"]), "ratio"),
        "spark.input_bytes": (sum(c["input_bytes"] for c in in_rounds) / passes, "bytes"),
        "spark.input_rows": (sum(c["input_rows"] for c in in_rounds) / passes, "count"),
        "spark.shuffle_write_bytes": (
            sum(c["shuffle_write_bytes"] for c in in_rounds) / passes, "bytes"),
        "spark.shuffle_read_bytes": (
            sum(c["shuffle_read_bytes"] for c in in_rounds) / passes, "bytes"),
        "spark.spill_bytes": (sum(c["spill_bytes"] for c in in_rounds) / passes, "bytes"),
        "sources.jdbc.bounds_share": (share("sources.jdbc.bounds"), "ratio"),
        "sources.jdbc.rows_read": (tot["jdbc_rows"] / passes, "count"),
        "ingest.merge_share": (share("ingest.merge"), "ratio"),
        "ingest.append_share": (share("ingest.append"), "ratio"),
        "ingest.rows_ingested": (rows_in / passes, "count"),
        "ingest.write_amp": (
            ingest_out / st["delta_bytes"] if st.get("delta_bytes") else 0.0, "ratio"),
        "sinks.export_share": (share("sinks.export"), "ratio"),
        "sinks.import_share": (share("sinks.import"), "ratio"),
        "sinks.bytes_written": (st.get("sinks.bytes_written", 0), "bytes"),
        "sinks.files_written": (st.get("sinks.files_written", 0), "count"),
        "streaming.step_share": (share("streaming.step"), "ratio"),
        "streaming.state_bytes": (st.get("streaming.state_bytes", 0), "bytes"),
        "streaming.state_read_share": (
            st["streaming.state_eligible_bytes"] / st["streaming.state_total_bytes"]
            if st.get("streaming.state_total_bytes") else 0.0, "ratio"),
        "streaming.admitted_share": (
            st["streaming.admitted"] / st["streaming.docs"]
            if st.get("streaming.docs") else 0.0, "ratio"),
        "trace.pass_s": (statistics.median(timed["passes"]), "s"),
    }
    log("per-layer (per pass; shares are of traced operation time):")
    for k, (v, u) in m.items():
        log(f"  {k:28s} {v:14.4f} {u}")
    log("self seconds per span over the window: "
        + ", ".join(f"{k} {v:.3f}" for k, v in sorted(self_s.items())))
    log(f"traced pass_s {m['trace.pass_s'][0]:.3f} s: compare with the untraced pass_s "
        "of the same workload for the tracing overhead")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def run(args, work: str) -> dict:
    import duckdb
    import pyspark

    r = Runner(args, work)
    try:
        r.setup()
        t1 = time.perf_counter()
        log(f"workload {args.workload} seed {args.seed}: {r.wl.size()}; "
            f"local[{cores()}]; Spark {pyspark.__version__}, Python "
            f"{platform.python_version()}, DuckDB {duckdb.__version__}")
        r.warmup()
        t2 = time.perf_counter()
        setup_s = t2 - T_START
        timed = r.timed()
        t3 = time.perf_counter()
        if args.workload == "incremental":
            bad = r.wl.check(r.spark)
            r.failed += len(bad)
            r.errors += bad
        log(f"phases: set-up {t1 - T_START:.1f} s, warm-up and checks "
            f"{t2 - t1 + time.perf_counter() - t3:.1f} s, timed {t3 - t2:.1f} s")
        metrics = per_layer(r, timed) if args.trace else end_to_end(r, setup_s, timed)
        if args.trace:
            os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
            path = os.path.join(HERE, "traces", f"{args.workload}-seed{args.seed}.json")
            r.tracer.write(path, {"workload": args.workload, "seed": args.seed,
                                  "counters": r.counters, "metrics": metrics})
            log(f"spans and counters -> {os.path.relpath(path, ROOT)}")
    finally:
        if r.spark is not None:
            t_stop = time.perf_counter()
            stop_session(r.spark)
            log(f"session and JVM stopped in {time.perf_counter() - t_stop:.1f} s")
    for e in r.errors:
        log(f"FAILED {e}")
    log(f"failed_share {r.failed / max(1, r.attempted):.4f} ({r.failed}/{r.attempted})")
    return {"correct": r.failed == 0, "attempted": r.attempted, "failed": r.failed,
            "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["analytics", "curation", "incremental"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    needed = ["__spark_entry__.py", "hive_exporter_spark/session.py",
              "tools/check_oracle.py", "tools/bench_stream_admission.py"]
    missing = [p for p in needed if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the repo, missing {missing}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    sys.stderr.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
