"""Benchmark entry point for breg_dcat_harvester_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Starts one Spark session on ``local[<cores>]`` (cores = this process's CPU
affinity), generates the workload's inputs from ``--seed`` under
``.bench_work/`` in the checkout, runs the workload's operations in a closed
loop with one client for at least ``--seconds`` seconds (whole operations),
checks every output, and prints one JSON object as the last stdout line:

    {"correct": bool, "attempted": n, "failed": n, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics (and writes the spans to ``.bench_work/traces/``).  See README.md
for the workloads, the metrics and the layer -> metric -> workload map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E_UNITS = {
    "setup_s": "s",
    "op_mean_ms": "ms",
    "write_mean_ms": "ms",
    "peak_rss_mb": "MB",
}


class Run:
    """One benchmark run: the session, the work dir, the probes, and the
    operations attempted with their latencies and verdicts."""

    def __init__(self, args):
        from probes import SparkCounters, StorageProbe, Tracer

        self.args = args
        self.seed = args.seed
        self.seconds = args.seconds
        self.work = os.path.join(
            ROOT, ".bench_work", f"{args.workload}-s{args.seed}-p{os.getpid()}"
        )
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        self.tracer = Tracer(enabled=bool(args.trace))
        self.ops: list[dict] = []
        # set-up is the session start, the median of the repeated input
        # preparation, and work too costly to repeat (the increment's base)
        self.prepare_s: list[float] = []
        self.setup_once_s = 0.0
        self.layer: dict[str, float] = {}
        # operations run while ``warmup`` is set are checked but not timed
        self.warmup = False

        t0 = time.perf_counter()
        self.spark = start_session(self.work)
        self.session_start_s = time.perf_counter() - t0
        self.counters = SparkCounters(self.spark)
        self.storage = StorageProbe(self.tracer)
        if self.tracer.enabled:
            self.storage.install()

    # -- operations -----------------------------------------------------

    def op(self, kind: str, fn, write: bool = False):
        """Run one timed operation; returns (op record, result or None)."""
        rid = f"op{len(self.ops)}"
        self.tracer.request = rid
        self.counters.begin(rid)
        rec = {"request": rid, "kind": kind, "write": write, "ok": True, "warmup": self.warmup}
        with self.tracer.span("op", kind=kind) as span:
            t0 = time.perf_counter()
            try:
                result = fn()
            except Exception:
                traceback.print_exc(file=sys.stderr)
                result, rec["ok"] = None, False
            rec["ms"] = (time.perf_counter() - t0) * 1000
        rec["span"] = span
        self.tracer.request = "check"
        self.counters.begin("check")
        rec["jobs"] = self.counters.jobs(rid)
        rec["cached_mb"] = self.counters.cached_mb()
        self.ops.append(rec)
        return rec, result

    def check(self, rec: dict, ok: bool, what: str) -> None:
        """Mark an operation wrong when a correctness check fails."""
        if not ok:
            print(f"check failed: {rec['request']} {rec['kind']}: {what}", file=sys.stderr)
            rec["ok"] = False

    def until_done(self, started: float) -> bool:
        return not self.ops or time.perf_counter() - started < self.seconds

    # -- results --------------------------------------------------------

    def timed(self) -> list[dict]:
        return [r for r in self.ops if not r["warmup"]]

    def result(self) -> dict:
        from probes import tree_peak_rss_mb

        failed = sum(not r["ok"] for r in self.ops)
        peak_mb = tree_peak_rss_mb(os.getpid())
        if not self.tracer.enabled:
            # means, not medians: a browse cycle mixes request kinds from
            # 0.4 s to 4 s, and the median of such a mix jumps between kinds
            writes = [r["ms"] for r in self.timed() if r["write"]]
            values = {
                "setup_s": self.session_start_s
                + statistics.median(self.prepare_s)
                + self.setup_once_s,
                "op_mean_ms": statistics.mean(r["ms"] for r in self.timed()),
                "write_mean_ms": statistics.mean(writes),
                "peak_rss_mb": peak_mb,
            }
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}
        else:
            from workloads import LAYER_UNITS

            self.layer["session.start_s"] = self.session_start_s
            self.layer["spark.jobs_per_op"] = statistics.mean(r["jobs"] for r in self.timed())
            self.layer["spark.cached_mb"] = self.ops[-1]["cached_mb"]
            self.layer["trace.op_mean_ms"] = statistics.mean(r["ms"] for r in self.timed())
            self.layer["trace.bookkeeping_ms"] = self.tracer.self_s * 1000 / len(self.ops)
            metrics = {
                k: {"value": self.layer.get(k, 0.0), "unit": u}
                for k, u in LAYER_UNITS.items()
                if k in self.layer or not k.startswith("inc.")
            }
            self.tracer.dump(
                os.path.join(
                    ROOT, ".bench_work", "traces",
                    f"{self.args.workload}-seed{self.seed}.json",
                )
            )
        return {
            "correct": failed == 0,
            "attempted": len(self.ops),
            "failed": failed,
            "metrics": metrics,
        }

    def close(self) -> None:
        try:
            if self.tracer.enabled:
                self.storage.uninstall()
            stop_session(self.spark)
        finally:
            shutil.rmtree(self.work, ignore_errors=True)


def start_session(work: str):
    """Start Spark with every scratch path inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # the program's default JVM heap is 8g; the corpora here need a
    # fraction of that
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM the launcher starts keeps its temp files (and no hsperfdata)
    # inside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    from breg_dcat_harvester_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={"spark.sql.warehouse.dir": os.path.join(work, "warehouse")},
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait until no child process is left."""
    from pyspark import SparkContext

    from probes import descendants

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.time() + 30
    while (left := descendants(os.getpid())) and time.time() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in left:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--turns", type=int, default=None,
        help="override the workload's corpus size (smoke runs)",
    )
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    try:
        import breg_dcat_harvester_spark  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: the program is not in this checkout: {ex}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(args)
    try:
        workloads.WORKLOADS[args.workload](run)
        out = run.result()
    finally:
        run.close()
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
