#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout: the engine package is imported from
the working directory, and every file the run writes stays under it
(``.perfbench_work/`` is removed at exit; traced runs keep their spans
in ``.perfbench_out/``). The engine runs at ``local[2]``.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics. The line before it
carries host diagnostics. Exit status is 0 only when every output check
passed.
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
from pathlib import Path

T0 = time.perf_counter()
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

CORES = 2
HEAP = "2g"
PKG = "cga_kinesis_to_elasticsearch_spark"


def start_session(work: Path, cores: int, trace: bool):
    """The engine's own session factory, sized for the benchmark and
    pointed at scratch space inside the checkout. Untraced runs keep a
    small, fixed history of jobs and progress reports, so what the
    status store holds does not grow with the number of ops."""
    keep = "100000" if trace else "50"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    from cga_kinesis_to_elasticsearch_spark.session import get_spark

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.local.dir": str(tmp),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # a fixed-size heap: with a growable one, how far the JVM
            # grew it decided the GC rate, and runs of one seed differed
            # by ~20 % in latency and ~35 % in peak RSS
            # a fixed set of JIT compiler threads, so the window can read
            # their CPU apart (see cpu_ms_per_op in the README)
            "spark.driver.extraJavaOptions": f"-Xms{HEAP} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            " -XX:-UseDynamicNumberOfCompilerThreads",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": keep,
            "spark.ui.retainedStages": keep,
            "spark.sql.ui.retainedExecutions": "100" if trace else "20",
            "spark.sql.streaming.numRecentProgressUpdates": keep,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers are gone."""
    import probes

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    pids = probes.process_tree(os.getpid())[1:]
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=20)
    except Exception:
        proc.kill()
        proc.wait(timeout=10)
    deadline = time.monotonic() + 10
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def round_median(per_op: dict[int, float], round_len: int) -> float:
    """Median over whole rounds of the round's mean per op: one round
    holds the request mix once, so a round's mean weighs every kind
    equally, and the median keeps one slow round from moving it."""
    rounds: dict[int, list[float]] = {}
    for i, v in per_op.items():
        rounds.setdefault(i // round_len, []).append(v)
    return statistics.median(statistics.fmean(r) for r in rounds.values())


def decile(xs: list[float], q: int) -> float:
    """q-th decile (statistics.quantiles, n=10); the only value for one sample."""
    return statistics.quantiles(xs, n=10)[q - 1] if len(xs) > 1 else xs[0]


class Run:
    """One invocation: session, set-up, timed window, checks, metrics."""

    def __init__(self, args, spec: dict) -> None:
        self.args, self.spec = args, spec
        self.root = Path.cwd()
        self.work = self.root / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
        self.spark = None

    def restart(self, cores: int):
        """Replace the session with one at ``local[cores]`` (same JVM)."""
        self.spark.stop()
        self.spark = start_session(self.work, cores, bool(self.args.trace))
        return self.spark

    def execute(self) -> tuple[dict, dict]:
        shutil.rmtree(self.work, ignore_errors=True)
        self.work.mkdir(parents=True)
        os.environ["TMPDIR"] = str(self.work / "tmp")
        os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(self.root), os.environ.get("PYTHONPATH")]))
        sys.path.insert(0, str(self.root))
        try:
            return self._measure()
        finally:
            try:
                if self.spark is not None:
                    stop_session(self.spark)
            finally:
                shutil.rmtree(self.work, ignore_errors=True)
                try:
                    self.work.parent.rmdir()
                except OSError:
                    pass

    def _measure(self) -> tuple[dict, dict]:
        import inputs
        import probes
        from workloads import WORKLOADS

        args = self.args
        t = time.perf_counter()
        self.spark = spark = start_session(self.work, CORES, bool(args.trace))
        session_s = time.perf_counter() - t
        counts = probes.SparkCounts(spark) if args.trace else None
        tracer = probes.Tracer(False, counts)
        wl = WORKLOADS[args.workload](spark, self.work, args.seed, tracer)

        t = time.perf_counter()
        inputs.self_check(args.seed)
        wl.setup()
        inputs_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t
        setup_s = time.perf_counter() - T0

        me = os.getpid()
        jvm = spark.sparkContext._gateway.proc.pid
        window = probes.Window(me, jvm, [me, jvm])
        walls: dict[int, float] = {}
        cpus: dict[int, float] = {}  # op -> CPU s outside JIT compilation
        jits: dict[int, float] = {}  # op -> CPU s of JIT compilation
        failed: set[int] = set()
        window.start()
        deadline = time.perf_counter() + args.seconds
        i = 0
        # whole rounds only: a partial round would tilt the request mix
        while time.perf_counter() < deadline or i % wl.round_len:
            # traced runs alternate untraced and traced rounds, which
            # gives the tracing overhead from one process
            tracer.enabled = bool(args.trace) and (i // wl.round_len) % 2 == 1
            tracer.op = i
            wl.prepare(i)
            c0, j0 = window.cpu_s()
            t = time.perf_counter()
            try:
                wl.op(i)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                failed.add(i)
            walls[i] = time.perf_counter() - t
            c1, j1 = window.cpu_s()
            cpus[i], jits[i] = c1 - c0 - (j1 - j0), j1 - j0
            wl.after(i)
            i += 1
        window.stop()
        tracer.enabled = False
        heap_mb = probes.heap_live_mb(spark)

        ok = True
        try:
            failed |= wl.finish()
            if args.trace:
                tracer.enabled = True
                wl.trace_extra()
                tracer.enabled = False
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False

        n = len(walls)
        diag = {
            "ops": n, "failed": len(failed), "window_s": args.seconds,
            "host.steal_share": window.steal_share, "host.loadavg": window.loadavg,
            "engine.cores": CORES, "process_tree.threads": window.threads,
            "peak_rss_mb": window.peak_rss_mb, "heap_live_mb": heap_mb,
            "op_ms": [round(walls[j] * 1000, 1) for j in sorted(walls)],
            "op_cpu_ms": [round(cpus[j] * 1000) for j in sorted(cpus)],
            "op_jit_cpu_ms": [round(jits[j] * 1000) for j in sorted(jits)],
        }
        if args.trace:
            traced = [walls[j] * 1000 for j in walls if (j // wl.round_len) % 2 == 1]
            plain = [walls[j] * 1000 for j in walls if (j // wl.round_len) % 2 == 0]
            values = {
                "latency_p50_ms": statistics.median(plain),
                "session.start_s": session_s,
                "session.inputs_s": inputs_s,
                "session.warmup_s": warmup_s,
                "latency_p90_ms": decile(plain, 9),
                "host.steal_share": window.steal_share,
                "host.loadavg": window.loadavg,
                "peak_rss_mb": window.peak_rss_mb,
                "jit_cpu_ms_per_op": round_median(jits, wl.round_len) * 1000,
                "failed_op_ratio": len(failed) / n,
                "trace.overhead_share": statistics.median(traced) / statistics.median(plain) - 1
                if traced and plain else 0.0,
                "trace.spans": float(len(tracer.spans)),
            }
            values.update(wl.layers(counts.snapshot()))
            out = self.root / ".perfbench_out"
            out.mkdir(exist_ok=True)
            tracer.dump(str(out / f"spans-{args.workload}-seed{args.seed}.json"))
            try:
                values.update(wl.baseline(self.restart))
            except Exception:
                traceback.print_exc(file=sys.stderr)
                ok = False
            specs = self.spec["per_layer"]
        else:
            values = {
                "setup_s": setup_s,
                "cpu_ms_per_op": round_median(cpus, wl.round_len) * 1000,
                "heap_live_mb": heap_mb,
            }
            specs = self.spec["end_to_end"]
        wl.close()
        metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in specs}
        result = {"correct": ok and not failed, "attempted": n, "failed": len(failed), "metrics": metrics}
        return result, diag


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # SIGTERM unwinds like an exception, so the session is stopped and the
    # scratch directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (Path.cwd() / PKG / "__init__.py").is_file():
        print(f"{PKG} not found under {Path.cwd()}: run from the repository root", file=sys.stderr)
        return 2
    with open(HERE.parent / "BENCHMARK.json") as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    result, diag = Run(args, spec).execute()
    print(json.dumps({"diagnostics": diag}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
