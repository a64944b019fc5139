"""Benchmark of the paper's loop and the curate funnel.

Run from the root of a checkout:

    python3 perfbench/run.py --workload incremental --seed 1 --seconds 15 --trace 0

Workloads (see ``workloads.py``):

- ``incremental``: on a preloaded warehouse, time small update batches
  (``upload_batch`` until committed), each followed by an incremental
  OAI harvest (``from=`` the previous harvest) and a CQL
  ``get_clusters`` read of what the batch changed. The warehouse is a
  copy of one MARC upload of a fixed base corpus. The first run in a
  checkout builds that upload in a child process (``--build-base``)
  before its own measurements start, so every timed run starts cold;
- ``curate``: the ``curate(materialize=True)`` funnel over a seeded
  corpus with planted exact and near duplicates and a benchmark slice.

Every run uses ``local[<cores>]`` (``nproc``, or fewer where
``workloads.CORES`` says so) with one closed-loop client. Human-
readable lines go to stdout first; the last line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` the run enables the Spark event log, wraps the program's
public functions in spans, and reports the per-layer metrics. The full
result (environment stamp, every named metric, layer breakdown) is
written under ``perfbench/.work/results/``; ``compare.py`` compares two
such files.

The run reads and writes only inside the checkout (``perfbench/.work``)
and stops the JVM and its Python workers before it exits. Without the
program (``mod_reservoir_spark``) next to ``perfbench/`` it exits with
code 2 and prints no result.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import threading
import time

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")


def cores() -> int:
    return len(os.sched_getaffinity(0))


# -- process tree: RSS sampling and shutdown -------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler(threading.Thread):
    """Peak summed RSS of this process, the JVM and the Python workers,
    with the split at the peak: python (this process), jvm, workers."""

    def __init__(self, period: float = 0.2):
        super().__init__(daemon=True)
        self.period = period
        self.peak_kb = 0
        self.split_kb: dict[str, int] = {}
        self._halt = threading.Event()

    def run(self):
        me = os.getpid()
        while not self._halt.wait(self.period):
            kids = descendants(me)
            split = {"python": _rss_kb(me), "jvm": 0, "workers": 0}
            for p in kids:
                kind = "jvm" if _is_java(p) else "workers"
                split[kind] += _rss_kb(p)
            total = sum(split.values())
            if total > self.peak_kb:
                self.peak_kb, self.split_kb = total, split

    def stop(self):
        self._halt.set()
        self.join(timeout=5)


def _is_java(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip() == "java"
    except OSError:
        return False


def start_spark(workdir: str, trace: bool, cpus: int):
    """The program's session factory on local[<cpus>], with every
    temporary path inside the work dir."""
    from mod_reservoir_spark.session import get_spark

    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    # Python workers import the program and the benchmark's modules
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    # the program's default JVM heap is 8g, which the JVM grows into
    # here without running faster; 3g keeps a run from crowding the host
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    conf = {
        "spark.local.dir": os.path.join(workdir, "local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if trace:
        events = os.path.join(workdir, "events")
        os.makedirs(events, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": events,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark("perfbench", cpus=cpus, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its worker processes, and wait
    until every process this run started has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    procs = descendants(os.getpid())
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.time() + 20
    alive = procs
    while alive and time.time() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def stamp(args, spark) -> dict:
    import workloads

    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": cores(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "python": platform.python_version(),
        "program": workloads.program_digest(),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--build-base", action="store_true",
                    help="only build the cached base warehouse, untimed")
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import mod_reservoir_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable: {e}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    workdir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    try:
        if args.build_base:
            return build_base(workdir)
        if args.workload in workloads.NEEDS_BASE and not ensure_base(argv):
            return 1
        return measure(args, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def ensure_base(argv) -> bool:
    """Build the base warehouse in a child process if this checkout has
    none yet, and wait for it. The time it takes is in no result."""
    global T_PROCESS
    import workloads

    if os.path.isdir(workloads.base_path()):
        return True
    t = time.perf_counter()
    argv = sys.argv[1:] if argv is None else argv
    child = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), *argv, "--build-base"],
        stdout=sys.stderr,
    )
    try:
        child.wait(timeout=600)
    except subprocess.TimeoutExpired:
        pass
    finally:
        # on a timeout or a SIGTERM the child still stops its own JVM
        if child.poll() is None:
            child.terminate()
            child.wait(timeout=60)
    if child.returncode != 0 or not os.path.isdir(workloads.base_path()):
        print("perfbench: building the base warehouse failed", file=sys.stderr)
        return False
    T_PROCESS += time.perf_counter() - t
    return True


def build_base(workdir: str) -> int:
    import workloads

    spark = start_spark(workdir, trace=False, cpus=cores())
    try:
        return 0 if workloads.build_base(spark, workdir) else 1
    finally:
        stop_spark(spark)


def measure(args, workdir: str) -> int:
    """Run the workload, then print and save its result."""
    import workloads
    from spans import Tracer

    rss = RssSampler()
    rss.start()
    tracer = Tracer(active=bool(args.trace))
    run = workloads.Run(args=args, workdir=workdir, tracer=tracer)
    spark = None
    try:
        t = time.perf_counter()
        cpus = min(cores(), workloads.CORES.get(args.workload, cores()))
        spark = start_spark(workdir, bool(args.trace), cpus)
        run.spark = spark
        run.setup_parts["spark_start_s"] = time.perf_counter() - t
        run.setup_parts["process_s"] = t - T_PROCESS
        workloads.WORKLOADS[args.workload](run)
        env = stamp(args, spark)
    finally:
        t = time.perf_counter()
        if spark is not None:
            stop_spark(spark)
        rss.stop()
        run.setup_parts["stop_s"] = time.perf_counter() - t
        run.setup_parts["total_s"] = time.perf_counter() - T_PROCESS
    run.named["peak_rss_mb"] = (rss.peak_kb / 1024, "MB")
    run.named["error_rate"] = (run.failed / max(1, run.attempted), "ratio")
    env["input_bytes"] = run.input_bytes
    env["input_items"] = run.input_items
    env["warehouse_bytes"] = run.warehouse_bytes
    env["phases_s"] = run.setup_parts
    env["peak_rss_split_mb"] = {k: v / 1024 for k, v in rss.split_kb.items()}

    if args.trace:
        from spans import attribute_jobs, read_event_log

        events = os.path.join(workdir, "events")
        logs = [os.path.join(events, f) for f in os.listdir(events)]
        jobs = read_event_log(logs[0]) if logs else []
        attribute_jobs(tracer, jobs)
        metrics = workloads.per_layer(run, jobs)
    else:
        metrics = workloads.end_to_end(run)

    result = {
        "correct": run.correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    full = {
        "env": env,
        "named": run.named,
        "checks": run.checks,
        "errors": run.errors,
        "samples_s": run.samples,
        "result": result,
    }
    out_dir = os.path.join(WORK, "results")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(
        out_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json"
    )
    if args.trace:
        full["layers"] = run.layers
        full["spans"] = [
            [x.name, x.start, x.end, x.parent, len(x.jobs)] for x in tracer.spans
        ]
        # tracing overhead: this traced run minus the untraced run of
        # the same workload, seed and program, when one was made here
        untraced = workloads.earlier_result(
            f"{args.workload}-s{args.seed}-t0.json"
        )
        if untraced and untraced["result"]["correct"]:
            base = untraced["result"]["metrics"]["op_s_p50"]["value"]
            run.named["trace_overhead_s"] = (
                metrics["traced.op_s_p50"][0] - base, "s",
            )
    with open(out, "w") as f:
        json.dump(full, f, indent=1, sort_keys=True, default=str)

    print(f"env {json.dumps(env, sort_keys=True)}")
    for name in sorted(run.named):
        value, unit = run.named[name]
        print(f"{name} {value:.6g} {unit}")
    for name, ok in sorted(run.checks.items()):
        print(f"check {name} {'ok' if ok else 'FAILED'}")
    for err in run.errors:
        print(f"error {err}")
    print(f"full result: {os.path.relpath(out, ROOT)}")
    print(json.dumps(result))
    return 0 if run.correct else 1


if __name__ == "__main__":
    sys.exit(main())
