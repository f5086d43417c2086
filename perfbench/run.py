#!/usr/bin/env python3
"""Run one benchmark workload and print one JSON result line.

    python3 perfbench/run.py --workload fixtures-sf0.1 --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload rag-session --seed 1 --seconds 10 --trace 1

Run from the root of a checkout of the engine.  The last line of stdout
is {"correct", "attempted", "failed", "metrics"}: with --trace 0 the
end-to-end metrics, with --trace 1 the per-layer ones (per traced pass
unless the name says otherwise; see perfbench/README.md).  A traced run
also writes a per-op breakdown to .perfbench/traces/.  Everything the
run writes stays under .perfbench/ in the checkout; its temp and Spark
local dirs are removed at the end, after they are measured.

--record stores the warm-up pass's bench._force tuples of this seed as
the reference later runs of the seed are checked against.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
EXPECTED = os.path.join(HERE, "expected.json")
WORKLOADS = ("fixtures-sf0.1", "rag-session")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record", action="store_true")
    return p.parse_args(argv)


def check_checkout() -> None:
    need = ("vector_ai_npm_spark", "bench.py", os.path.join("tools", "gen_sf1.py"))
    missing = [n for n in need if not os.path.exists(os.path.join(ROOT, n))]
    if missing:
        sys.exit(f"perfbench: {ROOT} is not a checkout of the engine "
                 f"(missing {', '.join(missing)})")


def isolate(run_dir: str, traced: bool) -> dict[str, str]:
    """Point Python's, the JVM's and Spark's temp and local dirs into
    `run_dir` before the JVM starts, and set the launch options every
    run shares: no console progress bars, local[nproc], and in a traced
    run the uncompressed JSON event log."""
    import tempfile

    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "events", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']}",
    }
    if traced:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + dirs["events"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"
    return dirs


def start_session(app: str):
    """The session set-up: launch the JVM and build the engine's
    session, load the registry and run a first job."""
    from vector_ai_npm_spark import registry
    from vector_ai_npm_spark.session import apply_runtime_confs, get_spark

    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    apply_runtime_confs(spark)
    registry.all_queries()
    spark.range(8).count()
    return spark


def tree_usage(*dirs: str) -> tuple[int, int]:
    """(bytes, entries) under the given directories."""
    size = entries = 0
    for d in dirs:
        for root, subdirs, files in os.walk(d):
            entries += len(subdirs) + len(files)
            for f in files:
                try:
                    size += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    return size, entries


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Have this process adopt its orphaned descendants (Spark's Python
    workers once the JVM has gone), so it can wait for them too."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, f"prctl(PR_SET_CHILD_SUBREAPER): {os.strerror(err)}")


def descendants(pid: int) -> list[int]:
    """Every live process below `pid` in the process tree."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), ()):
            out.append(k)
            todo.append(k)
    return out


def end_children(grace_s: float = 30.0) -> None:
    """Stop the JVM, then wait until every process this one started, or
    adopted as a subreaper, has ended; what is still running after
    `grace_s` is killed."""
    import subprocess

    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception:  # noqa: BLE001 - the JVM is stopped below either way
            pass
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        # close py4j's connections first, so nothing talks to the
        # JVM while it goes
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - the JVM is stopped below either way
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None and not proc.stdin.closed:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=grace_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # no child left, live or unreaped
        if pid:
            continue
        if time.monotonic() > deadline:
            for p in descendants(os.getpid()):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def _exit_on_signal(signum, _frame):
    sys.exit(128 + signum)


def main(argv=None) -> int:
    args = parse_args(argv)
    check_checkout()
    become_subreaper()
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, _exit_on_signal)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    try:
        result = bench(args, run_dir)
    finally:
        end_children()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def bench(args, run_dir: str) -> dict:
    """Run the workload and return its result object."""
    sys.path.insert(1, ROOT)
    dirs = isolate(run_dir, bool(args.trace))

    import metrics
    import workloads
    from spans import Tracer

    t0 = time.perf_counter()
    spark = start_session(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()

    tracer = Tracer(False)
    if args.trace:
        metrics.register_spans(tracer, args.workload)
    expected = None
    if os.path.exists(EXPECTED) and not args.record:
        with open(EXPECTED) as fh:
            expected = json.load(fh).get(args.workload, {}).get(str(args.seed))
    run = workloads.Run(
        spark, tracer, args.workload, args.seed, args.seconds, run_dir,
        os.path.join(WORK, "data"), bool(args.trace),
        metrics.phase_hook(tracer),
    )
    run.profiler = metrics.UdfProfiler(spark) if args.trace else None
    if args.workload == "fixtures-sf0.1":
        workloads.run_fixtures(run, expected)
    else:
        workloads.run_rag(run)

    spark.stop()
    peak_rss = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
    left_bytes, left_entries = tree_usage(dirs["tmp"], dirs["local"])
    events = None
    if args.trace:
        import eventlog
        events = eventlog.read_dir(dirs["events"])
    shutil.rmtree(run_dir, ignore_errors=True)

    if args.record:
        record(args, run)
    for e in run.errors:
        print(f"perfbench: {e}", file=sys.stderr)
    failed_ops = sum(1 for o in run.ops if not o["ok"])
    stray = [e for e in run.errors if "(warm-up)" in e or e.startswith("warm-up")]
    result = {
        "correct": failed_ops == 0 and not run.errors,
        "attempted": len(run.ops) + len(stray),
        "failed": failed_ops + len(stray),
    }
    if args.trace:
        vals, trace_doc = metrics.per_layer(run, tracer, events, session_s, peak_rss,
                                            left_bytes, left_entries)
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        with open(os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json"), "w") as fh:
            json.dump(trace_doc, fh, indent=1)
    else:
        vals = metrics.end_to_end(run, session_s)
    result["metrics"] = {k: {"value": v, "unit": metrics.UNITS[k]} for k, v in vals.items()}
    return result


def record(args, run) -> None:
    """Store this seed's warm-up tuples as the reference for its runs."""
    book = {}
    if os.path.exists(EXPECTED):
        with open(EXPECTED) as fh:
            book = json.load(fh)
    tuples = run.info.get("tuples")
    if not tuples or any(v is None for v in tuples.values()):
        sys.exit("perfbench: nothing complete to record")
    book.setdefault(args.workload, {})[str(args.seed)] = tuples
    with open(EXPECTED, "w") as fh:
        json.dump(book, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    sys.exit(main())
