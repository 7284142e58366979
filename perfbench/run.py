"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run it from the repository root. The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
metrics are the end-to-end metrics of ``BENCHMARK.json``, with ``--trace 1``
its per-layer metrics. The traced run is a separate invocation: it turns on
Spark's event log (set before the JVM starts, so the program's session
code stays as it is) and wraps serve-tier calls from outside. Everything it
writes goes to a work directory inside the checkout, removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import json
import os
import shlex
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "osu_elastic_indexer_spark"
PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process (Spark's Python
    daemon and its workers outlive the JVM that started them by a moment),
    so ``reap_descendants`` can wait for every process the run started."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def child_pids() -> list[int]:
    """Processes whose parent is this one, exited ones not yet reaped too."""
    me, out = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the parent pid is the second field after the ")" ending the name
        if int(stat.rsplit(b")", 1)[1].split()[1]) == me:
            out.append(int(name))
    return out


def reap_descendants(grace_s: float = 10.0) -> None:
    """Wait until every process this run started has ended and been reaped.
    Those still running after ``grace_s`` get SIGTERM, then SIGKILL."""
    deadline = time.monotonic() + grace_s
    sig = None
    while True:
        with contextlib.suppress(ChildProcessError):
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        live = child_pids()
        if not live:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL if sig == signal.SIGTERM else signal.SIGTERM
            print(f"perfbench: sending {sig.name} to leftover processes {live}", file=sys.stderr)
            for pid in live:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
            deadline = time.monotonic() + 5.0
        time.sleep(0.05)


def spark_submit_args(work: str, trace: bool) -> str:
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    return f"{args} pyspark-shell"


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=None)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(spec_path):
        print(f"perfbench: {PACKAGE}/ or BENCHMARK.json missing under {ROOT}", file=sys.stderr)
        return 2
    with open(spec_path, encoding="utf-8") as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "design.json"), encoding="utf-8") as f:
        design = json.load(f)
    seed = design["default_seed"] if args.seed is None else args.seed
    seconds = spec["run_seconds"] if args.seconds is None else args.seconds

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    become_subreaper()
    # a SIGTERM unwinds like an error, so Spark is stopped and every child
    # process reaped before this one exits
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM spark-submit starts (its launcher too): temp files in the
    # work dir, and no hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = spark_submit_args(work, bool(args.trace))
    # Arrow's jemalloc pool hands freed pages back at once, so this
    # process's peak RSS does not depend on when the pool's decay timer fires
    import pyarrow

    if pyarrow.default_memory_pool().backend_name == "jemalloc":
        pyarrow.jemalloc_set_decay_ms(0)

    bench = workloads.Bench(work, seed, seconds, bool(args.trace))
    try:
        workloads.WORKLOADS[args.workload](bench)
        bench.stop()
        if args.trace:
            bench.spark_layers()
        bench.finish()
    except BaseException:  # SystemExit from SIGTERM too: stop Spark first
        traceback.print_exc()
        try:
            bench.stop()
        except Exception:
            traceback.print_exc()
        return 1
    finally:
        reap_descendants()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # another run may still use it
            os.rmdir(os.path.dirname(work))

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = bench.layers if args.trace else bench.e2e
    metrics = {}
    for m in wanted:
        if m["name"] in source:
            value = source[m["name"]]
        elif args.trace and m["name"] in bench.not_exercised:
            value = 0.0
        else:
            print(f"perfbench: metric {m['name']} not measured", file=sys.stderr)
            return 1
        metrics[m["name"]] = {"value": float(value), "unit": m["unit"]}
    print(
        f"perfbench: set-up wall {bench.setup_wall_s:.3f} s, parts "
        + json.dumps({k: round(v, 3) for k, v in bench.setup_parts.items()})
        + ", calibrations "
        + json.dumps([round(c, 4) for c in bench.calibrations]),
        file=sys.stderr,
    )
    print(
        "perfbench: timeline "
        + json.dumps({k: [round(t, 2), round(rss)] for k, t, rss in bench.timeline}),
        file=sys.stderr,
    )
    for err in bench.errors:
        print(f"perfbench: FAILED {err}", file=sys.stderr)
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
