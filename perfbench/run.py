"""sits_spark benchmark: rollup ingest and headline queries.

    python3 perfbench/run.py --workload rollup_mixed --seed 1 --seconds 12 --trace 0

Run from the repository root. Workloads:

- ``rollup_mixed``: ~2k short conversations, three hot ones, three long
  ones and one giant over the split threshold (chunk-split path); the
  timed operation is a warm ``RollupPipeline.run`` pass.
- ``queries``: the 16 headline registry queries over seeded star-schema
  tables; the timed operation is one pass of all 16 against a noop sink.

Inputs are generated from ``--seed`` (cached per seed in
``.perfbench_cache/``) and the program sees only those files. One process
runs Spark on ``local[<cpus>]`` with a single-threaded client. The timed
window repeats the operation until its summed wall reaches ``--seconds``
and at least four (rollup) or two (queries) operations ran; figures are
medians. Outputs are checked every run (see each workload module); a wrong
or failed check makes the command exit with code 1. See README.md.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
``end_to_end`` set of ``BENCHMARK.json``; with ``--trace 1`` they are its
``per_layer`` set, and the span trace is written to
``.perfbench_out/trace-<workload>-s<seed>.json``. Every run also writes its
detail (per-pass walls, sizes, host calibration) to
``.perfbench_out/run-<workload>-s<seed>-t<trace>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)

PR_SET_CHILD_SUBREAPER = 36  # from <linux/prctl.h>

# JVM heap for a 4-core / 15 GB host shared with other tenants; the
# session's own default (48g) exceeds its physical memory
DRIVER_MEM = "2g"


class Context:
    """What a workload needs from the harness: paths, seed, the tracer,
    the memory watch, check accounting and metric sinks."""

    def __init__(self, args, work: str):
        from spans import RssWatch, Tracer

        self.seed = args.seed
        self.trace = bool(args.trace)
        self.checkout = CHECKOUT
        self.work = work
        self.tracer = Tracer(self.trace)
        self.rss = RssWatch()
        self.min_ops = 4
        self.attempted = 0
        self.failed = 0
        self.layers: dict[str, float] = {}
        self.notes: dict = {}
        self.setup_s = 0.0
        self.op_walls: list[float] = []
        self.rows_per_op = 0
        self.spark = None

    def attempt(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED: {what}", file=sys.stderr, flush=True)

    def layer(self, name: str, value: float) -> None:
        self.layers[name] = float(value)

    def note(self, **kw) -> None:
        self.notes.update(kw)

    def start_spark(self):
        from sits_spark.session import get_spark

        cpus = len(os.sched_getaffinity(0))
        self.spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark


def _configure_env(work: str, trace: bool) -> None:
    """Keep every file the run writes inside ``work`` and size the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_UI"] = "1" if trace else "0"
    # commit and pre-fault the whole heap at JVM start, as bench.py does:
    # lazy heap growth on this kind of host is a serialized page-fault cost
    # that otherwise keeps warm passes drifting for several passes
    os.environ["SPARK_GRAFT_PRETOUCH"] = "1"
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _adopt_descendants() -> None:
    """Make this process the reaper of every process it starts, directly
    or not (``PR_SET_CHILD_SUBREAPER``): the Python worker daemon and its
    forks, which the JVM starts and does not wait for, become this
    process's children when their parent ends, so ``_reap_descendants``
    can wait for them."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _reap_descendants(grace_s: float = 30.0) -> None:
    """Wait until every child has ended and been reaped. Children still
    running after ``grace_s`` get SIGTERM, and SIGKILL 10 s later."""
    from spans import child_pids

    signals = [signal.SIGTERM, signal.SIGKILL]
    deadline = time.monotonic() + grace_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return  # no child left, not even a zombie
        if time.monotonic() > deadline:
            if not signals:
                print("perfbench: children did not end after SIGKILL", file=sys.stderr)
                return
            sig = signals.pop(0)
            for pid in child_pids(os.getpid()):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 10
        time.sleep(0.05)


def _workload(name: str, ctx: Context):
    if name == "queries":
        from wl_queries import Queries

        return Queries(ctx)
    from wl_rollup import Rollup

    return Rollup(ctx)


def _metrics(ctx: Context, spec: dict, calib_s: float) -> dict:
    from spans import median

    op = median(ctx.op_walls)
    ctx.layer("host.calib_s", calib_s)
    ctx.layer("trace.op_p50_s", op)
    if ctx.trace:
        ctx.layer("session.start_s", next(
            (s["dur"] for s in ctx.tracer.spans if s["name"] == "session.start"), 0.0))
        values = {m["name"]: ctx.layers.get(m["name"], 0.0) for m in spec["per_layer"]}
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        values = {
            "setup_s": ctx.setup_s,
            "op_p50_s": op,
            "rows_per_s": ctx.rows_per_op / op,
            "peak_rss_mb": ctx.rss.peak_mb,
            "ops_ok_frac": 1.0 - ctx.failed / (ctx.attempted + len(ctx.op_walls)),
        }
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        missing = set(units) ^ set(values)
        if missing:
            raise RuntimeError(f"end-to-end metrics out of step with BENCHMARK.json: {missing}")
    return {k: {"value": values[k], "unit": units[k]} for k in units}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("rollup_mixed", "queries"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a SIGTERM unwinds through the clean-up below instead of leaving the JVM
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    _adopt_descendants()

    sys.path.insert(0, CHECKOUT)
    try:
        import sits_spark.pipeline  # noqa: F401  the program under test
        with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except (ImportError, OSError) as e:
        print(f"perfbench: cannot run in {CHECKOUT}: {e}", file=sys.stderr)
        return 2

    from spans import host_calibration, host_cpu

    os.makedirs(os.path.join(CHECKOUT, ".perfbench_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(CHECKOUT, ".perfbench_work"))
    _configure_env(work, bool(args.trace))
    ctx = Context(args, work)
    wl = _workload(args.workload, ctx)
    out_dir = os.path.join(CHECKOUT, ".perfbench_out")
    result = None
    t_run = time.perf_counter()
    try:
        phases = {}
        t0 = time.perf_counter()
        calib_s = host_calibration(len(os.sched_getaffinity(0)))
        steps = [("setup", wl.setup), ("timed", lambda: wl.timed(args.seconds)),
                 ("check", wl.check)] + ([("traced", wl.traced)] if ctx.trace else [])
        cpu = {}
        for name, fn in steps:
            c0 = host_cpu()
            print(f"perfbench: {name}", file=sys.stderr, flush=True)
            fn()
            cpu[name] = {k: round(v - c0[k], 2) for k, v in host_cpu().items()}
            phases[name] = time.perf_counter() - t0
            t0 = time.perf_counter()
        ctx.note(phase_s=phases, calib_s=calib_s, host_cpu_s=cpu)
        ctx.rss.sample()
        metrics = _metrics(ctx, spec, calib_s)
        result = {"correct": ctx.failed == 0, "attempted": ctx.attempted + len(ctx.op_walls),
                  "failed": ctx.failed, "metrics": metrics}
    except Exception:
        traceback.print_exc()
        result = {"correct": False, "attempted": ctx.attempted + len(ctx.op_walls) + 1,
                  "failed": ctx.failed + 1, "metrics": {}}
    finally:
        try:
            if ctx.spark is not None:
                _stop_spark(ctx.spark)
        finally:
            _reap_descendants()
            shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{args.workload}-s{args.seed}"
    if ctx.trace:
        ctx.tracer.write(os.path.join(out_dir, f"trace-{tag}.json"))
    with open(os.path.join(out_dir, f"run-{tag}-t{args.trace}.json"), "w") as f:
        json.dump({"result": result, "layers": ctx.layers, "notes": ctx.notes,
                   "setup_s": ctx.setup_s, "op_walls": ctx.op_walls,
                   "run_s": time.perf_counter() - t_run}, f, indent=1, default=str)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
