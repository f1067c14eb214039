"""The repo benchmark: ``feed``, ``curate`` and ``screen``.

    python3 perfbench/run.py --workload feed --seed 1 --seconds 6 --trace 0

Run from the repository root.  Each workload runs in a fresh process
(``--workload all`` starts one per workload), makes its inputs from
``--seed``, measures for about ``--seconds`` seconds, checks the
program's outputs, and prints one line per metric followed by a last
line of JSON::

    {"correct": true, "attempted": 7, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``, which every workload has:

- ``setup_s``: process start until the first pass can begin, one wall
  interval: imports, ``get_spark``, generating the inputs into a fresh
  directory and, for ``screen``, building the MinHash index;
- ``cold_pass_s``: the first epoch (``feed``), the first pass
  (``curate``) or the first drain micro-batch (``screen``);
- ``items_per_s``: examples or documents per second, the median over
  timed epochs or passes, or the warm drain rate of ``screen``.  The
  number of timed epochs or passes follows from ``--seconds`` and the
  workload's nominal pass time, never from how fast the program runs,
  so every commit is timed on the same pass indices.

``screen`` also prints its per-file latency (``latency_p50_s``,
``latency_p90_s``), and every workload prints ``fail_frac``: failed
operations (epochs, passes, files) over attempted ones, which the last
line carries as ``failed`` and ``attempted``.

A run is valid only if the hypervisor stole at most ``STEAL_LIMIT`` of
the CPU time the machine's processors asked for while it ran
(``/proc/stat``); an invalid run says so above the last line and in its
record, and ``perfbench/compare.py`` leaves it out when it compares two
sets of runs.

With ``--trace 1`` every public call is wrapped in a span and the
metrics are the per-layer metrics of ``BENCHMARK.json``; all others,
and the reason for any that is absent, are printed above the last line.
The tracing overhead is taken against the untraced run of the same
program and seed.  Every run writes a record (host, parameters,
metrics, spans) to ``perfbench/out/``, named by workload, program hash,
seed and trace.  Workload parameters live in
``perfbench/workloads.json``; the self-tests run with
``python3 -m pytest perfbench/tests``.  A run that overruns
``DEADLINE_S`` stops its JVM and exits 3 without a result.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
import uuid  # noqa: E402
from contextlib import contextmanager  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
WORKLOADS = ("feed", "curate", "screen")
# Above this share of stolen CPU a run's times say more about the
# neighbours than about the program (quiet runs read under 0.01).
STEAL_LIMIT = 0.02
E2E_UNITS = {"setup_s": "s", "cold_pass_s": "s", "items_per_s": "1/s",
             "latency_p50_s": "s", "latency_p90_s": "s"}
DEADLINE_S = 170
GRACE_S = 8


class Deadline(BaseException):
    """The run overran.  A BaseException, so that no ``except Exception``
    in a workload counts it as one failed operation and carries on."""


def load_json(path):
    with open(path) as f:
        return json.load(f)


class Ctx:
    """What a workload gets: session, tracer, inputs, and the tallies it fills."""

    def __init__(self, args, spark, tracer, jvm, params, work):
        self.seed = args.seed
        self.seconds = args.seconds
        self.spark = spark
        self.tracer = tracer
        self.jvm = jvm
        self.params = params
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.e2e: dict[str, tuple[float, int]] = {}
        self.layers: dict[str, tuple] = {}
        self.window_stats: dict = {}
        self.window_span: dict = {}
        self.window_groups: list[str] = []
        self.window_ops = 0
        self.raw: dict = {}

    def span(self, name, **attrs):
        return self.tracer.span(name, **attrs)

    def setup(self, make):
        """Make the inputs in a fresh directory; ``setup_s`` ends here."""
        with self.span("setup"):
            out = make(os.path.join(self.work, "inputs"))
        self.e2e["setup_s"] = (time.perf_counter() - T_START, 1)
        return out

    def timed_ops(self) -> int:
        """How many epochs or passes to time: ``--seconds`` over the
        workload's nominal pass time, at least three."""
        return max(3, round(self.seconds / self.params["nominal_pass_s"]))

    def op(self, ok: bool, what: str):
        """Count one operation (epoch, pass or file) and whether it passed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def attempt(self, what: str, fn, *args):
        """Run one operation; a raise counts as a failed operation."""
        try:
            return True, fn(*args)
        except Exception:
            traceback.print_exc()
            self.op(False, f"{what} raised")
            return False, None

    def repeat(self, what: str, fn, count: int) -> list:
        """``fn(i)`` for ``i`` in ``range(count)``: the results of those
        that did not raise."""
        out = []
        for i in range(count):
            ok, res = self.attempt(what, fn, i)
            if ok:
                out.append(res)
        return out

    def layer(self, name, unit, value, n=None):
        self.layers[name] = (value, unit, n)

    def absent(self, name, unit, why):
        self.layers[name] = (None, unit, why)

    @contextmanager
    def window(self):
        """The timed window: JVM and driver readings around it, and a span."""
        j0, c0, t0 = self.jvm.snapshot(), time.process_time(), time.perf_counter()
        with self.span("window") as sp:
            yield
        j1, c1, t1 = self.jvm.snapshot(), time.process_time(), time.perf_counter()
        self.window_span = sp
        self.window_stats = {
            "wall_s": t1 - t0, "py_cpu_s": c1 - c0,
            **{k: j1[k] - j0[k] for k in j0},
        }


def layer_metrics(ctx, host, session_s, session_jit_s, sc) -> None:
    """Per-layer metrics every workload has, per operation of the timed window."""
    from measure import engine_jobs, stage_totals

    ops = max(ctx.window_ops, 1)
    w = ctx.window_stats
    ctx.layer("session.start_s", "s", session_s)
    ctx.layer("session.jit_compile_s", "s", session_jit_s)
    ctx.layer("engine.gc_s", "s", w["gc_s"] / ops)
    ctx.layer("engine.jit_compile_s", "s", w["jit_s"] / ops)
    ctx.layer("engine.jvm_cpu_s", "s", w["cpu_s"] / ops)
    ctx.layer("engine.peak_rss_mb", "MB", ctx.jvm.peak_rss_mb())
    ctx.layer("driver.py_cpu_s", "s", w["py_cpu_s"] / ops)
    ctx.layer("host.steal_share", "ratio", host.steal_share())
    ctx.layer("host.load1_start", "load", host.load1_start)
    if not ctx.tracer.enabled:
        return
    spans = ctx.tracer.within(ctx.window_span)
    groups = {s["group"] for s in spans} | set(ctx.window_groups)
    jobs = engine_jobs(sc)
    totals = stage_totals([j for j in jobs if j.get("jobGroup") in groups])
    for key in ("jobs", "stages", "tasks"):
        ctx.layer(f"engine.{key}", "count", totals[key] / ops)
    for key in ("task_s", "task_cpu_s", "one_task_stage_s"):
        ctx.layer(f"engine.{key}", "s", totals[key] / ops)
    for key in ("shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
        ctx.layer(f"engine.{key}", "MB", totals[key] / ops)
    ctx.layer("engine.busy_frac", "ratio",
              totals["task_s"] / (w["wall_s"] * host.cores))
    builds = [s for s in spans if s.get("build")]
    ctx.layer("build.s", "s", sum(s["end"] - s["start"] for s in builds) / ops)

    def jobs_under(span_list):
        gs = {g["group"] for s in span_list for g in ctx.tracer.within(s)}
        return [j for j in jobs if j.get("jobGroup") in gs]

    ctx.layer("build.jobs", "count", len(jobs_under(builds)) / ops)
    # per-call construction jobs of the named public calls, timed window only
    for name in ("dedup.apply_dedup", "text.quality_score", "dedup.decontaminate",
                 "schemes.shuffled_batches"):
        calls = [s for s in spans if s["name"] == name]
        if calls:
            ctx.layer(f"{name}.build_s", "s",
                      statistics.median(s["end"] - s["start"] for s in calls), len(calls))
        ctx.layer(f"{name}.build_jobs", "count", len(jobs_under(calls)) / max(len(calls), 1),
                  len(calls))
    epochs = [s for s in spans if s["name"] == "streams.epoch"]
    ctx.layer("streams.jobs_per_epoch", "count", len(jobs_under(epochs)) / max(len(epochs), 1),
              len(epochs))
    batches = ctx.window_ops if ctx.window_groups else 0
    serve_jobs = [j for j in jobs if j.get("jobGroup") in set(ctx.window_groups)]
    ctx.layer("serve.jobs_per_batch", "count", len(serve_jobs) / max(batches, 1), batches)
    ctx.layer("serve.tasks_per_batch", "count",
              stage_totals(serve_jobs)["tasks"] / max(batches, 1), batches)
    selfs = ctx.tracer.self_times()
    for name in sorted(selfs):
        ctx.layer(f"self.{name}_s", "s", selfs[name])


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def run_one(args) -> int:
    sys.path.insert(0, ROOT)
    try:
        import fuel_spark.session  # noqa: F401  (the program under test)
    except ImportError as e:
        print(f"perfbench: cannot import fuel_spark from {ROOT}: {e}", file=sys.stderr)
        return 2
    from measure import Host, Jvm, Tracer, program_id

    bench = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    params = load_json(os.path.join(HERE, "workloads.json"))[args.workload]
    host = Host()
    prog = program_id(ROOT)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(host.cores))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{host.mem_total_mb // 8}m")
    run_id = f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}"
    work = os.path.join(HERE, "work", run_id)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")

    from fuel_spark.session import get_spark

    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}", extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        })
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        jvm = Jvm(spark)
        session_jit_s = jvm.snapshot()["jit_s"]
        tracer = Tracer(bool(args.trace), run_id, spark.sparkContext)
        ctx = Ctx(args, spark, tracer, jvm, params, work)
        module = __import__(args.workload)
        module.run(ctx)
        layer_metrics(ctx, host, session_s, session_jit_s, spark.sparkContext)
    finally:
        if spark is not None:
            stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    return report(args, bench, params, host, prog, ctx, tracer, module.ITEMS)


def stop(spark):
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def report(args, bench, params, host, prog, ctx, tracer, items) -> int:
    steal = ctx.layers["host.steal_share"][0]
    valid = steal <= STEAL_LIMIT
    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    for name, (value, n) in ctx.e2e.items():
        label = f"{name} ({items})" if name == "items_per_s" else name
        print(f"{args.workload:7s} {label:34s} {fmt(value):>12s} {E2E_UNITS[name]:6s} n={n}")
    print(f"{args.workload:7s} {'fail_frac':34s} {fmt(ctx.failed / max(ctx.attempted, 1)):>12s} "
          f"{'ratio':6s} n={ctx.attempted}")
    for name, (value, unit, n) in sorted(ctx.layers.items()):
        if value is None:
            print(f"{args.workload:7s} {name:34s} {'absent':>12s} {unit:6s} {n}")
        else:
            extra = f"n={n}" if n is not None else ""
            print(f"{args.workload:7s} {name:34s} {fmt(value):>12s} {unit:6s} {extra}")
    for p in ctx.problems:
        print(f"{args.workload:7s} FAILED {p}")
    if not valid:
        print(f"{args.workload:7s} INVALID run: the hypervisor stole {steal:.3f} of the CPU "
              f"time asked for (limit {STEAL_LIMIT}); compare.py leaves it out")

    record = {
        "workload": args.workload, "program": prog, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "valid": valid, "params": params,
        "host": {"cores": host.cores, "mem_total_mb": host.mem_total_mb,
                 "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
                 "spark_cpus": os.environ["SPARK_GRAFT_CPUS"],
                 "load1_start": host.load1_start, "steal_share": steal,
                 "steal_limit": STEAL_LIMIT,
                 "jvm_peak_rss_mb": ctx.layers["engine.peak_rss_mb"][0],
                 "py_peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024},
        "run_s": time.perf_counter() - T_START,
        "attempted": ctx.attempted, "failed": ctx.failed, "problems": ctx.problems,
        "e2e": {k: {"value": v, "n": n} for k, (v, n) in ctx.e2e.items()},
        "layers": {k: {"value": v, "unit": u, "n_or_reason": n}
                   for k, (v, u, n) in ctx.layers.items()},
        "spans": tracer.spans,
        "raw": ctx.raw,
    }
    os.makedirs(OUT, exist_ok=True)
    stem = f"{args.workload}-{prog}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(OUT, stem + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        overhead(record)

    metrics = {}
    for m in wanted:
        value = ctx.e2e[m["name"]][0] if m["name"] in ctx.e2e else ctx.layers[m["name"]][0]
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    correct = ctx.failed == 0 and ctx.attempted > 0
    print(json.dumps({"correct": correct, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": metrics}))
    return 0


def overhead(traced):
    """Traced end-to-end values against the untraced run of the same
    workload, program and seed, when one is on record and valid."""
    wl = traced["workload"]
    path = os.path.join(OUT, f"{wl}-{traced['program']}-seed{traced['seed']}-trace0.json")
    base = load_json(path) if os.path.exists(path) else None
    why = ("no untraced run of this program and seed on record" if base is None
           else "the untraced run is invalid" if not base["valid"]
           else "this traced run is invalid" if not traced["valid"] else None)
    for name, rec in traced["e2e"].items():
        if why:
            print(f"{wl:7s} trace.overhead.{name:19s} {'absent':>12s} ratio  {why}")
            continue
        ratio = rec["value"] / base["e2e"][name]["value"] - 1.0
        better = "higher" if name == "items_per_s" else "lower"
        print(f"{wl:7s} trace.overhead.{name:19s} {fmt(ratio):>12s} ratio  "
              f"traced/untraced-1 ({better} is better), same seed")


def run_all(args) -> int:
    """Each workload in a fresh process, one after another."""
    code = 0
    for wl in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        code = max(code, subprocess.run(cmd, cwd=ROOT).returncode)
    return code


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args)

    def deadline(*_):
        signal.signal(signal.SIGALRM, hard_stop)
        signal.alarm(GRACE_S)
        raise Deadline(f"run exceeded {DEADLINE_S} s")

    def hard_stop(*_):
        """Clean-up overran too: kill the JVM and leave without a result."""
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.kill()
            proc.wait()
        os._exit(3)

    signal.signal(signal.SIGALRM, deadline)
    signal.alarm(DEADLINE_S)
    try:
        return run_one(args)
    except Deadline as e:
        print(f"perfbench: {e}; no result", file=sys.stderr)
        return 3
    finally:
        signal.alarm(0)


if __name__ == "__main__":
    sys.exit(main())
