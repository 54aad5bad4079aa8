"""Seeded end-to-end benchmark of baloo_spark.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload {analyst,corpus} \\
        --seed N --seconds S --trace {0,1}

One process, one client, closed loop: the next operation starts when
the previous one has returned. The session is the program's default
(``baloo_spark.session.get_session`` on ``local[<cpus>]``). A run sets
up, plays one cold pass over the workload's operations in a fresh
session and one unmeasured warm-up pass, then warm passes until
``--seconds`` have elapsed, reads its own peak RSS, and only then checks
every output (see workloads.py).
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` reports the per-layer metrics, taken from
spans around the calls into each layer, and writes the spans to
``.bench_work/traces/``. See README.md for the metric definitions.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

from layers import busy_s, per_layer  # noqa: E402
from tracer import SparkStatus, Tracer  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REQUIRED = ("baloo_spark/__init__.py", "__spark_entry__.py",
            "tools/check_oracle.py")
WORK_ROOT = os.path.join(ROOT, ".bench_work")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Environment for the driver and for Spark's Python workers, which
    import baloo_spark inside UDFs and so need the checkout on their
    PYTHONPATH. Everything Spark writes stays under ``work``."""
    sys.path.insert(0, ROOT)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(paths),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "TMPDIR": tmp,
        # no hsperfdata files in the host's /tmp, for the launcher JVM
        # or the driver JVM
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": "--driver-java-options "
        + shlex.quote(f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
        + " pyspark-shell",
    })
    # the program's default session: no overrides from the caller
    for var in ("SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_DRIVER_MEM"):
        os.environ.pop(var, None)


def vm_hwm_mb(pid="self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Context:
    """What the workloads share: session, entry module, tracer, dirs."""

    def __init__(self, args, work, tracer):
        self.seed = args.seed
        self.work = work
        self.tracer = tracer
        self.spark = None
        import __spark_entry__
        from tools import check_oracle
        self.entry = __spark_entry__
        self.oracle = check_oracle
        # the read-only testdata the driver contract itself runs on
        self.testdata = os.path.dirname(__spark_entry__.SF_SMOKE)


def set_up(args, work):
    """Imports, input generation, session start and table registration:
    everything between process start and the first timed operation."""
    tracer = Tracer(bool(args.trace))
    ctx = Context(args, work, tracer)
    wl = WORKLOADS[args.workload](ctx)
    wl.prepare()
    with tracer.span("session.start"):
        from baloo_spark.session import get_session
        ctx.spark = get_session("baloo_spark_perfbench")
    ctx.spark.sparkContext.setLogLevel("ERROR")
    if args.trace:
        tracer.status = SparkStatus(ctx.spark)
    with tracer.span("session.register"):
        wl.register()
    return ctx, wl, time.perf_counter() - T_START


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it Spark's
    Python workers) to exit."""
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Runner:
    """Closed loop over the workload's passes, recording op latencies."""

    def __init__(self, args, ctx, wl):
        self.args, self.ctx, self.wl = args, ctx, wl
        self.rng = random.Random(f"{args.workload}:{args.seed}")
        self.execs: list[dict] = []
        self.passes: list[dict] = []

    def run_pass(self, kind: str, traced: bool = False) -> None:
        tr = self.ctx.tracer
        tr.enabled = traced
        pass_no = len(self.passes)
        ops = self.wl.pass_ops(self.rng, pass_no)
        t0 = time.perf_counter()
        with tr.span("pass", pass_no=pass_no) as sp:
            for arg in ops:
                key = self.wl.op_key(pass_no, arg)
                tr.op = key
                a = time.perf_counter()
                ok = True
                with tr.span("op", key=key):
                    try:
                        self.wl.run_op(arg)
                    except Exception:  # noqa: BLE001 - counted as failed
                        ok = False
                        print(f"op {key} failed:\n{traceback.format_exc()}",
                              file=sys.stderr)
                self.execs.append({"key": key, "pass": pass_no, "ok": ok,
                                   "s": time.perf_counter() - a})
            tr.op = None
        rec = {"s": time.perf_counter() - t0, "pass_no": pass_no,
               "kind": kind, "traced": traced}
        if traced:
            # job times now, before the status store evicts the jobs
            rec["span"] = sp["id"]
            rec["busy_s"] = busy_s(tr.status.job_intervals(
                sp["c0"]["jobs"], sp["c1"]["jobs"]))
        self.passes.append(rec)

    def run(self) -> None:
        trace = bool(self.args.trace)
        self.run_pass("first", trace)
        # JIT compilation still speeds up the pass after the first, so
        # it is played but not measured
        self.run_pass("warmup")
        t0 = time.perf_counter()
        # a traced run alternates untraced and traced warm passes, so
        # that it measures its own tracing overhead
        while True:
            self.run_pass("warm", trace and len(self.warm()) % 2 == 1)
            kinds = {p["traced"] for p in self.warm()}
            if (time.perf_counter() - t0 >= self.args.seconds
                    and (not trace or kinds == {True, False})):
                break

    def warm(self) -> list[dict]:
        return [p for p in self.passes if p["kind"] == "warm"]


def end_to_end(r: Runner, setup_s: float, rss_mb: float) -> dict:
    warm = [p["s"] for p in r.warm()]
    ops = [e["s"] for e in r.execs if r.passes[e["pass"]]["kind"] == "warm"]
    print(f"warm passes (s): {' '.join(f'{w:.3f}' for w in warm)}; "
          f"{len(ops)} warm ops")
    return {
        "setup_s": (setup_s, "s"),
        "first_pass_s": (r.passes[0]["s"], "s"),
        "pass_s": (statistics.median(warm), "s"),
        "op_p50_s": (statistics.median(ops), "s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    missing = [p for p in REQUIRED if not os.path.isfile(
        os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: {ROOT} is not a baloo_spark checkout "
              f"(missing {', '.join(missing)})", file=sys.stderr)
        return 2
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    prepare_env(work)
    ctx = None
    try:
        ctx, wl, setup_s = set_up(args, work)
        runner = Runner(args, ctx, wl)
        runner.run()
        # end of the timed region: the JVM's peak for the traced run, the
        # driver's otherwise, both before any oracle work
        peak_mb = vm_hwm_mb(
            ctx.spark.sparkContext._gateway.proc.pid if args.trace else "self")
        t_check = time.perf_counter()
        problems = wl.check()
        print(f"check {time.perf_counter() - t_check:.1f} s")
        for key, msgs in sorted(problems.items()):
            print(f"CHECK FAILED {key}: {' | '.join(msgs)}", file=sys.stderr)
        failed = sum(1 for e in runner.execs
                     if not e["ok"] or e["key"] in problems)
        metrics = (per_layer(runner, ctx, peak_mb, WORK_ROOT) if args.trace
                   else end_to_end(runner, setup_s, peak_mb))
    finally:
        if ctx is not None and ctx.spark is not None:
            stop_spark(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
    correct = failed == 0
    print(json.dumps({
        "correct": correct, "attempted": len(runner.execs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
