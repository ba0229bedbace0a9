"""Closed-loop benchmark of the xml_processor_spark engine.

One client, one SparkSession: the workload's registry keys run one at a time,
back to back, in an order set by the seed. A key is measured from the call of
its function to the end of ``toPandas()``, in wall time and in the CPU time of
the process tree; its result is checked outside the measured region against
the digest of the key's DuckDB oracle (check.py). The first pass warms the
JVM and is not measured; measured passes follow, at least MIN_PASSES and
until ``--seconds`` of wall time have been measured.

With ``--trace 0`` the run reports the end-to-end metrics. With ``--trace 1``
it runs an untraced, a traced and an untraced pass, reports the per-layer
metrics of tracing.py, including the tracing overhead, and writes every span
to ``.perfbench/out/``. README.md explains the metrics.

Run from the repository root:

    python3 perfbench/run.py --workload relational_sf0.01 --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload xml_ingest_sf0.01 --smoke   # one traced pass on sf0.001

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
from typing import NamedTuple

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
PKG = "xml_processor_spark"
DEFAULT_SEED = 1
SETUP_REPEATS = 3
MIN_PASSES = 3
END_TO_END = ("cpu_s", "setup_s")


def _die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _prepare(tag: str) -> tuple[str, str]:
    """Send every temp path of the Spark driver, the JVM and the Python
    workers into the checkout, run keys in a scratch working directory, put
    the repo root on the workers' PYTHONPATH, and clear what killed runs
    left behind."""
    for kind in ("tmp", "cwd"):
        base = os.path.join(WORK, kind)
        for name in os.listdir(base) if os.path.isdir(base) else ():
            if not os.path.exists(f"/proc/{name.rsplit('-', 1)[-1]}"):  # a killed run's
                shutil.rmtree(os.path.join(base, name), ignore_errors=True)
    tmp = os.path.join(WORK, "tmp", tag)
    cwd = os.path.join(WORK, "cwd", tag)
    for d in (tmp, cwd):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell")
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT] + paths)
    os.chdir(cwd)
    return tmp, cwd


def _setup(app: str):
    """Cold set-up once (JVM launch included), then SETUP_REPEATS fresh
    set-ups in the same JVM: stop the session, drop the package's modules,
    rebuild the session and reload the registry."""

    def once():
        c0, t0 = _app_cpu_s(), time.perf_counter()
        from xml_processor_spark.session import build_session

        spark = build_session(app)
        t1 = time.perf_counter()
        from xml_processor_spark.registry import get_queries

        queries = get_queries()
        t2 = time.perf_counter()
        return spark, queries, (_app_cpu_s() - c0, t1 - t0, t2 - t1)

    spark, queries, cold = once()
    runs = []
    for _ in range(SETUP_REPEATS):
        spark.stop()
        for m in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
            del sys.modules[m]
        spark, queries, r = once()
        runs.append(r)
    spark.sparkContext.setLogLevel("ERROR")
    setup = {
        "setup_s": statistics.median(r[0] for r in runs),
        "session.build_s": statistics.median(r[1] for r in runs),
        "registry.load_s": statistics.median(r[2] for r in runs),
        "session.cold_s": cold[1] + cold[2],
    }
    return spark, queries, setup


def _stop(spark) -> None:
    """Stop the session, then the JVM the session launched, and wait for it."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


_TICK = os.sysconf("SC_CLK_TCK")


def _steal_s() -> float:
    """CPU time the host has taken from this machine's CPUs, all CPUs summed."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


_RUNTIME_THREADS = ("C1 Compiler", "C2 Compiler", "GC Thread", "G1 ", "VM Thread",
                    "VM Periodic", "Sweeper")
_RUNTIME_SEEN: dict[tuple[int, str], float] = {}


def _stat(path: str) -> tuple[str, list[str]]:
    with open(path) as f:
        raw = f.read()
    return raw[raw.index("(") + 1:raw.rindex(")")], raw.rsplit(")", 1)[1].split()


def _app_cpu_s() -> float:
    """CPU time (user + system) of this process and its descendants (the JVM
    and its Python workers, exited ones included), less the time of the
    JVM's JIT-compiler and garbage-collector threads: the CPU the engine's
    own work used. Unlike wall time it does not count time the host took
    the CPUs away (steal), which on a shared host moves wall time by 20%
    from one minute to the next."""
    parent, cpu = {}, {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                _, f = _stat(f"/proc/{pid}/stat")
            except OSError:
                continue
            parent[int(pid)] = int(f[1])
            cpu[int(pid)] = sum(int(x) for x in f[11:15]) / _TICK
    me, total = os.getpid(), 0.0
    for pid, t in cpu.items():
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p != me:
            continue
        total += t
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                name, f = _stat(f"/proc/{pid}/task/{tid}/stat")
            except OSError:
                continue
            if name.startswith(_RUNTIME_THREADS):
                _RUNTIME_SEEN[(pid, tid)] = (int(f[11]) + int(f[12])) / _TICK
    # The JVM starts and stops compiler threads as load changes; an exited
    # thread's time stays in its process's total, so keep its last reading.
    return total - sum(_RUNTIME_SEEN.values())


class KeyRun(NamedTuple):
    key: str
    wall_s: float
    ok: bool
    digest: str | None
    steal_s: float  # CPU time the host took from all CPUs during the key
    cpu_s: float  # see _app_cpu_s


def _best_pass(timed: list[dict], field: str) -> float:
    """A pass made of each key's best run over the timed passes: the noise
    left after warm-up (host steal, JIT still compiling) only ever adds
    time, so the minimum is the steadiest estimate of a key's cost."""
    return sum(min(getattr(t[k], field) for t in timed) for k in timed[0])


def _median_pass(timed: list[dict], field: str) -> float:
    return statistics.median(sum(getattr(r, field) for r in t.values()) for t in timed)


def _count_files(*dirs: str) -> int:
    return sum(len(files) for d in dirs for _, _, files in os.walk(d))


def _run_pass(spark, queries, order, sf_dir, p, expected, tracer, results):
    """Run every key once. Returns the pass wall time (sum of key times) and
    appends a KeyRun per key to ``results``."""
    from check import digest

    sc = spark.sparkContext
    wall = 0.0
    if tracer:
        tracer.begin_pass(p)
    for key in order:
        fn = queries[key]
        group = f"{key}#{p}"
        sc.setJobGroup(group, group)
        df = pdf = None
        marks = {"t": [], "calls": []}

        def mark():
            if tracer:
                marks["t"].append(time.time())
                marks["calls"].append(tracer.calls)

        err = None
        steal0, cpu0 = _steal_s(), _app_cpu_s()
        t0 = time.perf_counter()
        mark()
        try:
            df = fn(spark, sf_dir)
            mark()
            if tracer:
                tracer.plan(df)
            mark()
            pdf = df.toPandas()
            mark()
        except Exception as e:  # noqa: BLE001 - a failed key is counted, not fatal
            err = f"{type(e).__name__}: {e}"
        dt = time.perf_counter() - t0
        cpu = _app_cpu_s() - cpu0
        steal = _steal_s() - steal0
        wall += dt
        got = None
        if err is None:
            got = digest(pdf)
            if tracer and len(marks["t"]) == 4:
                tracer.record_key(key, fn, p, group, marks, df, pdf)
        ok = err is None and expected.get(key) == got
        if not ok:
            why = err or f"digest {got} != expected {expected.get(key)}"
            print(f"perfbench: {key} failed: {why[:300]}", file=sys.stderr)
        results.append(KeyRun(key, dt, ok, got, steal, cpu))
    sc.setJobGroup("idle", "idle")
    if tracer:
        tracer.end_pass(wall)
    rs = results[-len(order):]
    times = " ".join(f"{r.key}={r.wall_s:.3f}/{r.cpu_s:.2f}" for r in rs)
    print(f"perfbench: pass {p}: wall {wall:.3f} s, steal "
          f"{sum(r.steal_s for r in rs):.3f} s, cpu {sum(r.cpu_s for r in rs):.3f} s; "
          f"key=wall/cpu {times}", file=sys.stderr)
    return wall


def main() -> int:
    from workloads import FIXTURES, SMOKE, WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help=f"one traced pass on {SMOKE}, nothing else")
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]
    fixture = SMOKE if args.smoke else wl.fixture
    sf_dir = FIXTURES[fixture]
    if not os.path.isdir(sf_dir):
        _die(f"fixture directory {sf_dir} is missing")

    tmp, cwd = _prepare(f"{wl.name}-{os.getpid()}")
    spark, queries, setup = _setup(f"perfbench-{wl.name}")

    import check

    expected = check.oracle_digests(
        wl.keys, sf_dir, os.path.join(WORK, "cache", f"oracle-{fixture}.json"))

    order = random.Random(args.seed).sample(list(wl.keys), len(wl.keys))
    tracer = None
    if args.trace or args.smoke:
        from tracing import Tracer

        tracer = Tracer(spark)
    results: list = []

    def run(p, traced=False):
        return _run_pass(spark, queries, order, sf_dir, p, expected,
                         tracer if traced else None, results)

    # Untraced passes give the end-to-end figures; a traced run puts its one
    # traced pass between two untraced ones, so the overhead it reports is
    # not biased by the first pass on the fixture being the slowest.
    plain, traced, timed = [], [], []
    if args.smoke:
        traced.append(run(0, traced=True))
    else:
        run(0)
        schedule = [False, True, False] if args.trace else [False] * MIN_PASSES
        p = 1
        while schedule or (not args.trace and sum(plain) < args.seconds):
            use = schedule.pop(0) if schedule else False
            start = len(results)
            wall = run(p, traced=use)
            (traced if use else plain).append(wall)
            if not use:
                timed.append({r.key: r for r in results[start:]})
            p += 1

    if tracer:
        tracer.close()
    _stop(spark)
    leftovers = _count_files(tmp, cwd)
    os.chdir(ROOT)
    for d in (tmp, cwd):
        shutil.rmtree(d, ignore_errors=True)

    attempted = len(results)
    failed = sum(1 for r in results if not r.ok)
    if tracer:
        from tracing import unit_of

        overhead = statistics.median(traced) - statistics.median(plain) if plain else 0.0
        measured = {k: v for k, v in setup.items() if k != "setup_s"}
        if timed:
            measured.update({"pass.wall_s": _best_pass(timed, "wall_s"),
                             "pass.cpu_s": _best_pass(timed, "cpu_s"),
                             "pass.steal_s": _median_pass(timed, "steal_s")})
        metrics = tracer.metrics(measured, overhead, leftovers,
                                 statistics.median(traced))
        out = {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()}
        tracer.write(
            os.path.join(WORK, "out", f"trace-{wl.name}-seed{args.seed}.json"),
            {"workload": wl.name, "seed": args.seed, "fixture": fixture,
             "order": order, "plain_pass_s": plain, "traced_pass_s": traced,
             "leftover_files": leftovers})
    else:
        values = {"cpu_s": _best_pass(timed, "cpu_s"), "setup_s": setup["setup_s"]}
        out = {k: {"value": values[k], "unit": "s"} for k in END_TO_END}
        lat = [r.wall_s for t in timed for r in t.values()]
        print(f"{len(timed)} timed passes of {len(order)} keys: best-run wall "
              f"{_best_pass(timed, 'wall_s'):.6g} s per pass; median steal "
              f"{_median_pass(timed, 'steal_s'):.6g} s per pass; key wall p50 "
              f"{statistics.median(lat):.6g} s, max {max(lat):.6g} s")
    print(f"failed_frac = {failed / max(attempted, 1):.6g} ratio "
          f"({failed} of {attempted} key runs)")
    for k, m in out.items():
        print(f"{k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    for need in (os.path.join(PKG, "registry.py"),
                 os.path.join("tools", "verify_local.py"),
                 os.path.join("tools", "make_sf1.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            _die(f"{need} not found: run from a checkout of the repository")
    sys.exit(main())
