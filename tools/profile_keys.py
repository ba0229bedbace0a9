"""Per-key layer profile: one traced call of each registry key.

Each key is called once to warm up (JIT, file listing, broadcast), then once
under perfbench's ``Tracer`` (perfbench/tracing.py), which times the call in
three layers: construct (the key's own function, py4j calls and eager jobs
included), plan (``queryExecution().executedPlan()``) and fetch
(``toPandas()``). A key's record is the change in ``Tracer.totals`` across
its traced call, with the tracer's peaks reset for each key: layer seconds
and py4j calls, the Spark jobs/stages/tasks of the key's job group with
their executor time, CPU, shuffle bytes and peak execution memory, and the
SQL metrics of the final adaptive plan (scan rows, exchanges, Python nodes).

Usage:
    python tools/profile_keys.py --sf TESTDATA/sf0.01   # bench.py's 168 HEADLINE keys
    python tools/profile_keys.py --sf TESTDATA/sf0.001 --out p.json q_agg_group ...

Writes ``{"sf", "cores", "wall_s", "failed", "leftovers", "records": [...]}``
to ``--out`` (default ``PROFILE_<fixture>.json``) and one line per key to
stderr. ``leftovers`` maps each directory (the system temp dir and the
working directory) to the top-level entries that appeared in it during the
run and were still there once the session stopped and its JVM exited, with
the number of files under each. Exits 1 if a key raised.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.tracing import PACKAGES, Tracer, package_of  # noqa: E402

LAYERS = PACKAGES + ("other",)

# record field <- Tracer.totals name. The tracer files the construct layer's
# counters under the key's package, so CONSTRUCT names a suffix summed over
# LAYERS.
CONSTRUCT = {"construct_s": "construct_s", "construct_py4j": "py4j_calls",
             "eager_jobs": "eager_jobs"}
TOTALS = {
    "plan_s": "catalyst.plan_s", "plan_py4j": "catalyst.py4j_calls",
    "fetch_s": "arrow.fetch_s", "fetch_py4j": "arrow.py4j_calls",
    "jobs": "executor.jobs", "stages": "executor.stages",
    "tasks": "executor.tasks", "task_s": "executor.task_s",
    "executor_cpu_s": "executor.cpu_s",
    "shuffle_write_mb": "executor.shuffle_write_mb",
    "shuffle_read_mb": "executor.shuffle_read_mb",
    "scan_rows": "sources.scan_rows", "exchanges": "catalyst.exchanges",
    "python_nodes": "functions.python_nodes",
}
PEAKS = {"peak_exec_mem_mb": "executor.peak_exec_mem_mb",
         "peak_op_mem_mb": "operators.peak_mem_mb"}


def profile_key(spark, tracer: Tracer, key: str, fn, sf_dir: str) -> dict:
    """Warm ``key`` up, then call it once under ``tracer``; return its record."""
    sc = spark.sparkContext
    sc.setJobGroup(f"{key}#0", f"{key}#0")
    fn(spark, sf_dir).toPandas()

    group = f"{key}#1"
    sc.setJobGroup(group, group)
    before = dict(tracer.totals)
    tracer.peaks.clear()
    marks = {"t": [], "calls": []}

    def mark():
        marks["t"].append(time.time())
        marks["calls"].append(tracer.calls)

    t0 = time.perf_counter()
    mark()
    df = fn(spark, sf_dir)
    mark()
    tracer.plan(df)
    mark()
    pdf = df.toPandas()
    mark()
    wall = time.perf_counter() - t0
    tracer.record_key(key, fn, 1, group, marks, df, pdf)
    sc.setJobGroup("idle", "idle")

    d = {k: v - before.get(k, 0.0) for k, v in tracer.totals.items()}
    rec = {"key": key, "package": package_of(fn), "wall_s": wall}
    for field, suffix in CONSTRUCT.items():
        rec[field] = sum(d.get(f"{p}.{suffix}", 0.0) for p in LAYERS)
    rec.update({field: d.get(name, 0.0) for field, name in TOTALS.items()})
    rec.update({field: tracer.peaks.get(name, 0.0) for field, name in PEAKS.items()})
    return {k: _tidy(k, v) for k, v in rec.items()}


def _leftovers(before: dict[str, set[str]]) -> dict[str, dict[str, int]]:
    """New top-level entries in each directory of ``before`` (dir -> names
    listed at the start), with the number of files each holds."""
    out = {}
    for top, seen in before.items():
        new = {}
        for name in sorted(set(os.listdir(top)) - seen):
            path = os.path.join(top, name)
            new[name] = (sum(len(fs) for _, _, fs in os.walk(path))
                         if os.path.isdir(path) else 1)
        if new:
            out[top] = new
    return out


def _tidy(field: str, v):
    """Seconds and MB to 6 places, counts (floats in the tracer) to ints."""
    if not isinstance(v, float):
        return v
    return round(v, 6) if field.endswith(("_s", "_mb")) else int(v)


def main() -> int:
    from bench import HEADLINE
    from xml_processor_spark.registry import get_queries
    from xml_processor_spark.session import build_session

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", required=True, help="fixture directory")
    ap.add_argument("--out", default=None,
                    help="output JSON (default PROFILE_<fixture>.json)")
    ap.add_argument("keys", nargs="*", help="registry keys (default HEADLINE)")
    args = ap.parse_args()
    keys = args.keys or HEADLINE
    fixture = os.path.basename(args.sf.rstrip("/"))
    out = args.out or f"PROFILE_{fixture}.json"

    # The Python workers import the package too, from any working directory.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    dirs = {os.path.abspath(d) for d in (tempfile.gettempdir(), ".")}
    before = {d: set(os.listdir(d)) for d in dirs}
    spark = build_session("profile")
    spark.sparkContext.setLogLevel("ERROR")
    queries = get_queries()
    tracer = Tracer(spark)
    records, failed = [], []
    t_start = time.perf_counter()
    for key in keys:
        try:
            rec = profile_key(spark, tracer, key, queries[key], args.sf)
        except Exception as e:  # noqa: BLE001 - a failed key is reported, not fatal
            failed.append(key)
            print(f"profile: {key} failed: {type(e).__name__}: {str(e)[:300]}",
                  file=sys.stderr)
            continue
        records.append(rec)
        print(f"profile: {rec['wall_s']:7.3f} s  {key}  construct "
              f"{rec['construct_s']:.3f}/{rec['construct_py4j']} calls, plan "
              f"{rec['plan_s']:.3f}, fetch {rec['fetch_s']:.3f}; "
              f"{rec['jobs']} jobs, {rec['stages']} stages",
              file=sys.stderr, flush=True)
    wall = time.perf_counter() - t_start
    tracer.close()
    spark.stop()
    # The JVM deletes its extracted native codec libraries when it exits;
    # end it so that only files the keys left behind are counted.
    from pyspark import SparkContext

    SparkContext._gateway.proc.stdin.close()
    SparkContext._gateway.proc.wait(120)
    left = _leftovers(before)
    with open(out, "w") as f:
        json.dump({"sf": fixture, "cores": tracer.cores, "wall_s": round(wall, 3),
                   "failed": failed, "leftovers": left, "records": records},
                  f, indent=1)
        f.write("\n")
    n_left = sum(sum(v.values()) for v in left.values())
    print(f"profile: {len(records)} keys in {wall:.1f} s, {len(failed)} failed, "
          f"{n_left} files left behind -> {out}", file=sys.stderr)
    for top, new in left.items():
        print(f"profile: left in {top}: " + ", ".join(
            f"{name} ({n} files)" for name, n in new.items()), file=sys.stderr)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
