"""Traced runs: spans around each call into a layer and per-layer counters,
read from outside the program.

Spans (kept in memory, written once when the run ends):

    pass p
      key#p                      one registry key
        construct                the key's own function (builds the DataFrame)
        plan                     queryExecution().executedPlan()
        fetch                    toPandas()
          job j                  parented to the span its submission falls in
            stage s

Counters come from four places: a wrapper around the py4j gateway client's
``send_command`` (calls per layer), the driver's status store (jobs and
stages of the key's job group), the SQL metrics of the final adaptive plan,
and a ``StreamingQueryListener``.
"""

from __future__ import annotations

import json
import os
import re
import time
from collections import defaultdict

PACKAGES = ("sources", "operators", "functions", "streaming", "plans")
_SQLMETRIC = re.compile(r"SQLMetric\(id: \d+, name: Some\(([^)]*)\), value: (-?\d+)\)")
_PYTHON_NODES = ("Python", "InPandas", "InArrow")
MB = 1 << 20


def package_of(fn) -> str:
    parts = fn.__module__.split(".")
    return parts[1] if len(parts) > 2 and parts[1] in PACKAGES else "other"


def metric_names() -> list[str]:
    """Every per-layer metric a traced run reports, in output order."""
    names = ["pass.wall_s", "pass.cpu_s", "pass.steal_s",
             "session.build_s", "session.cold_s", "registry.load_s"]
    for p in PACKAGES:
        names += [f"{p}.construct_s", f"{p}.py4j_calls", f"{p}.eager_jobs",
                  f"{p}.eager_job_s"]
    names += [
        "catalyst.plan_s", "catalyst.py4j_calls", "catalyst.exchanges",
        "executor.jobs", "executor.stages", "executor.tasks",
        "executor.idle_s", "executor.task_s", "executor.cpu_s",
        "executor.busy_frac", "executor.gc_s", "executor.shuffle_write_mb",
        "executor.shuffle_read_mb", "executor.spill_mb",
        "executor.peak_exec_mem_mb", "executor.failed_tasks",
        "executor.input_mb", "executor.output_mb",
        "sources.scan_rows", "sources.scan_s", "sources.files",
        "operators.agg_s", "operators.sort_s", "operators.join_build_s",
        "operators.peak_mem_mb", "operators.rows_per_result",
        "functions.python_nodes", "functions.python_mb",
        "streaming.batches", "streaming.batch_s", "streaming.state_rows",
        "arrow.fetch_s", "arrow.py4j_calls", "arrow.result_rows",
        "arrow.result_mb", "arrow.tail_s",
        "jvm.peak_rss_mb",
        "trace.overhead_s", "trace.span_coverage_min", "trace.leftover_files",
    ]
    return names


UNITS = {"_s": "s", "_mb": "MB", "_frac": "ratio", "_min": "ratio",
         "_result": "ratio"}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


class Tracer:
    """Collects spans and per-layer counters for the keys of traced passes."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = jvm.com.fasterxml.jackson.module.scala
        self.mapper.registerModule(
            getattr(getattr(scala, "DefaultScalaModule$"), "MODULE$"))
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self.cores = int(self.sc.defaultParallelism)
        self.spans: list[dict] = []
        self.totals: dict[str, float] = defaultdict(float)
        self.peaks: dict[str, float] = defaultdict(float)
        self.coverage: list[float] = []
        self.traced_passes = 0
        self.calls = 0
        self.stream = {"batches": 0, "batch_ms": 0, "state_rows": 0}
        self._wrap_gateway()
        self._listen_streaming()

    # -- instrumentation -------------------------------------------------
    def _wrap_gateway(self) -> None:
        client = self.sc._gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            self.calls += 1
            return send(*args, **kwargs)

        client.send_command = counted

    def _listen_streaming(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        stream = self.stream

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                if p.numInputRows or p.batchDuration:
                    stream["batches"] += 1
                    stream["batch_ms"] += int(p.batchDuration or 0)
                    stream["state_rows"] += sum(
                        int(s.numRowsTotal or 0) for s in p.stateOperators)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()
        self.spark.streams.addListener(self.listener)

    def close(self) -> None:
        try:
            self.spark.streams.removeListener(self.listener)
        except Exception:  # noqa: BLE001 - the session may already be gone
            pass

    # -- per pass / per key ----------------------------------------------
    def begin_pass(self, p: int) -> None:
        self.stream.update(batches=0, batch_ms=0, state_rows=0)
        self._pass = {"name": f"pass {p}", "id": f"pass#{p}",
                      "parent": None, "start": time.time()}

    def end_pass(self, wall: float) -> None:
        self._pass["end"] = self._pass["start"] + wall
        self.spans.append(self._pass)
        self.traced_passes += 1
        self.totals["streaming.batches"] += self.stream["batches"]
        self.totals["streaming.batch_s"] += self.stream["batch_ms"] / 1e3
        self.totals["streaming.state_rows"] += self.stream["state_rows"]

    def plan(self, df):
        return df._jdf.queryExecution().executedPlan()

    def record_key(self, key: str, fn, p: int, group: str, marks: dict,
                   df, pdf) -> None:
        """Record one traced key. ``marks`` holds wall-clock times t0..t3
        (start, constructed, planned, fetched) and the py4j call counter
        at each of them."""
        t, c = marks["t"], marks["calls"]
        kid = f"{key}#{p}"
        pkg = package_of(fn)
        self.spans.append({"name": key, "id": kid, "parent": f"pass#{p}",
                           "start": t[0], "end": t[3]})
        phases = (("construct", 0, 1), ("plan", 1, 2), ("fetch", 2, 3))
        for name, a, b in phases:
            self.spans.append({"name": name, "id": f"{kid}/{name}",
                               "parent": kid, "start": t[a], "end": t[b]})
        wall = t[3] - t[0]
        covered = sum(t[b] - t[a] for _, a, b in phases)
        self.coverage.append(covered / wall if wall > 0 else 1.0)
        tot = self.totals
        tot[f"{pkg}.construct_s"] += t[1] - t[0]
        tot[f"{pkg}.py4j_calls"] += c[1] - c[0]
        tot["catalyst.plan_s"] += t[2] - t[1]
        tot["catalyst.py4j_calls"] += c[2] - c[1]
        tot["arrow.fetch_s"] += t[3] - t[2]
        tot["arrow.py4j_calls"] += c[3] - c[2]
        rows = len(pdf) if pdf is not None else 0
        tot["arrow.result_rows"] += rows
        if pdf is not None:
            tot["arrow.result_mb"] += float(pdf.memory_usage(index=False).sum()) / MB
        jobs = self._jobs(group, kid, t, pkg)
        last_done = max((j["end"] for j in jobs), default=t[2])
        tot["arrow.tail_s"] += max(0.0, t[3] - max(last_done, t[2]))
        tot["executor.idle_s"] += max(0.0, wall - _union(
            [(max(j["start"], t[0]), min(j["end"], t[3])) for j in jobs]))
        if df is not None:
            self._walk_plan(df, rows)
        self._rss()

    def _json(self, obj) -> dict:
        return json.loads(self.mapper.writeValueAsString(obj))

    def _jobs(self, group: str, kid: str, t, pkg: str) -> list[dict]:
        tot = self.totals
        out = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            try:
                job = self._json(self.store.job(jid))
            except Exception:  # noqa: BLE001 - evicted from the store
                continue
            start = (job.get("submissionTime") or 0) / 1e3
            end = (job.get("completionTime") or 0) / 1e3 or start
            if start < t[1]:
                parent = "construct"
                tot[f"{pkg}.eager_jobs"] += 1
                tot[f"{pkg}.eager_job_s"] += end - start
            elif start < t[2]:
                parent = "plan"
            else:
                parent = "fetch"
            span = {"name": f"job {jid}", "id": f"{kid}/job{jid}",
                    "parent": f"{kid}/{parent}", "start": start, "end": end}
            self.spans.append(span)
            out.append(span)
            tot["executor.jobs"] += 1
            for sid in job.get("stageIds", []):
                self._stage(sid, span["id"])
        return out

    def _stage(self, sid: int, parent: str) -> None:
        try:
            st = self._json(self.store.lastStageAttempt(sid))
        except Exception:  # noqa: BLE001 - evicted or never attempted
            return
        if st.get("status") == "SKIPPED" or not st.get("submissionTime"):
            return
        tot = self.totals
        start = st["submissionTime"] / 1e3
        end = (st.get("completionTime") or st["submissionTime"]) / 1e3
        self.spans.append({"name": f"stage {sid}", "id": f"{parent}/stage{sid}",
                           "parent": parent, "start": start, "end": end})
        tot["executor.stages"] += 1
        tot["executor.tasks"] += st.get("numTasks", 0)
        tot["executor.failed_tasks"] += st.get("numFailedTasks", 0)
        tot["executor.task_s"] += st.get("executorRunTime", 0) / 1e3
        tot["executor.cpu_s"] += st.get("executorCpuTime", 0) / 1e9
        tot["executor.gc_s"] += st.get("jvmGcTime", 0) / 1e3
        tot["executor.shuffle_write_mb"] += st.get("shuffleWriteBytes", 0) / MB
        tot["executor.shuffle_read_mb"] += st.get("shuffleReadBytes", 0) / MB
        tot["executor.spill_mb"] += (st.get("memoryBytesSpilled", 0)
                                     + st.get("diskBytesSpilled", 0)) / MB
        tot["executor.input_mb"] += st.get("inputBytes", 0) / MB
        tot["executor.output_mb"] += st.get("outputBytes", 0) / MB
        self.peaks["executor.peak_exec_mem_mb"] = max(
            self.peaks["executor.peak_exec_mem_mb"],
            st.get("peakExecutionMemory", 0) / MB)

    def _walk_plan(self, df, result_rows: int) -> None:
        tot = self.totals
        out_rows = 0
        stack = [df._jdf.queryExecution().executedPlan()]
        while stack:
            node = stack.pop()
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                stack.append(node.executedPlan())
                continue
            if cls.endswith("QueryStageExec"):
                stack.append(node.plan())
                continue
            m = {name: int(v) for name, v in _SQLMETRIC.findall(
                node.metrics().toString())}
            out_rows += m.get("number of output rows", 0)
            if cls in ("ShuffleExchangeExec", "BroadcastExchangeExec"):
                tot["catalyst.exchanges"] += 1
            if "Scan" in cls:
                tot["sources.scan_rows"] += m.get("number of output rows", 0)
                tot["sources.scan_s"] += m.get("scan time", 0) / 1e3
                tot["sources.files"] += m.get("number of files read", 0)
            tot["operators.agg_s"] += m.get("time in aggregation build", 0) / 1e3
            tot["operators.sort_s"] += m.get("sort time", 0) / 1e3
            tot["operators.join_build_s"] += (
                m.get("time to build hash map", 0) + m.get("time to build", 0)
            ) / 1e3
            self.peaks["operators.peak_mem_mb"] = max(
                self.peaks["operators.peak_mem_mb"], m.get("peak memory", 0) / MB)
            if any(s in cls for s in _PYTHON_NODES):
                tot["functions.python_nodes"] += 1
                tot["functions.python_mb"] += (
                    m.get("data sent to Python workers", 0)
                    + m.get("data returned from Python workers", 0)) / MB
            children = node.children()
            for i in range(children.size()):
                stack.append(children.apply(i))
        tot["_plan_output_rows"] += out_rows
        tot["_result_rows_planned"] += max(result_rows, 1)

    def _rss(self) -> None:
        try:
            with open(f"/proc/{self.jvm_pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        self.peaks["jvm.peak_rss_mb"] = int(line.split()[1]) / 1024
        except OSError:
            pass

    # -- results ---------------------------------------------------------
    def metrics(self, measured: dict, overhead_s: float, leftovers: int,
                traced_wall_s: float) -> dict[str, float]:
        """Per-pass figures of the traced pass, plus ``measured`` (set-up and
        untraced-pass figures the runner took)."""
        n = max(self.traced_passes, 1)
        out: dict[str, float] = {}
        for name in metric_names():
            if name in self.peaks:
                out[name] = self.peaks[name]
            elif name in self.totals:
                out[name] = self.totals[name] / n
            else:
                out[name] = 0.0
        out.update(measured)
        out["executor.busy_frac"] = out["executor.task_s"] / max(
            traced_wall_s * self.cores, 1e-9)
        out["operators.rows_per_result"] = (
            self.totals["_plan_output_rows"] / max(self.totals["_result_rows_planned"], 1))
        out["trace.overhead_s"] = overhead_s
        out["trace.span_coverage_min"] = min(self.coverage, default=1.0)
        out["trace.leftover_files"] = leftovers
        return out

    def self_times(self) -> dict[str, float]:
        """Self time per span kind: duration minus the union of its
        children's intervals, summed over spans of the same kind."""
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"]:
                kids[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            kind = s["name"].split(" ")[0] if " " in s["name"] else (
                s["name"] if s["name"] in ("construct", "plan", "fetch") else "key")
            clipped = [(max(a, s["start"]), min(b, s["end"])) for a, b in kids[s["id"]]]
            out[kind] += max(0.0, (s["end"] - s["start"]) - _union(clipped))
        return dict(out)

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "self_time_s": self.self_times(),
                       "spans": self.spans}, f)


def _union(intervals) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
