"""One benchmark run, in a fresh process that ``run.py`` starts.

Order of work:

1. Set-up (``setup_s``): import the engine, start the session, load the
   catalog and run a trivial warmup.
2. Cold pass (``cold_pass_s``): every query of the workload once, each
   built and its result collected, as a one-shot job would. The collected
   results are then checked against the DuckDB oracles, outside the
   timed region.
3. Warm passes: the list again to the noop sink, pass after pass, until
   ``--seconds`` have been spent (at least three passes; the first is a
   warm-up and is not reported). With ``--trace 1``
   the warm passes alternate untraced and traced; the traced ones carry
   the wrappers of ``layers.WRAPPERS`` and give the per-layer metrics.

A pass's time is the sum of its queries' latencies (build plus execute);
cache clearing and trace bookkeeping between queries are not in it.
Prints one JSON object as the last line of stdout.
"""

from __future__ import annotations

import argparse
import faulthandler
import json
import os
import sys
import time
from collections import defaultdict
from statistics import median

from perfbench import layers
from perfbench.workloads import WORKLOADS

# The JVM keeps warming over many passes at these input sizes. The first
# warm pass is its steepest stretch and is not reported. At least two
# passes follow it, more while ``--seconds`` are not yet spent.
WARMUP_PASSES = 1
MIN_WARM_PASSES = WARMUP_PASSES + 2
# Status-store retention: the defaults (1000 jobs/stages/executions) are
# exceeded within one run of a driver-loop query and silently drop metrics.
RETAIN = "1000000"


def _proc_field(pid: int, path: str, key: str) -> int:
    with open(f"/proc/{pid}/{path}") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


class Run:
    def __init__(self, args) -> None:
        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.queries = self.workload["queries"]
        self.tracer = layers.Tracer()
        self.attempted = 0
        self.failures: list[str] = []
        self.results: dict[str, object] = {}  # cold-pass frames awaiting the check

    # -- set-up ------------------------------------------------------------

    def setup(self) -> float:
        t0 = time.perf_counter()
        from hadoop_spark.plans import ORACLES, QUERIES, load_all
        from hadoop_spark.session import get_session

        self.spark = get_session(
            app_name="perfbench",
            extra_conf={
                "spark.ui.retainedJobs": RETAIN,
                "spark.ui.retainedStages": RETAIN,
                "spark.sql.ui.retainedExecutions": RETAIN,
                "spark.ui.showConsoleProgress": "false",
            },
        )
        load_all()
        self.spark.range(1000).selectExpr("sum(id)").collect()
        setup_s = time.perf_counter() - t0
        self.QUERIES, self.ORACLES = QUERIES, ORACLES
        self.sc = self.spark.sparkContext
        self.jvm_pid = int(self.sc._jvm.java.lang.ProcessHandle.current().pid())
        self.cores = self.sc.defaultParallelism
        return setup_s

    # -- passes ------------------------------------------------------------

    def _group(self, q: str, p: int, phase: str) -> None:
        # The group id doubles as the job and SQL-execution description.
        tag = f"{q}|{p}|{phase}"
        self.sc.setJobGroup(tag, tag)

    def run_pass(self, p: int, collect: bool, traced: bool) -> dict[str, float]:
        """Run every query once; returns {query: latency}; a query that
        raises is recorded as failed and has no latency."""
        lat: dict[str, float] = {}
        for q in self.queries:
            self.spark.catalog.clearCache()
            self.tracer.ctx = {"query": q, "pass": p}
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                with self.tracer.span("query", traced=traced) as rec:
                    self._group(q, p, "build")
                    with self.tracer.span("plans.build"):
                        df = self.QUERIES[q](self.spark, self.args.data)
                    self._group(q, p, "exec")
                    with self.tracer.span("exec"):
                        if collect:
                            self.results[q] = df.toPandas()
                        else:
                            df.write.format("noop").mode("overwrite").save()
                lat[q] = time.perf_counter() - t0
            except Exception as exc:  # noqa: BLE001 — one failing query must not end the run
                self.failures.append(f"pass {p} {q}: {type(exc).__name__}: {exc}"[:400])
            if traced:
                rec["write_mb"] = self._scratch_mb_since(rec["w0"])
        return lat

    def _scratch_mb_since(self, since: float) -> float:
        """MiB of files under the program's scratch dirs for this input
        (``.tmp/*/<input dir name>``) modified since ``since``."""
        tag = os.path.basename(self.args.data.rstrip("/"))
        base = os.path.join(os.getcwd(), ".tmp")
        total = 0
        for sub in os.listdir(base) if os.path.isdir(base) else ():
            for dirpath, _, files in os.walk(os.path.join(base, sub, tag)):
                for f in files:
                    st = os.stat(os.path.join(dirpath, f))
                    if st.st_mtime >= since:
                        total += st.st_size
        return total / 2**20

    def check(self) -> None:
        """Compare each collected cold-pass result with its oracle."""
        from perfbench.check import Oracle

        oracle = Oracle(self.args.data)
        try:
            for q in self.queries:
                if q not in self.results:
                    continue  # already counted as failed
                try:
                    why = oracle.compare(q, self.ORACLES[q], self.results[q])
                except Exception as exc:  # noqa: BLE001 — an oracle error is a failed check
                    why = f"oracle error: {type(exc).__name__}: {exc}"
                if why:
                    self.failures.append(f"check {q}: {why}"[:400])
        finally:
            oracle.close()
        self.results = {}

    # -- main --------------------------------------------------------------

    def main(self) -> dict:
        setup_s = self.setup()
        t0 = time.perf_counter()
        cold = self.run_pass(0, collect=True, traced=False)
        cold_pass_s = time.perf_counter() - t0
        print(f"perfbench: setup {setup_s:.3f}s cold pass {cold_pass_s:.3f}s " + json.dumps({q: round(t, 3) for q, t in cold.items()}), file=sys.stderr)
        t0 = time.perf_counter()
        self.check()
        print(f"perfbench: output check {time.perf_counter() - t0:.3f}s", file=sys.stderr)

        reader = layers.StatusReader(self.spark) if self.args.trace else None
        patcher = layers.Patcher()
        warm: list[dict[str, float]] = []
        times = {False: [], True: []}
        traced_passes: list[int] = []
        executions: list[dict] = []
        disk: list[float] = []
        spent = 0.0
        p = 0
        # Traced runs alternate untraced and traced passes (U, T, U, T, ...).
        while p < MIN_WARM_PASSES or spent < self.args.seconds:
            p += 1
            traced = bool(self.args.trace) and p % 2 == 0
            if traced:
                layers.install(self.tracer, patcher)
            w0 = _proc_field(self.jvm_pid, "io", "write_bytes")
            try:
                lat = self.run_pass(p, collect=False, traced=traced)
            finally:
                patcher.restore()
            pass_s = sum(lat.values())
            spent += pass_s
            print(f"perfbench: pass {p} {pass_s:.3f}s " + json.dumps({q: round(t, 3) for q, t in lat.items()}), file=sys.stderr)
            if p <= WARMUP_PASSES:
                continue
            disk.append((_proc_field(self.jvm_pid, "io", "write_bytes") - w0) / 2**20)
            warm.append(lat)
            times[traced].append(pass_s)
            if traced:
                traced_passes.append(p)
            if reader is not None:
                executions += reader.new_executions()
        peak_mb = (
            _proc_field(self.jvm_pid, "status", "VmHWM") + _proc_field(os.getpid(), "status", "VmHWM")
        ) / 1024

        if self.args.trace:
            metrics = self.layer_metrics(reader, executions, traced_passes, setup_s)
            metrics["peak_rss_mb"] = {"value": peak_mb, "unit": "MiB"}
            metrics["trace_overhead"] = {"value": median(times[True]) / median(times[False]), "unit": "ratio"}
        else:
            per_query = [median([w[q] for w in warm if q in w]) for q in self.queries if any(q in w for w in warm)]
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "cold_pass_s": {"value": cold_pass_s, "unit": "s"},
                "warm_pass_s": {"value": median(times[False]), "unit": "s"},
                "query_p50_s": {"value": median(per_query), "unit": "s"},
                "disk_write_mb": {"value": median(disk), "unit": "MiB"},
            }
        for line in self.failures:
            print(f"perfbench: FAILED {line}", file=sys.stderr)
        return {
            "correct": not self.failures,
            "attempted": self.attempted,
            "failed": len(self.failures),
            "metrics": metrics,
        }

    # -- per-layer metrics ---------------------------------------------------

    def layer_metrics(self, reader, executions, passes: list[int], setup_s: float) -> dict:
        spans = self.tracer.with_self_time()
        where = Attribution(spans, passes)
        jobs = []
        for j in reader.jobs():
            if j.get("submissionTime") is None:
                continue
            key = where.of(j.get("jobGroup"), j["submissionTime"] / 1e3)
            if key is not None:
                jobs.append((key, j))
        stages = reader.stages()
        self._add_job_spans(spans, where, jobs)
        per_query = self.per_query(spans, where, jobs, stages, executions)
        self.write_trace(spans, per_query)

        calls = defaultdict(int)
        for s in spans:
            if s.get("pass") in passes:
                calls[s["name"]] += 1
        missing = [w for w in self.workload["expect"] if calls[w] == 0]
        if missing:
            raise RuntimeError(f"traced wrappers recorded no calls: {missing}")

        def total(p: int) -> dict[str, float]:
            out: dict[str, float] = defaultdict(float)
            for (_, qp), m in per_query.items():
                if qp == p:
                    for k, v in m.items():
                        out[k] += v
            build, ex = out["plans.build_s"], out["exec.s"]
            out["plans.build_share"] = build / (build + ex) if build + ex else 0.0
            out["exec.util"] = out["exec.run_s"] / (ex * self.cores) if ex else 0.0
            return out

        totals = [total(p) for p in passes]
        out = {"session.start_s": {"value": setup_s, "unit": "s"}}
        for name, unit in LAYER_METRICS:
            if name != "session.start_s":
                out[name] = {"value": median([t[name] for t in totals]), "unit": unit}
        return out

    def _add_job_spans(self, spans: list[dict], where: Attribution, jobs) -> None:
        """One span per Spark job, parented to the build or exec span of its
        (query, pass, phase)."""
        for (q, p, phase), j in jobs:
            end = j.get("completionTime") or j["submissionTime"]
            dur = (end - j["submissionTime"]) / 1e3
            spans.append(
                {
                    "id": len(spans),
                    "parent": where.span_id(q, p, phase),
                    "name": "spark.job",
                    "query": q,
                    "pass": p,
                    "phase": phase,
                    "job_id": j["jobId"],
                    "group": j.get("jobGroup"),
                    "stages": j["stageIds"],
                    "status": j["status"],
                    "w0": j["submissionTime"] / 1e3,
                    "w1": end / 1e3,
                    "dur": dur,
                    "self": dur,
                }
            )

    def per_query(self, spans, where, jobs, stages, executions) -> dict[tuple[str, int], dict[str, float]]:
        """Layer metrics for each (query, traced pass)."""
        out: dict[tuple[str, int], dict[str, float]] = {}
        by_id = {s["id"]: s for s in spans}

        def outermost(s) -> bool:
            parent = by_id.get(s["parent"])
            while parent is not None:
                if parent["name"] == s["name"]:
                    return False
                parent = by_id.get(parent["parent"])
            return True

        for s in spans:
            if s.get("pass") not in where.passes or s["name"] == "spark.job":
                continue
            m = out.setdefault((s["query"], s["pass"]), defaultdict(float))
            name = s["name"]
            if name == "query":
                m["wall_s"] += s["dur"]
                m["sources.write.mb"] += s.get("write_mb", 0.0)
            elif name == "plans.build":
                m["plans.build_s"] += s["dur"]
            elif name == "exec":
                m["exec.s"] += s["dur"]
            elif outermost(s):
                m[f"{name}.calls"] += 1
                m[f"{name}.s"] += s["dur"]
                for flag in ("fallback", "broadcast", "spread"):
                    if s.get(flag):
                        m[f"{name}.{flag}"] += 1

        covered: dict[tuple[str, int], list] = defaultdict(list)
        for (q, p, phase), j in jobs:
            m = out[(q, p)]
            if phase == "build":
                m["plans.build_jobs"] += 1
                covered[(q, p)].append((j["submissionTime"] / 1e3, (j.get("completionTime") or j["submissionTime"]) / 1e3))
                continue
            m["exec.jobs"] += 1
            for sid in j["stageIds"]:
                for st in stages.get(sid, ()):
                    if st["status"] in ("SKIPPED", "PENDING"):
                        continue
                    m["exec.stages"] += 1
                    m["exec.tasks"] += st["numTasks"]
                    m["exec.cpu_s"] += st["executorCpuTime"] / 1e9
                    m["exec.run_s"] += st["executorRunTime"] / 1e3
                    m["exec.gc_s"] += st["jvmGcTime"] / 1e3
                    m["exec.shuffle_read_mb"] += st["shuffleReadBytes"] / 2**20
                    m["exec.shuffle_write_mb"] += st["shuffleWriteBytes"] / 2**20
                    m["exec.spill_mb"] += st["diskBytesSpilled"] / 2**20
                    m["exec.input_mb"] += st["inputBytes"] / 2**20
                    m["exec.output_mb"] += st["outputBytes"] / 2**20
        for (q, p), m in out.items():
            b = by_id[where.span_id(q, p, "build")]
            m["plans.build_driver_s"] = m["plans.build_s"] - layers.union_length(covered[(q, p)], b["w0"], b["w1"])
        for ex in executions:
            key = where.of(ex.get("description"), ex["submitted"])
            if key is not None:
                for k, v in ex["py"].items():
                    out[key[:2]][k] += v
        return out

    def write_trace(self, spans, per_query) -> None:
        path = self.args.trace_out
        os.makedirs(os.path.dirname(path), exist_ok=True)
        doc = {
            "workload": self.args.workload,
            "data": os.path.basename(self.args.data.rstrip("/")),
            "cores": self.cores,
            "spans": spans,
            "queries": [
                {"query": q, "pass": p, **dict(sorted(m.items()))} for (q, p), m in sorted(per_query.items())
            ],
        }
        with open(path, "w") as f:
            json.dump(doc, f)
        print(f"perfbench: trace written to {path}", file=sys.stderr)


class Attribution:
    """Maps a Spark job or SQL execution to the (query, pass, phase) of a
    traced pass: by the job group the worker set when it carries one, else
    (streaming micro-batches run under their own group) by the build or
    exec span that was open when it was submitted."""

    def __init__(self, spans: list[dict], passes: list[int]) -> None:
        self.passes = set(passes)
        self._ids = {}
        self._open = []
        for s in spans:
            if s.get("pass") in self.passes and s["name"] in ("plans.build", "exec"):
                phase = "build" if s["name"] == "plans.build" else "exec"
                self._ids[(s["query"], s["pass"], phase)] = s["id"]
                self._open.append((s["w0"], s["w1"], (s["query"], s["pass"], phase)))

    def span_id(self, q: str, p: int, phase: str) -> int:
        return self._ids[(q, p, phase)]

    def of(self, tag: str | None, submitted: float):
        parts = (tag or "").split("|")
        if len(parts) == 3 and parts[1].isdigit():
            key = (parts[0], int(parts[1]), parts[2])
            return key if key in self._ids else None
        for w0, w1, key in self._open:
            if w0 <= submitted <= w1:
                return key
        return None


# Per-layer metrics of a traced run, summed per traced warm pass, plus
# peak_rss_mb and trace_overhead. Layer times that can be zero on every
# run of some workload (the Python-worker times on warehouse, the wrapped
# operators' seconds, executor GC on tiny inputs) appear here as call,
# row and byte counts; they and the metrics that read zero on every
# workload (fanout_small, spill and output bytes) are in the trace file,
# per query.
LAYER_METRICS = (
    ("session.start_s", "s"),
    ("plans.build_s", "s"),
    ("plans.build_jobs", "count"),
    ("plans.build_driver_s", "s"),
    ("plans.build_share", "ratio"),
    ("operators.loop_width.calls", "count"),
    ("operators.wedge_closure.calls", "count"),
    ("operators.connected_components.calls", "count"),
    ("operators.bcast_if_small.calls", "count"),
    ("operators.bcast_if_small.broadcast", "count"),
    ("sources.shared.calls", "count"),
    ("sources.load_table.calls", "count"),
    ("sources.load_table.s", "s"),
    ("sources.write.calls", "count"),
    ("sources.write.mb", "MiB"),
    ("exec.s", "s"),
    ("exec.jobs", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("exec.cpu_s", "s"),
    ("exec.run_s", "s"),
    ("exec.util", "ratio"),
    ("exec.shuffle_read_mb", "MiB"),
    ("exec.shuffle_write_mb", "MiB"),
    ("exec.input_mb", "MiB"),
    ("py.sent_mb", "MiB"),
    ("py.returned_mb", "MiB"),
    ("py.rows_returned", "count"),
)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--data", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--trace-out", default="")
    ap.add_argument("--deadline", type=float, default=0.0, help="seconds until the parent stops this run")
    args = ap.parse_args(argv)
    if args.deadline > 0:
        # A run the parent has to kill leaves the Python stacks behind.
        faulthandler.dump_traceback_later(args.deadline, exit=False)
    run = Run(args)
    try:
        result = run.main()
    finally:
        spark = getattr(run, "spark", None)
        if spark is not None:
            spark.stop()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
