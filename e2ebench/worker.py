"""One benchmark run, inside the environment ``run.py`` pins.

Usage (from ``run.py``): ``python3 worker.py <run_dir>``. The run dir
holds ``config.json``, the generated tables under ``data/`` and the
DuckDB oracle results in ``oracle.pkl``. The run starts the engine,
registers the catalog, makes the warm-up passes, then times whole
passes over the workload's ordered call list and checks every call
against the oracle. It prints ``# <name> <value>`` report lines and
writes ``result.json``.
"""

from __future__ import annotations

import json
import math
import os
import pickle
import statistics
import sys
import threading
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import workloads  # noqa: E402  (puts the repo root on sys.path)
from tracing import NullTracer, Tracer, instrument  # noqa: E402

#: per-layer metrics that are summed over one pass of calls
PASS_SUMS = (
    "dialect.validate_s", "build.s", "build.jobs", "build.py_cpu_s",
    "catalyst.parse_s", "catalyst.analysis_s", "catalyst.optimization_s",
    "catalyst.planning_s", "plans.exchanges", "plans.broadcast_joins",
    "plans.sort_merge_joins", "plans.python_evals", "exec.s", "exec.jobs",
    "exec.stages", "exec.tasks", "exec.cpu_s", "exec.run_s", "exec.gc_s",
    "exec.input_bytes", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
    "exec.spill_bytes", "result.rows", "stream.batches", "stream.input_rows",
    "stream.add_batch_s", "stream.planning_s", "stream.wal_commit_s",
    "stream.commit_offsets_s", "stream.latest_offset_s", "stream.get_batch_s",
    "stream.state_rows", "stream.state_mem_bytes", "trace.bookkeeping_s",
)
SPAN_METRIC = {
    "dialect.validate": "dialect.validate_s",
    "build": "build.s",
    "catalyst.parse": "catalyst.parse_s",
    "catalyst.analysis": "catalyst.analysis_s",
    "catalyst.optimization": "catalyst.optimization_s",
    "catalyst.planning": "catalyst.planning_s",
    "exec": "exec.s",
    "stream.run_operator": "exec.s",
}
PROGRESS_DURATIONS = {
    "addBatch": "stream.add_batch_s",
    "queryPlanning": "stream.planning_s",
    "walCommit": "stream.wal_commit_s",
    "commitOffsets": "stream.commit_offsets_s",
    "latestOffset": "stream.latest_offset_s",
    "getBatch": "stream.get_batch_s",
}


def report(name: str, value) -> None:
    print(f"# {name} {value}", flush=True)


def proc_stat_cpu() -> list[int]:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:9]]


def cpu_s(pid: int) -> float:
    """User plus system CPU seconds of process ``pid`` so far."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def to_pandas(df, rows):
    """The pandas frame ``df.toPandas()`` would give without Arrow,
    built from rows already collected."""
    import pandas as pd
    from pyspark.sql.pandas.types import _create_converter_to_pandas

    if rows:
        pdf = pd.DataFrame.from_records(rows, index=range(len(rows)), columns=df.columns)
    else:
        pdf = pd.DataFrame(columns=df.columns)
    if not len(pdf.columns):
        return pdf
    timezone = df.sparkSession.conf.get("spark.sql.session.timeZone")
    return pd.concat(
        [
            _create_converter_to_pandas(
                field.dataType,
                field.nullable,
                timezone=timezone,
                struct_in_pandas="row",
                error_on_duplicated_field_names=False,
                timestamp_utc_localized=False,
            )(series)
            for (_, series), field in zip(pdf.items(), df.schema.fields)
        ],
        axis="columns",
    )


def make_progress_log():
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        """Every streaming query's name, run id and progress events."""

        def __init__(self):
            self.cond = threading.Condition()
            self.queries: list[dict] = []
            self.by_run: dict[str, dict] = {}

        def onQueryStarted(self, event):
            with self.cond:
                q = {"run_id": str(event.runId), "name": event.name,
                     "progress": [], "done": False}
                self.queries.append(q)
                self.by_run[q["run_id"]] = q
                self.cond.notify_all()

        def onQueryProgress(self, event):
            progress = json.loads(event.progress.json)
            with self.cond:
                self.by_run[progress["runId"]]["progress"].append(progress)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.cond:
                self.by_run[str(event.runId)]["done"] = True
                self.cond.notify_all()

        def since(self, mark: int, timeout: float = 60.0) -> list[dict]:
            """The queries started after the first ``mark``, once the
            listener has seen each of them terminate."""
            def settled():
                new = self.queries[mark:]
                return new and all(q["done"] for q in new)

            with self.cond:
                if not self.cond.wait_for(settled, timeout):
                    raise TimeoutError("streaming progress events did not arrive")
                return list(self.queries[mark:])

    return ProgressLog()


class Run:
    def __init__(self, run_dir: str):
        with open(os.path.join(run_dir, "config.json")) as f:
            self.cfg = json.load(f)
        with open(os.path.join(run_dir, "oracle.pkl"), "rb") as f:
            self.oracle = pickle.load(f)
        self.data_dir = os.path.join(run_dir, "data")
        self.workload = workloads.get(self.cfg["workload"])
        self.calls: list[dict] = []
        self.next_call = 0

    # -- one call ---------------------------------------------------------

    def batch_call(self, name: str, fn) -> dict:
        spark, tracer = self.spark, self.tracer
        cid = self.next_call
        rec = {"call": cid, "name": name}
        with tracer.span("call", call=cid):
            tracer.job_group(f"c{cid}.build")
            cpu0 = time.process_time()
            with tracer.span("build") as build:
                t0 = time.perf_counter()
                df = fn(spark, self.data_dir)
            rec["build.py_cpu_s"] = time.process_time() - cpu0
            tracer.job_group(f"c{cid}.exec")
            with tracer.span("exec") as exec_:
                rows = df.collect()
                t2 = time.perf_counter()
        rec["latencies"] = [t2 - t0]
        rec["wall_s"] = t2 - t0
        rec["result.rows"] = len(rows)
        if tracer.enabled:
            tracer.job_group("bench")
            b0 = time.perf_counter()
            from keenwa_spark.plans import summarize

            tracer.add_catalyst_spans(df, build, exec_)
            rec["build.jobs"] = tracer.exec_counters(f"c{cid}.build")["jobs"]
            for k, v in tracer.exec_counters(f"c{cid}.exec").items():
                rec[f"exec.{k}"] = v
            plan = summarize(df)
            rec["plans.exchanges"] = plan.exchanges
            rec["plans.broadcast_joins"] = plan.broadcast_joins
            rec["plans.sort_merge_joins"] = plan.sort_merge_joins
            rec["plans.python_evals"] = plan.python_evals
            rec["trace.bookkeeping_s"] = time.perf_counter() - b0
        rec["problems"] = self.check(name, df, rows)
        return rec

    def stream_call(self, name: str) -> dict:
        from keenwa_spark.streaming.microbench import check_bound, run_operator

        spark, tracer = self.spark, self.tracer
        cid = self.next_call
        rec = {"call": cid, "name": name}
        mark = len(self.progress.queries)
        with tracer.span("call", call=cid):
            with tracer.span("stream.run_operator"):
                t0 = time.perf_counter()
                rec["operator"] = run_operator(
                    spark, name, self.data_dir, workloads.STREAM_CHUNKS
                )
                t1 = time.perf_counter()
        rec["wall_s"] = t1 - t0
        queries = self.progress.since(mark)
        fed = [p for q in queries for p in q["progress"] if p.get("numInputRows", 0) > 0]
        rec["latencies"] = [p["durationMs"]["triggerExecution"] / 1e3 for p in fed]
        rec["stream.batches"] = len(fed)
        rec["stream.input_rows"] = sum(p["numInputRows"] for p in fed)
        for key, metric in PROGRESS_DURATIONS.items():
            rec[metric] = sum(p["durationMs"].get(key, 0) for p in fed) / 1e3
        rec["stream.state_rows"] = rec["stream.state_mem_bytes"] = 0
        for q in queries:
            states = [p["stateOperators"] for p in q["progress"] if p.get("stateOperators")]
            if states:
                rec["stream.state_rows"] += sum(op["numRowsTotal"] for op in states[-1])
                rec["stream.state_mem_bytes"] += sum(op["memoryUsedBytes"] for op in states[-1])
        if tracer.enabled:
            b0 = time.perf_counter()
            for q in queries:
                # a streaming query runs its jobs under its run id
                for k, v in tracer.exec_counters(q["run_id"]).items():
                    rec[f"exec.{k}"] = rec.get(f"exec.{k}", 0) + v
            rec["trace.bookkeeping_s"] = time.perf_counter() - b0
        sink_table = queries[0]["name"]
        sink = workloads.stream_sink(spark, name, sink_table)
        rows = sink.collect()
        rec["result.rows"] = len(rows)
        rec["problems"] = self.check(name, sink, rows)
        ok, limit = check_bound(rec["operator"], self.oracle["state_bounds"])
        if not ok:
            rec["problems"].append(f"state exceeds its bound {limit}: {rec['operator']}")
        if sink_table:
            spark.catalog.dropTempView(sink_table)
        return rec

    def check(self, name: str, df, rows) -> list[str]:
        from tools.check_correctness import compare

        try:
            return compare(name, to_pandas(df, rows), self.oracle[name])
        except Exception as e:  # a broken comparison is a failed call
            return [f"check raised {type(e).__name__}: {e}"]

    def one_pass(self, timed: bool) -> None:
        from keenwa_spark.queries import load_all

        registry = load_all()
        cpu0 = cpu_s(self.jvm_pid) + cpu_s(os.getpid())
        for name in self.workload.calls:
            try:
                if self.workload.kind == "batch":
                    rec = self.batch_call(name, registry[name].fn)
                else:
                    rec = self.stream_call(name)
            except Exception:
                traceback.print_exc()
                rec = {"call": self.next_call, "name": name,
                       "problems": ["raised; see the traceback"]}
            rec["timed"] = timed
            rec["pass"] = self.pass_no
            if rec["problems"]:
                report("FAILED", f"{name}: {' | '.join(rec['problems'])}")
            self.calls.append(rec)
            self.next_call += 1
        self.pass_cpu_s.append(cpu_s(self.jvm_pid) + cpu_s(os.getpid()) - cpu0)
        self.pass_no += 1

    # -- the run ----------------------------------------------------------

    def run(self) -> dict:
        cfg, wl = self.cfg, self.workload
        self.tracer = Tracer(None) if cfg["trace"] else NullTracer()
        self.pass_no = 0
        setup = {}

        from keenwa_spark.queries import ensure_views
        from keenwa_spark.session import get_spark

        if self.tracer.enabled:
            instrument(self.tracer)
        t = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_spark("e2ebench")
        setup["session.start_s"] = time.perf_counter() - t
        self.jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        self.pass_cpu_s = []
        if self.tracer.enabled:
            self.tracer.sc = self.spark.sparkContext
        if wl.kind == "stream":
            self.progress = make_progress_log()
            self.spark.streams.addListener(self.progress)
        t = time.perf_counter()
        ensure_views(self.spark, self.data_dir)
        setup["catalog.register_s"] = time.perf_counter() - t
        t = time.perf_counter()
        with self.tracer.span("setup.warmup"):
            for _ in range(cfg["warmup"]):
                self.one_pass(timed=False)
        setup["setup.warmup_s"] = time.perf_counter() - t
        setup["setup.warmup_passes"] = cfg["warmup"]
        setup_s = time.monotonic() - cfg["t0"]

        stat0 = proc_stat_cpu()
        for _ in range(cfg["passes"]):
            self.one_pass(timed=True)
        stat1 = proc_stat_cpu()
        delta = [b - a for a, b in zip(stat0, stat1)]
        steal = delta[7] / max(1, sum(delta))

        rss = peak_rss_mb(self.jvm_pid) + peak_rss_mb(os.getpid())

        timed = [c for c in self.calls if c["timed"]]
        latencies = [x for c in timed for x in c.get("latencies", ())]
        pass_walls = {}
        for c in timed:
            pass_walls[c["pass"]] = pass_walls.get(c["pass"], 0.0) + c.get("wall_s", 0.0)
        by_name: dict[str, list[float]] = {}
        for c in timed:
            by_name.setdefault(c["name"], []).extend(c.get("latencies", ()))
        geomean = math.exp(
            statistics.fmean(math.log(statistics.median(v)) for v in by_name.values())
        )
        e2e = {
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (rss, "MB"),
            "calls_per_s": (
                len(latencies) / len(pass_walls) / statistics.median(pass_walls.values()),
                "1/s",
            ),
            "latency_geomean_s": (geomean, "s"),
        }
        for p in range(self.pass_no):
            wall_p = sum(c.get("wall_s", 0.0) for c in self.calls if c["pass"] == p)
            report(f"pass_s.{p}", f"{wall_p:.4f} cpu_s {self.pass_cpu_s[p]:.4f}")
        for name, v in by_name.items():
            report(f"call_p50_s.{name}", f"{statistics.median(v):.4f}")
        report("latency_samples", len(latencies))
        report("latency_pooled_p50_s", round(statistics.median(latencies), 4))
        report("timed_passes", cfg["passes"])
        report("host.steal_frac", round(steal, 5))
        for k, v in setup.items():
            report(k, round(v, 4))

        failed = sum(1 for c in self.calls if c["problems"])
        result = {"correct": failed == 0, "attempted": len(self.calls), "failed": failed}
        if self.tracer.enabled:
            metrics = self.layer_metrics(setup, steal)
            metrics["traced.latency_geomean_s"] = (e2e["latency_geomean_s"][0], "s")
            metrics["traced.calls_per_s"] = (e2e["calls_per_s"][0], "1/s")
            self.report_calls()
            self.tracer.write(cfg["trace_out"])
        else:
            metrics = e2e
        result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        return result

    def layer_metrics(self, setup: dict, steal: float) -> dict:
        """Per-layer metrics: each pass-summed metric is the median over
        the timed passes of its sum over one pass."""
        self_time = self.tracer.self_times()
        by_call: dict[int, dict] = {c["call"]: c for c in self.calls}
        for s in self.tracer.spans:
            metric = SPAN_METRIC.get(s["name"])
            if metric and s["call"] in by_call:
                c = by_call[s["call"]]
                c[metric] = c.get(metric, 0.0) + self_time[s["id"]]
        per_pass: dict[int, dict] = {}
        for c in self.calls:
            if c["timed"]:
                sums = per_pass.setdefault(c["pass"], dict.fromkeys(PASS_SUMS, 0))
                for k in PASS_SUMS:
                    sums[k] += c.get(k, 0)
        med = {k: statistics.median(p[k] for p in per_pass.values()) for k in PASS_SUMS}
        slots = int(os.environ["SPARK_GRAFT_CPUS"])
        util = statistics.median(
            p["exec.cpu_s"] / (p["exec.s"] * slots) if p["exec.s"] else 0.0
            for p in per_pass.values()
        )
        out = {k: (v, "s") for k, v in setup.items()}
        out["setup.warmup_passes"] = (setup["setup.warmup_passes"], "count")
        for k in PASS_SUMS:
            unit = "s" if k.endswith("_s") or k in ("build.s", "exec.s") else (
                "B" if k.endswith("_bytes") else "count")
            out[k] = (med[k], unit)
        out["exec.cpu_util"] = (util, "ratio")
        out["host.steal_frac"] = (steal, "ratio")
        return out

    def report_calls(self) -> None:
        first = min(c["pass"] for c in self.calls if c["timed"])
        for c in self.calls:
            if c["pass"] == first:
                report(
                    f"call.{c['name']}",
                    f"wall_s={c.get('wall_s', 0):.4f} build.jobs={c.get('build.jobs', 0)} "
                    f"exec.jobs={c.get('exec.jobs', 0)} exec.cpu_s={c.get('exec.cpu_s', 0):.3f} "
                    f"rows={c.get('result.rows', 0)}",
                )


def stop_engine() -> None:
    """Stop Spark and wait for the JVM the session launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main() -> int:
    run_dir = sys.argv[1]
    try:
        result = Run(run_dir).run()
    finally:
        stop_engine()
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
