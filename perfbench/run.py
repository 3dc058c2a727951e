"""The engine's benchmark: one workload, one client, one process.

    python3 perfbench/run.py --workload catalyst_batch --seed 1 --seconds 3 --trace 0

Runs from the root of a source checkout. Workloads (``perfbench/jobs.py``):

- ``catalyst_batch``: JVM-only registered queries (TPC-H shapes, joins,
  dedup, text filters);
- ``beam_dofn``: Pipeline-API jobs with Python user functions over a
  Zipf corpus and a Zipf-keyed KV file (traced runs add a replayed
  stream).

A run generates its inputs from ``--seed`` in a subprocess, starts the
engine (``setup_s``), makes one cold pass over the job mix in a
seed-permuted order (``first_pass_s``), then warm passes until
``--seconds`` have elapsed and at least ``WARM_PASSES`` were made; the
warm metrics come from the last ``WARM_PASSES``, so every run has the
same number of samples. Each pass re-plans every job. Every job's
output is checked against a DuckDB oracle outside the timed region.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` prints the
per-layer metrics instead: warm passes alternate untraced and traced so
the tracing overhead is measured, spans go to
``perfbench/.out/trace-<workload>-s<seed>.json``, and on
``catalyst_batch`` a final pass on ``local[1]`` gives the single-threaded
baseline.

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
OUT_DIR = os.path.join(BENCH_DIR, ".out")
WORKLOADS = ("catalyst_batch", "beam_dofn")
DRIVER_MEM = "2g"
# Warm passes the metrics use: 2 passes of a 5-job mix give 10 samples.
# A run restarts the JVM and repays the cold pass, so warm passes are
# what a run can least afford. Traced runs trace half of them.
WARM_PASSES = 2
# job_tail_s and microbatch_tail_s: this quantile of the warm samples.
TAIL_Q = 0.9
# Workloads whose traced runs end with a local[1] pass. On beam_dofn that
# pass costs ~10 s (Python workers restart on one core), a fifth of a
# traced run, which the time allowed for the runs of a benchmark check
# does not cover.
LOCAL1_WORKLOADS = ("catalyst_batch",)

END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "rows_per_s": "rows/s",
    "job_p50_s": "s",
    "job_tail_s": "s",
    "peak_rss_mb": "MB",
}
QUERY_MODULES = ("relational", "joins", "tpch", "dedup", "text", "streaming")
SELF_LAYERS = ("queries", "plans.dag", "operators.pipeline", "operators.metrics",
               "sources.writers", "streaming.runner")
PER_LAYER = {
    "session.import_s": "s",
    "session.get_spark_s": "s",
    "session.first_action_s": "s",
    "queries.plan_s": "s",
    "queries.action_s": "s",
    **{f"queries.{m}.action_s": "s" for m in QUERY_MODULES},
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.slot_busy_share": "ratio",
    "spark.parallel_efficiency": "ratio",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.input_rows": "count",
    "spark.input_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.task_skew": "ratio",
    "plans.dag.lower_s": "s",
    "plans.dag.cached_bytes": "bytes",
    "operators.pipeline.python_cpu_s": "s",
    "operators.pipeline.python_bytes_sent": "bytes",
    "operators.pipeline.python_bytes_received": "bytes",
    "operators.pipeline.side_input_s": "s",
    "operators.combiners.combine_fn_s": "s",
    "operators.metrics.query_s": "s",
    "sources.writers.write_s": "s",
    "streaming.runner.run_s": "s",
    "streaming.batches": "count",
    "streaming.start_stop_s": "s",
    "streaming.query_planning_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.commit_ms": "ms",
    "streaming.offset_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "streaming.state_commit_ms": "ms",
    "streaming.late_rows_dropped": "count",
    "microbatch_p50_s": "s",
    "microbatch_tail_s": "s",
    "failed_ratio": "ratio",
    "trace.overhead_rows_per_s": "rows/s",
    "trace.overhead_job_p50_s": "s",
    "baseline.local1_pass_s": "s",
    **{f"self_s.{layer}": "s" for layer in SELF_LAYERS},
}
# Span name → per-layer metric summing its durations over a pass.
SPAN_METRICS = {
    "queries.plan": "queries.plan_s",
    "queries.action": "queries.action_s",
    "plans.dag.lower": "plans.dag.lower_s",
    "operators.pipeline.side_input": "operators.pipeline.side_input_s",
    "operators.metrics.query": "operators.metrics.query_s",
    "sources.writers.write": "sources.writers.write_s",
    "streaming.runner.run": "streaming.runner.run_s",
}
# Per-execution counters summed over a pass.
SUMMED = ("spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
          "spark.task_run_s", "spark.task_cpu_s", "spark.gc_s", "spark.input_rows",
          "spark.input_bytes", "spark.output_bytes", "spark.shuffle_write_bytes",
          "spark.shuffle_read_bytes", "spark.spill_bytes", "operators.pipeline.python_cpu_s",
          "operators.pipeline.python_bytes_sent", "operators.pipeline.python_bytes_received")


def quantile(xs: list[float], q: float) -> float:
    """Linear-interpolated quantile of ``xs`` (0 when empty)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def spin_calibration() -> float:
    """Seconds for a fixed single-threaded Python loop (host speed stamp)."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    return time.perf_counter() - t0


def cpu_ticks() -> list[int]:
    """Host-wide CPU ticks (user, nice, system, idle, iowait, irq, softirq, steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


class Runner:
    """Runs one workload's passes and keeps every execution's record."""

    def __init__(self, args, run_dir: str) -> None:
        from perfbench.probes import Tracer

        self.args = args
        self.run_dir = run_dir
        self.trace = bool(args.trace)
        self.jobs = []
        self.rng = random.Random(args.seed)
        self.tracer = Tracer(False)
        self.records: list[dict] = []
        self.passes: list[dict] = []
        self.setup: dict[str, float] = {}
        self.spark_probe = self.stream_probe = self.sampler = None
        self.cached_bytes = 0

    # --- setup -------------------------------------------------------
    def start_engine(self) -> None:
        """Import the package, start the session, run one trivial action."""
        t0 = time.perf_counter()
        import beam_pyspark_runner_spark.queries  # noqa: F401  (loads the query registry)
        from beam_pyspark_runner_spark.session import get_spark

        t1 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.args.workload}",
                               extra_conf=self.spark_conf())
        t2 = time.perf_counter()
        self.spark.range(1).collect()
        t3 = time.perf_counter()
        self.setup = {"session.import_s": t1 - t0, "session.get_spark_s": t2 - t1,
                      "session.first_action_s": t3 - t2, "setup_s": t3 - T_START}

    def spark_conf(self) -> dict[str, str]:
        tmp = os.path.join(self.run_dir, "tmp")
        return {
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            # The serial collector grows the heap from the live set after a
            # collection; G1 grows it from recent pause times, and the JVM's
            # peak RSS ranged 1.1-1.7 GB over five seeds of one workload.
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:+UseSerialGC",
            "spark.ui.showConsoleProgress": "false",
        }

    def prepare_inputs(self) -> None:
        cmd = [sys.executable, os.path.join(BENCH_DIR, "prepare.py"),
               "--workload", self.args.workload, "--seed", str(self.args.seed),
               "--dir", self.run_dir]
        if self.args.scale:
            cmd += ["--scale", self.args.scale]
        subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL)
        with open(os.path.join(self.run_dir, "prepared.json")) as fh:
            self.prepared = json.load(fh)

    def make_ctx(self):
        from perfbench.jobs import Ctx, workload_jobs

        self.jobs = workload_jobs(self.args.workload, self.trace)
        self.ctx = Ctx(
            spark=self.spark,
            tracer=self.tracer,
            tables_dir=os.path.join(self.run_dir, "tables"),
            beam_dir=os.path.join(self.run_dir, "beam"),
            sink_dir=os.path.join(self.run_dir, "sinks"),
            on_cached=self._on_cached,
        )

    def _on_cached(self) -> None:
        if self.tracer.enabled and self.spark_probe is not None:
            self.cached_bytes = max(self.cached_bytes, self.spark_probe.storage_bytes())

    def start_probes(self) -> None:
        from perfbench.probes import ProcSampler, SparkProbe, make_stream_probe

        self.jvm_pid = int(self.spark._jvm.ProcessHandle.current().pid())
        self.sampler = ProcSampler(self.jvm_pid)
        self.sampler.start()
        if self.trace:
            self.spark_probe = SparkProbe(self.spark)
            self.stream_probe = make_stream_probe(self.spark)

    def stop(self) -> None:
        """Stop the sampler, the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.sampler is not None:
            self.sampler.stop()
        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)

    # --- passes ------------------------------------------------------
    def declared_rows(self, job) -> int:
        return sum(self.prepared["rows"][name] for name in job.inputs)

    def run_job(self, job, pass_no: int, traced: bool) -> dict:
        group = f"{self.args.workload}:{job.name}:{pass_no}"
        sc = self.spark.sparkContext
        self.tracer.enabled = traced
        self.tracer.group = group
        if traced:
            sc.setJobGroup(group, job.name)
            cpu0 = self.sampler.python_cpu_s()
        run_ids: list[str] = []
        if self.stream_probe is not None:
            self.stream_probe.take()
        error = None
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"{job.layer}.job", job=job.name, pass_no=pass_no):
                res = job.execute(self.ctx)
        except Exception as e:  # noqa: BLE001 — a failed job is counted, the run goes on
            error = f"{type(e).__name__}: {str(e)[:300]}"
            traceback.print_exc(file=sys.stderr)
        latency = time.perf_counter() - t0
        if error is None:
            error = self.verify(job, res)
        try:
            job.cleanup(self.ctx)
        except Exception:  # noqa: BLE001
            traceback.print_exc(file=sys.stderr)
        rec = {"job": job.name, "module": job.module, "pass": pass_no, "traced": traced,
               "latency_s": latency, "error": error}
        if self.stream_probe is not None:
            from beam_pyspark_runner_spark.session import drain_listener_bus

            drain_listener_bus(self.spark)
            run_ids, rec["batches"] = self.stream_probe.take()
        if traced:
            rec["operators.pipeline.python_cpu_s"] = self.sampler.python_cpu_s() - cpu0
            rec.update(self.spark_probe.job_metrics([group] + run_ids))
            sc.setLocalProperty("spark.jobGroup.id", None)
        if error:
            print(f"[perfbench] {job.name} pass {pass_no}: {error}", file=sys.stderr)
        self.records.append(rec)
        return rec

    def run_pass(self, pass_no: int, traced: bool) -> dict:
        order = list(self.jobs)
        self.rng.shuffle(order)
        span_start = len(self.tracer.spans)
        self.cached_bytes = 0
        recs = [self.run_job(job, pass_no, traced) for job in order]
        p = {
            "pass": pass_no,
            "traced": traced,
            "wall_s": sum(r["latency_s"] for r in recs),
            "rows": sum(self.declared_rows(j) for j in self.jobs),
            "spans": (span_start, len(self.tracer.spans)),
            "cached_bytes": self.cached_bytes,
        }
        self.passes.append(p)
        return p

    def run_passes(self) -> None:
        """A cold pass, then warm passes until ``--seconds`` have elapsed
        and at least ``WARM_PASSES`` were made. Traced runs alternate
        untraced and traced passes."""
        self.run_pass(0, traced=self.trace)
        start, k = time.perf_counter(), 1
        while k <= WARM_PASSES or time.perf_counter() - start < self.args.seconds:
            self.run_pass(k, traced=self.trace and k % 2 == 0)
            k += 1

    def verify(self, job, res) -> str | None:
        """Untimed: the job's observed output against its oracle digest."""
        from perfbench.jobs import verify

        try:
            return verify(job.observe(self.ctx, res), self.prepared["oracles"][job.name])
        except Exception as e:  # noqa: BLE001 — an unreadable output is a mismatch
            traceback.print_exc(file=sys.stderr)
            return f"{type(e).__name__}: {str(e)[:300]}"

    def attribute_python_bytes(self) -> None:
        """Add each traced execution's Python worker traffic to its record."""
        if self.spark_probe is None:
            return
        by_job = self.spark_probe.python_bytes()
        for r in self.records:
            sent = recv = 0.0
            for j in r.get("job_ids", ()):
                s, rv = by_job.get(j, (0.0, 0.0))
                sent, recv = sent + s, recv + rv
            r["operators.pipeline.python_bytes_sent"] = sent
            r["operators.pipeline.python_bytes_received"] = recv

    def baseline_local1(self) -> float:
        """Wall time of one untraced pass on a local[1] session."""
        from beam_pyspark_runner_spark.session import get_spark

        self.spark.stop()
        cpus = os.environ["SPARK_GRAFT_CPUS"]
        os.environ["SPARK_GRAFT_CPUS"] = "1"
        try:
            self.spark = self.ctx.spark = get_spark(
                app_name="perfbench-local1", extra_conf=self.spark_conf())
            self.stream_probe = None
            return self.run_pass(-1, traced=False)["wall_s"]
        finally:
            os.environ["SPARK_GRAFT_CPUS"] = cpus

    # --- metrics -----------------------------------------------------
    def warm(self, traced: bool) -> tuple[list[dict], list[dict]]:
        """The last ``WARM_PASSES`` warm passes of one kind and their records."""
        passes = [p for p in self.passes if p["pass"] > 0 and p["traced"] == traced][-WARM_PASSES:]
        ids = {p["pass"] for p in passes}
        return passes, [r for r in self.records if r["pass"] in ids]

    @staticmethod
    def e2e_of(passes: list[dict], recs: list[dict]) -> dict[str, float]:
        lat = [r["latency_s"] for r in recs if not r["error"]]
        return {
            "rows_per_s": statistics.median(p["rows"] / p["wall_s"] for p in passes),
            "job_p50_s": quantile(lat, 0.5),
            "job_tail_s": quantile(lat, TAIL_Q),
            "n": len(lat),
        }

    def end_to_end(self) -> dict[str, float]:
        from perfbench.probes import vm_hwm_bytes

        passes, recs = self.warm(traced=False)
        out = self.e2e_of(passes, recs)
        out["first_pass_s"] = self.passes[0]["wall_s"]
        self.rss_mb = {"jvm": vm_hwm_bytes(self.jvm_pid) / 2**20,
                       "driver": vm_hwm_bytes() / 2**20,
                       "workers": self.sampler.peak_worker_rss / 2**20}
        out["peak_rss_mb"] = sum(self.rss_mb.values())
        return out

    def per_layer(self, e2e: dict, local1_s: float) -> tuple[dict[str, float], dict]:
        from perfbench.jobs import COMBINE_FN_JOBS

        passes, recs = self.warm(traced=True)
        n_pass = max(1, len(passes))
        m = {k: 0.0 for k in PER_LAYER}
        m.update({k: v for k, v in self.setup.items() if k in PER_LAYER})
        for r in recs:
            for key in SUMMED:
                m[key] += r.get(key, 0.0) / n_pass
        spans = [s for p in passes for s in self.tracer.spans[p["spans"][0]:p["spans"][1]]]
        job_of = {}
        for s in spans:
            if s.name.endswith(".job"):
                job_of[s.id] = s.attrs["job"]
        for s in spans:
            dur = s.end - s.start
            if s.name in SPAN_METRICS:
                m[SPAN_METRICS[s.name]] += dur / n_pass
            if s.name == "queries.action":
                m[f"queries.{s.attrs['module']}.action_s"] += dur / n_pass
            if s.name.endswith(".action") and job_of.get(s.parent) in COMBINE_FN_JOBS:
                m["operators.combiners.combine_fn_s"] += dur / n_pass
        for layer, t in self.tracer.self_times(spans).items():
            if f"self_s.{layer}" in m:
                m[f"self_s.{layer}"] = t / n_pass
        wall = sum(r["latency_s"] for r in recs)
        cpus = host_cpus()
        m["spark.slot_busy_share"] = m["spark.task_run_s"] * n_pass / (wall * cpus) if wall else 0.0
        skews: dict[str, list[float]] = {}
        for r in recs:
            skews.setdefault(r["job"], []).append(r.get("spark.task_skew", 0.0))
        m["spark.task_skew"] = max((statistics.median(v) for v in skews.values()), default=0.0)
        m["plans.dag.cached_bytes"] = max((p["cached_bytes"] for p in passes), default=0)
        self.stream_metrics(m, recs, n_pass)
        failed = sum(1 for r in self.records if r["error"] and r["pass"] >= 0)
        m["failed_ratio"] = failed / max(1, sum(1 for r in self.records if r["pass"] >= 0))
        traced_e2e = self.e2e_of(passes, recs)
        m["trace.overhead_rows_per_s"] = traced_e2e["rows_per_s"] - e2e["rows_per_s"]
        m["trace.overhead_job_p50_s"] = traced_e2e["job_p50_s"] - e2e["job_p50_s"]
        m["baseline.local1_pass_s"] = local1_s
        untraced, _ = self.warm(traced=False)
        warm_wall = statistics.median(p["wall_s"] for p in untraced)
        m["spark.parallel_efficiency"] = local1_s / (warm_wall * cpus) if local1_s else 0.0
        per_job = self.per_job(recs, spans, job_of, n_pass)
        return m, per_job

    @staticmethod
    def stream_metrics(m: dict, recs: list[dict], n_pass: int) -> None:
        """Listener-derived metrics; micro-batch latency uses every warm batch."""
        trig = []
        for r in recs:
            batches = r.get("batches") or []
            by_run: dict[str, list[dict]] = {}
            for b in batches:
                by_run.setdefault(b["run_id"], []).append(b)
                d = b["duration_ms"]
                trig.append(d.get("triggerExecution", 0) / 1000)
                m["streaming.batches"] += 1 / n_pass
                m["streaming.query_planning_ms"] += d.get("queryPlanning", 0) / n_pass
                m["streaming.add_batch_ms"] += d.get("addBatch", 0) / n_pass
                m["streaming.commit_ms"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / n_pass
                m["streaming.offset_ms"] += (d.get("latestOffset", 0) + d.get("getBatch", 0)) / n_pass
                m["streaming.state_commit_ms"] += b["state_commit_ms"] / n_pass
                m["streaming.late_rows_dropped"] += b["late_rows_dropped"] / n_pass
            for run in by_run.values():
                m["streaming.state_rows"] += max(b["state_rows"] for b in run) / n_pass
                m["streaming.state_bytes"] += max(b["state_bytes"] for b in run) / n_pass
            if batches:
                busy = sum(b["duration_ms"].get("triggerExecution", 0) for b in batches) / 1000
                run_s = r["latency_s"]
                m["streaming.start_stop_s"] += max(0.0, run_s - busy) / n_pass
        m["microbatch_p50_s"] = quantile(trig, 0.5)
        m["microbatch_tail_s"] = quantile(trig, TAIL_Q)

    def per_job(self, recs: list[dict], spans: list, job_of: dict, n_pass: int) -> dict:
        """Per-job medians of latency and the summed counters (for the trace file)."""
        out: dict[str, dict] = {}
        for job in self.jobs:
            mine = [r for r in recs if r["job"] == job.name]
            if not mine:
                continue
            row = {"latency_s": statistics.median(r["latency_s"] for r in mine),
                   "declared_rows": self.declared_rows(job), "module": job.module}
            for key in SUMMED + ("spark.task_skew",):
                row[key] = statistics.median(r.get(key, 0.0) for r in mine)
            row["batches"] = statistics.median(len(r.get("batches") or []) for r in mine)
            layer_t: dict[str, float] = {}
            for s in spans:
                if s.name in SPAN_METRICS and job_of.get(s.parent) == job.name:
                    layer_t[SPAN_METRICS[s.name]] = layer_t.get(SPAN_METRICS[s.name], 0.0) \
                        + (s.end - s.start) / len(mine)
            row.update(layer_t)
            out[job.name] = row
        return out


def fmt(v: float) -> str:
    return f"{v:.6g}"


def run(args, run_dir: str, loadavg_before: float) -> dict:
    runner = Runner(args, run_dir)
    runner.start_engine()
    phases = {"setup": runner.setup["setup_s"]}
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": host_cpus(),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "loadavg_before": loadavg_before, "cpu_calib_s": [spin_calibration()],
        "phase_s": phases,
    }

    def phase(name: str, fn, *a):
        t0 = time.perf_counter()
        try:
            return fn(*a)
        finally:
            phases[name] = time.perf_counter() - t0

    phase("prepare", runner.prepare_inputs)
    runner.make_ctx()
    runner.start_probes()
    try:
        ticks = cpu_ticks()
        phase("passes", runner.run_passes)
        ticks = [b - a for a, b in zip(ticks, cpu_ticks())]
        record["steal_share"] = ticks[7] / max(1, sum(ticks))
        runner.attribute_python_bytes()
        e2e = runner.end_to_end()
        local1 = 0.0
        if runner.trace and args.workload in LOCAL1_WORKLOADS:
            local1 = phase("local1", runner.baseline_local1)
    finally:
        phase("stop", runner.stop)
    e2e["setup_s"] = runner.setup["setup_s"]
    attempted = sum(1 for r in runner.records if r["pass"] >= 0)
    failed = sum(1 for r in runner.records if r["pass"] >= 0 and r["error"])
    record.update({
        "loadavg_after": os.getloadavg()[0],
        "passes": len(runner.passes),
        "pass_wall_s": [p["wall_s"] for p in runner.passes],
        "job_tail_percentile": TAIL_Q,
        "job_samples": e2e["n"],
        "peak_rss_parts_mb": runner.rss_mb,
        "attempted": attempted,
        "failed": failed,
        "errors": sorted({f"{r['job']}: {r['error']}" for r in runner.records if r["error"]}),
    })
    record["cpu_calib_s"].append(spin_calibration())
    if args.trace:
        metrics, per_job = runner.per_layer(e2e, local1)
        units = PER_LAYER
        trace_path = os.path.join(OUT_DIR, f"trace-{args.workload}-s{args.seed}.json")
        with open(trace_path, "w") as fh:
            json.dump({"record": record, "per_layer": metrics, "per_job": per_job,
                       "spans": runner.tracer.to_json()}, fh)
        print(f"trace written to {os.path.relpath(trace_path, ROOT)}")
        for name, row in per_job.items():
            print(f"  job {name:34s} " + " ".join(
                f"{k}={fmt(v)}" for k, v in row.items() if isinstance(v, (int, float)) and v))
        print("  self time per pass: " + ", ".join(
            f"{layer} {fmt(metrics['self_s.' + layer])} s" for layer in SELF_LAYERS))
        print(f"  tracing overhead: rows_per_s {fmt(metrics['trace.overhead_rows_per_s'])} rows/s,"
              f" job_p50_s {fmt(metrics['trace.overhead_job_p50_s'])} s")
        print(f"  spark.slot_busy_share {fmt(metrics['spark.slot_busy_share'])} | "
              f"parallel efficiency vs local[1] {fmt(metrics['spark.parallel_efficiency'])} "
              f"(local[1] pass {fmt(local1)} s)")
    else:
        metrics = {k: e2e[k] for k in END_TO_END}
        units = END_TO_END
    os.makedirs(os.path.join(OUT_DIR, "records"), exist_ok=True)
    with open(os.path.join(OUT_DIR, "records",
                           f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}.json"),
              "w") as fh:
        json.dump({"record": record, "metrics": metrics}, fh)
    print("run-record " + json.dumps(record))
    for name in units:
        note = ""
        if name == "job_tail_s":
            note = f"  (p{TAIL_Q * 100:g} of {e2e['n']} warm executions)"
        print(f"  {name:42s} {fmt(metrics[name]):>14s} {units[name]}{note}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=3.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default=None, help="JSON object overriding the input sizes")
    args = ap.parse_args(argv)

    for needed in ("beam_pyspark_runner_spark", os.path.join("tests", "oracle_check.py")):
        if not os.path.exists(os.path.join(ROOT, needed)):
            print(f"perfbench: {needed} not found under {ROOT}; run from a source checkout",
                  file=sys.stderr)
            return 2

    loadavg_before = os.getloadavg()[0]
    cpus = host_cpus()
    run_dir = os.path.join(OUT_DIR, f"run-{args.workload}-s{args.seed}-p{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.environ.update({
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "tmp"),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_LOCAL_DRIVER_MEM": DRIVER_MEM,
        "PYSPARK_PYTHON": sys.executable,
    })
    sys.path.insert(0, ROOT)
    try:
        result = run(args, run_dir, loadavg_before)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
