"""End-to-end and per-layer benchmark of the engine's public entry points.

    python3 perfbench/run.py --workload registry_mix --seed 1 --seconds 8 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` runs every timed op twice, once plain and once
traced, and prints the per-layer metrics with the tracing overhead. The
last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. The line before it holds the
details (provenance, set-up, cold and timed op walls, tail percentile,
check failures). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HERE = Path(__file__).resolve().parent
PKG = "tiny_etl_multiproc_bigdata_spark"
# A timed pass is calm when its CPU steal share (from /proc/stat), the
# CPU time the VM lost to other tenants, is at most this. At 3.6 % steal
# registry_mix ran 18 % slower, at 21 % half as fast; calm runs stayed
# below 2 %. The timed region goes on, up to STEAL_CAP x --seconds, until
# the workload has the calm passes its rates need (see rated_ops).
STEAL_LIMIT = 0.02
STEAL_CAP = 3

# counts a later change may cite, and only if the self-test shows they
# repeat exactly (perfbench/tests/test_counts_repeat.py)
CITABLE_COUNTS = (
    "plans.construct_jobs",
    "exec.jobs",
    "exec.stages",
    "exec.shuffle_write_bytes",
    "streaming.state_rows",
)
NOT_CITABLE_COUNTS = ()

# The end-to-end metrics that BENCHMARK.json bounds. op_s_p50, op_s_tail
# and peak_rss_mb go to the detail line only: over ten seeds their spread
# between runs reached 0.24-0.38 of the median on registry_mix (its
# per-op times are multi-modal, and they take every op, stolen or not),
# too close to the largest bound allowed (0.25) for a check to rest on
# them. The rates are taken over the timed ops only; the cold first calls
# run before them, inside setup_s.
BOUNDED_METRICS = ("setup_s", "queries_per_s", "corpus_mb_per_s", "stream_rows_per_s")
RECONCILE_TOLERANCE = 0.02  # share of the op's traced wall time

sys.path.insert(0, str(HERE))

from spark_trace import (  # noqa: E402
    SparkProbe,
    StageStats,
    Tracer,
    make_stream_listener,
    plan_phases,
    union_len,
)
from workloads import WORKLOADS  # noqa: E402


def _percentile(sorted_vals: list[float], pct: float) -> float:
    """Nearest-rank percentile."""
    k = max(0, min(len(sorted_vals) - 1, int(-(-pct * len(sorted_vals) // 100)) - 1))
    return sorted_vals[k]


def tail_stat(samples: list[float]) -> tuple[float, int]:
    """The highest percentile with at least ten samples beyond it; the
    maximum when fewer than twenty samples leave no such percentile at
    or above the median."""
    vals = sorted(samples)
    n = len(vals)
    if n >= 20:
        pct = (100 * (n - 10)) // n
        return _percentile(vals, pct), pct
    return vals[-1], 100


def load_compare():
    spec = importlib.util.spec_from_file_location("bench_compare", ROOT / "tests" / "compare.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def source_digest() -> str:
    h = hashlib.sha256()
    for p in sorted((ROOT / PKG).rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def git_commit() -> str:
    head = ROOT / ".git" / "HEAD"
    try:
        ref = head.read_text().strip()
        if ref.startswith("ref: "):
            return (ROOT / ".git" / ref[5:]).read_text().strip()
        return ref
    except OSError:
        return "unknown (not a git checkout)"


def stop_spark(spark) -> None:
    """Stop the session, end its JVM and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    if SparkContext._gateway is None:
        return
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def cpu_times() -> tuple[int, int] | None:
    """(steal, total) jiffies over all CPUs since boot, or None."""
    try:
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    # user nice system idle iowait irq softirq steal; guest time is
    # already counted in user and nice
    return vals[7], sum(vals[:8])


def steal_share(a, b) -> float | None:
    if a is None or b is None or b[1] == a[1]:
        return None
    return (b[0] - a[0]) / (b[1] - a[1])


def conf_snapshot(spark) -> dict:
    return dict(spark.conf.getAll)


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return float("nan")


class Runner:
    def __init__(self, args, work: Path, cpus: int) -> None:
        self.args, self.work, self.cpus = args, work, cpus
        self.wl = WORKLOADS[args.workload](args.seed)
        self.tracer = Tracer()
        self.records: list[dict] = []  # one per executed op
        # the last output of each label, the one the check compares:
        # label -> (record index, DataFrame); earlier outputs are dropped
        self.latest: dict[str, tuple[int, object]] = {}
        self.conf_changes = 0
        self.table_counts: list[int] = []
        self.passes: list[dict] = []  # per timed pass: steal share, calm, its ops

    # -- set-up ---------------------------------------------------------
    def setup(self) -> dict:
        """Start the session in a fresh JVM, import the package and call
        ``queries()``, then run the workload's untimed warm-up ops (for a
        mix, every entry's cold first call). Returns the timings."""
        extra = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work / 'tmp'}",
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
        }
        t0 = time.perf_counter()
        session = importlib.import_module(f"{PKG}.session")
        spark = session.get_spark(app_name=f"perfbench-{self.args.workload}", extra_conf=extra)
        t1 = time.perf_counter()
        registry = importlib.import_module(f"{PKG}.plans.registry")
        queries = registry.queries()
        t2 = time.perf_counter()
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.wl.bind(spark, queries)
        self.listener = make_stream_listener()
        self.spark.streams.addListener(self.listener)
        for op in self.wl.warm_up_ops():
            self.run_plain(op, timed=False)
        t3 = time.perf_counter()
        out = {"get_spark_s": t1 - t0, "import_s": t2 - t1, "session_s": t2 - t0,
               "warm_up_s": t3 - t2, "setup_s": t3 - t0}
        print(f"# set-up {out['session_s']:.2f}s + warm-up {out['warm_up_s']:.2f}s",
              file=sys.stderr)
        self.jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        return out

    def time_catalog(self) -> float:
        from tiny_etl_multiproc_bigdata_spark import catalog

        total = 0.0
        for name in catalog.TABLES:
            runs = []
            for _ in range(3):
                t0 = time.perf_counter()
                catalog.table(self.spark, self.wl.sf_dir, name)
                runs.append(time.perf_counter() - t0)
            total += statistics.median(runs)
        return total

    # -- one op ---------------------------------------------------------
    def _finish(self, op, rec: dict, df, before: dict, n_events: int) -> dict:
        """Bookkeeping after an op, outside its wall time: conf and
        table probes, the streamed rows its listener events report, and
        its output, which replaces the label's previous one."""
        if conf_snapshot(self.spark) != before:
            self.conf_changes += 1
        if op.label.startswith("streaming_"):
            self.table_counts.append(len(self.spark.catalog.listTables()))
        self.jsc.listenerBus().waitUntilEmpty()  # progress events arrive async
        events = self.listener.events[n_events:]
        rec["events"] = events
        rec["input_rows"] = op.input_rows + sum(e["input_rows"] for e in events)
        rec["corpus_mb"] = op.corpus_mb
        self.records.append(rec)
        if df is not None:
            self.latest[op.label] = (len(self.records) - 1, df)
        return rec

    def run_plain(self, op, timed: bool = True) -> dict:
        before = conf_snapshot(self.spark)
        n_events = len(self.listener.events)
        err, df = None, None
        t0 = time.perf_counter()
        try:
            df = op.build()
            df.write.format("noop").mode("overwrite").save()
        except Exception as ex:  # noqa: BLE001 — a failed op, not a crash
            err, df = f"{type(ex).__name__}: {ex}"[:300], None
        wall = time.perf_counter() - t0
        rec = {"label": op.label, "timed": timed, "traced": False, "wall": wall, "error": err}
        return self._finish(op, rec, df, before, n_events)

    def run_traced(self, op, trace_id: str) -> dict:
        before = conf_snapshot(self.spark)
        n_events = len(self.listener.events)
        err, df = None, None
        self.probe.last_job = self.probe.max_job_id()  # skip the plain twin's jobs
        c0 = time.time()
        p0 = time.perf_counter()
        c1 = c2 = None
        phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        try:
            df = op.build()
            c1 = time.time()
            phases = plan_phases(df)
            c2 = time.time()
            df.write.format("noop").mode("overwrite").save()
        except Exception as ex:  # noqa: BLE001 — a failed op, not a crash
            err, df = f"{type(ex).__name__}: {ex}"[:300], None
        wall = time.perf_counter() - p0
        c3 = time.time()
        c1 = c1 or c3
        c2 = c2 or c3
        rec = self._finish(op, {"label": op.label, "timed": True, "traced": True,
                                "wall": wall, "error": err}, df, before, n_events)

        t = self.tracer
        root = t.add("op", c0, c3, self.op_parent, trace=trace_id, entry=op.label)
        construct = t.add("plans.construct", c0, c1, root)
        plan = t.add("catalyst.plan", c1, c2, root, **{f"{k}_ms": v for k, v in phases.items()})
        mat = t.add("exec.materialize", c2, c3, root)
        events = rec["events"]
        batches = [t.add("streaming.microbatch", ev["start"], ev["start"] + ev["trigger_ms"] / 1e3,
                         construct, query=ev["query"], batch=ev["batch"])
                   for ev in events]
        stats = self.probe.attach_jobs(t, [construct, plan, mat], batches)
        last_by_run: dict[str, dict] = {}
        for ev in events:
            last_by_run[ev["run"]] = ev
        rec.update({
            "spans": (root, construct, plan, mat),
            "construct_s": c1 - c0, "plan_s": c2 - c1, "materialize_s": c3 - c2,
            "construct_jobs": construct.attrs["jobs"], "construct_stats": stats[construct.id],
            "exec_jobs": mat.attrs["jobs"], "exec_stats": stats[mat.id],
            "catalyst": phases,
            "batches": len(events),
            "trigger_ms": sum(e["trigger_ms"] for e in events),
            "add_batch_ms": sum(e["add_batch_ms"] for e in events),
            "wal_commit_ms": sum(e["wal_commit_ms"] for e in events),
            "state_commit_ms": sum(s[0] for e in events for s in e["state"]),
            "state_rows": sum(s[1] for e in last_by_run.values() for s in e["state"]),
            "state_memory_bytes": sum(s[2] for e in last_by_run.values() for s in e["state"]),
        })
        return rec

    # -- the timed region -------------------------------------------------
    def run(self) -> None:
        """Timed passes until ``--seconds`` have passed and the workload
        has ``calm_passes`` calm ones, or until STEAL_CAP x --seconds."""
        traced = bool(self.args.trace)
        if traced:
            self.catalog_table_s = self.time_catalog()
            self.probe = SparkProbe(self.spark)
            now = time.time()
            self.run_span = self.tracer.add("run", now, now, None)
            self.op_parent = self.tracer.add("workload", now, now, self.run_span,
                                             workload=self.args.workload)
        self.load_start = os.getloadavg()[0]
        self.cpu_start = cpu_times()
        t_start = time.perf_counter()
        k = 0
        while True:
            c0 = cpu_times()
            first = len(self.records)
            for op in self.wl.pass_ops(len(self.passes) + 1):
                if traced:
                    # run the plain and the traced twin in alternating
                    # order, so neither always gets the warmer JVM
                    for plain in (k % 2 == 0, k % 2 == 1):
                        if plain:
                            self.run_plain(op)
                        else:
                            self.run_traced(op, f"{self.args.seed}-{k}")
                else:
                    self.run_plain(op)
                k += 1
            steal = steal_share(c0, cpu_times())
            self.passes.append({"steal": steal or 0.0, "calm": steal is None or steal <= STEAL_LIMIT,
                                "records": self.records[first:]})
            elapsed = time.perf_counter() - t_start
            if elapsed >= self.args.seconds and (
                    sum(p["calm"] for p in self.passes) >= self.wl.calm_passes
                    or elapsed >= STEAL_CAP * self.args.seconds):
                break
        self.region_s = time.perf_counter() - t_start
        self.cpu_end = cpu_times()
        self.peak_rss_mb = jvm_peak_rss_mb(self.jvm_pid)
        self.load_end = os.getloadavg()[0]
        if traced:
            end = time.time()
            self.run_span.end = self.op_parent.end = end
        self.spark.streams.removeListener(self.listener)

    def rated_ops(self) -> list[dict]:
        """The timed ops the rates rest on: those of the calm passes or,
        short of ``calm_passes`` of them, of that many least-stolen
        passes."""
        passes = [p for p in self.passes if p["calm"]]
        if len(passes) < self.wl.calm_passes:
            passes = sorted(self.passes, key=lambda p: p["steal"])[:self.wl.calm_passes]
        return [r for p in passes for r in p["records"]]

    def check(self, compare_mod) -> list[str | None]:
        """Per record, its error or its failed check (only the last
        output of each label is checked), else None."""
        verdicts = self.wl.check({label: df for label, (_, df) in self.latest.items()},
                                 compare_mod)
        out = [r["error"] for r in self.records]
        for label, (i, _) in self.latest.items():
            out[i] = verdicts.get(label)
        return out


def median_pass(recs: list[dict]) -> dict[str, dict]:
    """Per label, the median of each key over that label's ops: one
    median op per label, together a median pass. The medians leave out
    the ops a GC pause or a late JIT compilation slowed."""
    by_label: dict[str, list[dict]] = {}
    for r in recs:
        by_label.setdefault(r["label"], []).append(r)
    return {label: {key: statistics.median(r[key] for r in rs)
                    for key in ("wall", "corpus_mb", "input_rows")}
            for label, rs in by_label.items()}


def rate(ops: dict[str, dict], key: str) -> float:
    """``key`` summed over the median ops that have some, per second of
    those ops' wall time."""
    ops = [o for o in ops.values() if o[key]]
    wall = sum(o["wall"] for o in ops)
    return sum(o[key] for o in ops) / wall if wall else 0.0


def end_to_end(recs: list[dict], rated: list[dict], setup_s: float,
               peak_rss_mb: float) -> tuple[dict, dict]:
    """The timings over every timed op in ``recs``; the rates over the
    ``rated`` ones."""
    walls = [r["wall"] for r in recs]
    tail, pct = tail_stat(walls)
    ops = median_pass(rated)
    metrics = {
        "setup_s": (setup_s, "s"),
        "op_s_p50": (statistics.median(walls), "s"),
        "op_s_tail": (tail, "s"),
        "queries_per_s": (len(ops) / sum(o["wall"] for o in ops.values()), "ops/s"),
        "corpus_mb_per_s": (rate(ops, "corpus_mb"), "MB/s"),
        "stream_rows_per_s": (rate(ops, "input_rows"), "rows/s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }
    info = {"op_s_tail_percentile": pct, "op_samples": len(walls), "rate_samples": len(rated)}
    return metrics, info


def per_layer(runner: Runner, setup: dict) -> tuple[dict, dict]:
    recs = [r for r in runner.records if r["traced"]]
    plain = [r for r in runner.records if r["timed"] and not r["traced"]]
    n = len(recs)
    cons = StageStats()
    ex = StageStats()
    for r in recs:
        cons.add(r["construct_stats"])
        ex.add(r["exec_stats"])

    def mean(key):
        return sum(r[key] for r in recs) / n

    mat_s = sum(r["materialize_s"] for r in recs)
    m = {
        "session.get_spark_s": (setup["get_spark_s"], "s"),
        "plans.registry.import_s": (setup["import_s"], "s"),
        "session.conf_changes": (runner.conf_changes, "ops"),
        "catalog.table_s": (runner.catalog_table_s, "s"),
        "plans.construct_s": (mean("construct_s"), "s/op"),
        "plans.construct_jobs": (mean("construct_jobs"), "jobs/op"),
        "plans.construct_cpu_s": (cons.cpu_s / n, "s/op"),
        "catalyst.analysis_ms": (sum(r["catalyst"]["analysis"] for r in recs) / n, "ms/op"),
        "catalyst.optimization_ms": (sum(r["catalyst"]["optimization"] for r in recs) / n, "ms/op"),
        "catalyst.planning_ms": (sum(r["catalyst"]["planning"] for r in recs) / n, "ms/op"),
        "exec.materialize_s": (mat_s / n, "s/op"),
        "exec.jobs": (mean("exec_jobs"), "jobs/op"),
        "exec.stages": (ex.stages / n, "stages/op"),
        "exec.tasks": (ex.tasks / n, "tasks/op"),
        "exec.executor_cpu_s": (ex.cpu_s / n, "s/op"),
        "exec.executor_run_s": (ex.run_s / n, "s/op"),
        "exec.gc_s": (ex.gc_s / n, "s/op"),
        "exec.shuffle_write_bytes": (ex.shuffle_write / n, "B/op"),
        "exec.shuffle_read_bytes": (ex.shuffle_read / n, "B/op"),
        "exec.spill_bytes": (ex.spill / n, "B/op"),
        "exec.core_utilisation": (ex.run_s / (mat_s * runner.cpus) if mat_s else 0.0, "ratio"),
        "streaming.batches": (mean("batches"), "batches/op"),
        "streaming.trigger_ms": (mean("trigger_ms"), "ms/op"),
        "streaming.add_batch_ms": (mean("add_batch_ms"), "ms/op"),
        "streaming.wal_commit_ms": (mean("wal_commit_ms"), "ms/op"),
        "streaming.state_commit_ms": (mean("state_commit_ms"), "ms/op"),
        "streaming.state_rows": (mean("state_rows"), "rows/op"),
        "streaming.state_memory_bytes": (mean("state_memory_bytes"), "B/op"),
        "streaming.memory_tables": (
            runner.table_counts[-1] if runner.table_counts else len(runner.spark.catalog.listTables()),
            "tables"),
    }
    m["trace.op_s_p50"] = (statistics.median(r["wall"] for r in recs), "s")
    m["trace.untraced_op_s_p50"] = (statistics.median(r["wall"] for r in plain), "s")
    # the tracer's only work inside a traced op is forcing the physical
    # plan (catalyst.plan), which the noop write then plans again; its
    # share of the rest of the op bounds the overhead from above. The two
    # p50s above show the overhead as measured, noise included.
    plan_s = sum(r["plan_s"] for r in recs)
    m["trace.overhead_ratio"] = (plan_s / (sum(r["wall"] for r in recs) - plan_s), "ratio")

    # reconcile: each phase's self time plus the time its jobs and
    # microbatches cover (as Spark timed them, unclipped) must add up to
    # the op's traced wall time; a job that Spark places outside its
    # phase shows as a residual
    selfs = runner.tracer.self_times()
    kids = runner.tracer.children()
    worst = 0.0
    for r in recs:
        _, *phases = r["spans"]
        accounted = sum(selfs[p.id] + union_len([(c.start, c.end) for c in kids.get(p.id, [])])
                        for p in phases)
        worst = max(worst, abs(r["wall"] - accounted) / r["wall"])
    m["trace.reconcile_residual_max"] = (worst, "ratio")

    from workloads import REGISTRY_MIX

    by_entry: dict[str, list[float]] = {}
    for r in plain:
        by_entry.setdefault(r["label"], []).append(r["wall"])
    for e in REGISTRY_MIX + ("flagship_corpus",):
        m[f"plans.e2e_s.{e}"] = (statistics.median(by_entry[e]) if e in by_entry else 0.0, "s")
    info = {"reconcile_tolerance": RECONCILE_TOLERANCE,
            "reconcile_ok": worst <= RECONCILE_TOLERANCE,
            "traced_ops": n}
    return m, info


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cpus = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench" / "work" / f"{args.workload}-{os.getpid()}"
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        # the host's memory is shared; a capped heap also keeps peak RSS steady
        "SPARK_DRIVER_MEMORY": "2g",
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "TMPDIR": str(work / "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
    })
    sys.path.insert(0, str(ROOT))
    try:
        import pyspark

        if importlib.util.find_spec(PKG) is None:
            raise ImportError(f"package {PKG} not found under {ROOT}")
        compare_mod = load_compare()
    except Exception as ex:  # noqa: BLE001
        print(f"perfbench: cannot load the engine: {type(ex).__name__}: {ex}", file=sys.stderr)
        return 2
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)

    runner = Runner(args, work, cpus)
    prov = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
        "nproc": cpus, "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "comparable_key": f"local[{cpus}]",
        "pyspark": pyspark.__version__, "python": sys.version.split()[0],
        "git_commit": git_commit(), "source_digest": source_digest(),
    }
    spark = None
    cpu0 = cpu_times()
    try:
        setup = runner.setup()
        spark = runner.spark
        prov["java"] = spark._jvm.java.lang.System.getProperty("java.version")
        runner.run()
        prov["load_avg_1m"] = {"start": runner.load_start, "end": runner.load_end}
        prov["cpu_steal_share"] = {"setup": steal_share(cpu0, runner.cpu_start),
                                   "timed": steal_share(runner.cpu_start, runner.cpu_end),
                                   "passes": [p["steal"] for p in runner.passes]}
        prov["comparable"] = sum(p["calm"] for p in runner.passes) >= runner.wl.calm_passes
        t_check = time.perf_counter()
        failures = runner.check(compare_mod)
        check_s = time.perf_counter() - t_check
        if args.trace:
            metrics, info = per_layer(runner, setup)
        else:
            timed = [r for r in runner.records if r["timed"]]
            metrics, info = end_to_end(timed, runner.rated_ops(), setup["setup_s"],
                                       runner.peak_rss_mb)
        if args.trace:
            out = ROOT / ".perfbench" / "traces"
            out.mkdir(parents=True, exist_ok=True)
            trace_file = out / f"{args.workload}-seed{args.seed}-{os.getpid()}.json"
            trace_file.write_text(json.dumps({"provenance": prov, "spans": runner.tracer.to_json()}))
            info["trace_file"] = str(trace_file.relative_to(ROOT))
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(runner.records)
    failed = sum(1 for f in failures if f)
    detail = {
        "provenance": prov,
        "setup": setup,
        "timed_region_s": runner.region_s,
        "check_s": check_s,
        "cold_op_walls": [(r["label"], round(r["wall"], 4)) for r in runner.records if not r["timed"]],
        "op_walls": [(r["label"], r["traced"], round(r["wall"], 4))
                     for r in runner.records if r["timed"]],
        "session.conf_changes": runner.conf_changes,
        "memory_tables": runner.table_counts,
        "failures": {f"{i}:{r['label']}": f for i, (r, f) in enumerate(zip(runner.records, failures)) if f},
        "citable_counts": list(CITABLE_COUNTS),
        "not_citable_counts": list(NOT_CITABLE_COUNTS),
        **info,
    }
    if not args.trace:
        metrics["error_rate"] = (failed / attempted, "ratio")
        detail["unbounded"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
                               if k not in BOUNDED_METRICS}
        metrics = {k: metrics[k] for k in BOUNDED_METRICS}
    for name, (value, unit) in metrics.items():
        print(f"# {args.workload} {name} = {value:.6g} {unit}", file=sys.stderr)
    for name, m in detail.get("unbounded", {}).items():
        print(f"# {args.workload} {name} = {m['value']:.6g} {m['unit']} (unbounded)", file=sys.stderr)
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
