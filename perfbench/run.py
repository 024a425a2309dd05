"""Benchmark command: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 30 --trace 0

Run from the repository root. Steps, in order:

1. generate the workload's inputs from ``--seed`` (untimed);
2. set up: ``session.build_session`` on ``local[<cpus>]``, importing the
   engine's entry points and a one-time warm-up (``setup_s``);
3. the first pass (``first_pass_s``): what a one-shot job pays;
4. a fixed number of warm passes (curation) or ticks (incremental)
   (``wall_s``, ``tick_s_*``), each curation job timed at its fastest
   pass and each tick at its faster replica (see ``workloads``);
5. correctness against DuckDB oracles, outside the timed intervals.

The work measured is fixed by ``workloads.BATCH_PASSES`` and
``workloads.TICKS``, so that every commit measures the same work;
``--seconds`` is accepted for the common benchmark command line and
recorded; the measured part of a run takes about 30 s on 4 cores.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` traces every
other unit, reports the per-layer metrics and the tracing overhead, and
writes the spans to ``.perfbench_work/``.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
the line before it carries the run's details (seed, input sizes, cpus,
commit, per-job best and median times, error_rate, tail percentile and
sample count).
Exits non-zero without a result line when the engine cannot be imported.
"""

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
sys.path.insert(0, str(ROOT))

from perfbench import inputs, tracing, workloads  # noqa: E402

WORKLOADS = ("curation", "incremental")
END_TO_END = {
    "setup_s": "s", "first_pass_s": "s", "wall_s": "s", "rows_per_s": "rows/s",
    "tick_s_p50": "s", "tick_s_tail": "s", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.build_s": "s", "session.warmup_s": "s", "catalog.load_s": "s",
    "queries.build_s": "s", "operators.build_s": "s", "functions.build_s": "s",
    "exec.run_s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.cpu_ratio": "fraction",
    "exec.gc_s": "s", "scan.input_mb": "MB", "scan.input_rows": "count",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.fetch_wait_s": "s",
    "spill.mb": "MB", "python.run_s": "s", "python.start_s": "s",
    "python.init_s": "s", "python.sent_mb": "MB", "python.recv_mb": "MB",
    "incremental.append_s": "s", "incremental.read_s": "s",
    "incremental.ledger_s": "s", "incremental.compact_s": "s", "delta.merge_s": "s",
    "incremental.node_runs": "count", "incremental.productive_ratio": "fraction",
    "incremental.snapshots": "count", "incremental.write_amp": "ratio",
    "incremental.tick_growth": "ratio", "delta.log_files": "count",
    "trace.overhead_frac": "fraction", "error_rate": "fraction",
}

DRIVER_MEM = "2g"
YOUNG_GEN = "256m"


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def git_commit() -> str:
    try:
        r = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def vm_hwm_mb(pid: int) -> float:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def cpu_jiffies() -> tuple[int, int]:
    """(all, steal) jiffies of the machine since boot, from /proc/stat."""
    fields = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return sum(fields), fields[7]


def load_oracle_tools():
    """tools/check_queries.py's DuckDB views and row canonicalisation."""
    path = ROOT / "tools" / "check_queries.py"
    spec = importlib.util.spec_from_file_location("perfbench_check_queries", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def instrument() -> None:
    """Wrap each layer's public entry points (from outside the engine)."""
    import snapflow_spark.catalog as catalog
    import snapflow_spark.queries  # noqa: F401  (loads every module that binds a layer function)
    import snapflow_spark.sources.delta as delta
    from snapflow_spark.incremental.ledger import RunLedger
    from snapflow_spark.incremental.pipeline import Pipeline
    from snapflow_spark.incremental.store import SnapshotStore
    from snapflow_spark.incremental.table_ledger import TableLedger

    tracing.instrument_packages({
        "snapflow_spark.operators": "operators",
        "snapflow_spark.functions": "functions",
    })
    tracing.instrument_function(catalog, "load_table", "catalog")
    tracing.instrument_function(delta, "merge_delta", "delta.merge")
    tracing.instrument_method(SnapshotStore, "append", "incremental.append")
    for attr in ("read", "read_latest"):
        tracing.instrument_method(SnapshotStore, attr, "incremental.read")
    for cls in (RunLedger, TableLedger):
        for attr in ("consumed", "unconsumed", "mark_consumed", "replace_consumed"):
            tracing.instrument_method(cls, attr, "incremental.ledger")
    tracing.instrument_method(Pipeline, "compact_store", "incremental.compact")

    def count_run(tr, ran):
        tr.counts["node_runs"] += 1
        tr.counts["productive"] += bool(ran)

    tracing.instrument_method(Pipeline, "run_node", "incremental.run_node", count_run)


def walk_sizes(root: Path) -> dict[str, int]:
    out = {}
    for p in root.rglob("*"):
        try:
            if p.is_file():
                out[str(p)] = p.stat().st_size
        except OSError:
            pass
    return out


def jvm_environment(work: Path) -> None:
    """Keep every scratch file of this process, the JVM and the Python
    workers inside ``work`` (spark.local.dir, java.io.tmpdir, TMPDIR);
    -XX:-UsePerfData stops the JVM writing /tmp/hsperfdata_*. A fixed
    young generation keeps the JVM's resident size from following the
    collector's timing-driven resizing of it."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xmn{YOUNG_GEN}"


def run(args) -> tuple[dict, dict]:
    cpus = nproc()
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Python workers import snapflow_spark (and perfbench, for traced
    # closures) whatever the launch directory: the JVM hands its
    # PYTHONPATH to every worker it forks.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    work = WORK / f"{args.workload}-seed{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    jvm_environment(work)
    info: dict = {"workload": args.workload, "seed": args.seed, "cpus": cpus,
                  "commit": git_commit(), "seconds": args.seconds, "trace": args.trace}
    batch = args.workload == "curation"

    # 1. inputs (untimed)
    t = time.perf_counter()
    sf_dir = work / "tables"
    if batch:
        sizes = inputs.tables(sf_dir, args.seed)
        info["inputs"] = {n: sizes[n] for n in workloads.CURATION_TABLES}
        data = sum(sizes[n]["rows"] for n in workloads.CURATION_TABLES)
    else:
        # each replica gets its own copy of the blocks (same seed, same bytes)
        data = []
        for k in range(workloads.REPLICAS):
            changelog = inputs.Changelog(work / f"changelog-{k}", args.seed)
            data.append([changelog.block(i) for i in range(1 + workloads.TICKS)])
        info["inputs"] = {"blocks": len(data[0]), "block_rows": sum(r for _d, r, _b in data[0]),
                          "block_bytes": sum(b for _d, _r, b in data[0]),
                          "replicas": workloads.REPLICAS}
    info["gen_s"] = round(time.perf_counter() - t, 3)

    tracer = tracing.Tracer()
    tracing.activate(tracer)
    tracer.enabled = bool(args.trace)

    # 2. set-up
    t_setup = time.perf_counter()
    with tracer.span("session.build"):
        from snapflow_spark.session import build_session

        spark = build_session("perfbench", master=f"local[{cpus}]")
        spark.sparkContext.setLogLevel("ERROR")
        import snapflow_spark.plans.yaml_config  # noqa: F401
        from snapflow_spark.registry import all_queries

        all_queries()
    with tracer.span("session.warmup"):
        workloads.warm_up(spark, work)
    setup_s = time.perf_counter() - t_setup
    jvm = spark.sparkContext._gateway.proc
    try:
        return _measure(args, spark, work, sf_dir, info, tracer, setup_s, data)
    finally:
        info["rss_mb"] = {"driver": vm_hwm_mb(os.getpid()), "jvm": vm_hwm_mb(jvm.pid)}
        info["peak_rss_mb"] = sum(info["rss_mb"].values())
        stop_spark(spark, jvm)
        if args.trace:
            tracer.dump(WORK / f"spans-{args.workload}-seed{args.seed}.jsonl")
        shutil.rmtree(work, ignore_errors=True)


def stop_spark(spark, jvm) -> None:
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    try:
        jvm.stdin.close()
    except OSError:
        pass
    try:
        jvm.wait(timeout=20)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()


def _measure(args, spark, work, sf_dir, info, tracer, setup_s, data):
    check_mod = load_oracle_tools()
    if args.trace:
        instrument()
    counters = tracing.SparkCounters(spark) if args.trace else None
    batch = args.workload == "curation"
    if batch:
        con = check_mod.duck_connection(str(sf_dir))
        wl = workloads.Batch(spark, sf_dir, workloads.CURATION, (con, check_mod.rowset))
        n_units = workloads.BATCH_PASSES
    else:
        wl = workloads.Incremental(spark, work, data)
        n_units = workloads.TICKS

    # 3. first pass
    jiffies0 = cpu_jiffies()
    mark = tracer.mark()
    first = wl.first_pass(tracer)
    first_spans = (mark, tracer.mark())
    tracer.counts.clear()  # counts are per measured unit
    attempted, failed = first.attempted, first.failed

    # 4. measured units. In trace mode, odd curation passes are traced and
    # even ones are not; on incremental, the first replica's ticks are
    # traced and the others' are not, so both sides do the same ticks.
    plain: list[workloads.Unit] = []
    traced: list[workloads.Unit] = []
    order: list[workloads.Unit] = []
    layer: dict[str, float] = {}
    spark_sums: dict[str, float] = {}
    wh_sizes = walk_sizes(wl.warehouse) if args.trace and not batch else {}
    written = sum(wh_sizes.values())
    tick_ratios: list[float] = []  # traced over untraced replica, per tick

    def measure(step, on: bool) -> workloads.Unit:
        tracer.enabled = on
        if on:
            counters.mark()
            mark = tracer.mark()
        u = step()
        tracer.enabled = False
        if on:
            for name, v in tracer.self_times(mark).items():
                layer[name] = layer.get(name, 0.0) + v
            queries_incl = tracer.totals(mark).get("queries", 0.0)
            layer["queries.incl"] = layer.get("queries.incl", 0.0) + queries_incl
            for name, v in counters.read().items():
                spark_sums[name] = spark_sums.get(name, 0.0) + v
            traced.append(u)
        else:
            plain.append(u)
        return u

    for k in range(n_units):
        if batch:
            on = bool(args.trace) and k % 2 == 1
            u = measure(lambda: wl.run_pass(tracer, record=not on), on)
        else:
            us = [measure(r.tick, bool(args.trace) and i == 0) for i, r in enumerate(wl.replicas)]
            u = workloads.best_of(us)
            if u.samples:
                tick_ratios.append(us[0].seconds / us[1].seconds)
        attempted += u.attempted
        failed += u.failed
        order.append(u)
        if args.trace and not batch:
            sizes = walk_sizes(wl.warehouse)
            written += sum(s for p, s in sizes.items() if wh_sizes.get(p) != s)
            wh_sizes = sizes

    # CPU time the hypervisor gave to other guests while we measured: a
    # high share marks a run slowed by the host, not by the program.
    total, steal = (b - a for a, b in zip(jiffies0, cpu_jiffies()))
    info["host_steal_frac"] = round(steal / total, 4) if total else 0.0

    # 5. correctness of the incremental end state
    if not batch and wl.ticks:
        ok = False
        try:
            import duckdb

            ok = wl.check(duckdb.connect(), check_mod.rowset)
        except Exception as e:
            wl.errors.append(f"check: {type(e).__name__}: {str(e)[:200]}")
        if not ok:
            failed = attempted

    info["attempted"], info["failed"] = attempted, failed
    info["error_rate"] = {"value": failed / attempted, "unit": "fraction"}
    info["errors"] = wl.errors[:5]

    if batch:
        # a curation "tick" is one job at its warm latency; the tail is
        # the slowest job
        best = wl.best()
        samples = list(best.values())
        wall = sum(samples)
        rows = data
        p, tail = 100, max(samples)
        info["jobs_best_s"] = {q: round(v, 4) for q, v in best.items()}
        info["jobs_median_s"] = {q: round(statistics.median(v), 4) for q, v in wl.job_times.items() if v}
    else:
        samples = [s for u in order for s in u.samples]
        wall = sum(samples)
        rows = sum(u.rows for u in order)
        p = workloads.TAIL_PERCENTILE
        tail = workloads.percentile(samples, p)
    info.update(units=len(order), traced_units=len(traced), tick_samples=len(samples),
                tail_percentile=p)

    if not args.trace:
        metrics = {
            "setup_s": setup_s,
            "first_pass_s": first.seconds,
            "wall_s": wall,
            "rows_per_s": rows / wall,
            "tick_s_p50": statistics.median(samples),
            "tick_s_tail": tail,
        }
        return metrics, info

    n = len(traced)
    first_self = tracer.self_times(*first_spans)
    setup_totals = tracer.totals(0, first_spans[0])
    if batch:
        overhead = statistics.mean(u.seconds for u in traced) / statistics.mean(u.seconds for u in plain) - 1
    else:
        # the median tick: the traced replica runs each tick first, and
        # its first warm tick still pays one-time warm-up
        overhead = statistics.median(tick_ratios) - 1
    cpu = spark_sums.get("executorCpuTime", 0.0) / 1e9
    run_s = spark_sums.get("executorRunTime", 0.0) / 1e3
    node_runs = tracer.counts.get("node_runs", 0.0)
    metrics = {
        "session.build_s": setup_totals.get("session.build", 0.0),
        "session.warmup_s": setup_totals.get("session.warmup", 0.0),
        "catalog.load_s": first_self.get("catalog", 0.0),
        "queries.build_s": layer.get("queries.incl", 0.0) / n,
        "operators.build_s": layer.get("operators", 0.0) / n,
        "functions.build_s": layer.get("functions", 0.0) / n,
        "exec.run_s": spark_sums.get("job_s", 0.0) / n,
        "exec.jobs": spark_sums.get("jobs", 0.0) / n,
        "exec.stages": spark_sums.get("stages", 0.0) / n,
        "exec.tasks": spark_sums.get("numTasks", 0.0) / n,
        "exec.task_run_s": run_s / n,
        "exec.task_cpu_s": cpu / n,
        "exec.cpu_ratio": cpu / run_s if run_s else 0.0,
        "exec.gc_s": spark_sums.get("jvmGcTime", 0.0) / 1e3 / n,
        "scan.input_mb": spark_sums.get("inputBytes", 0.0) / 2**20 / n,
        "scan.input_rows": spark_sums.get("inputRecords", 0.0) / n,
        "shuffle.write_mb": spark_sums.get("shuffleWriteBytes", 0.0) / 2**20 / n,
        "shuffle.read_mb": spark_sums.get("shuffleReadBytes", 0.0) / 2**20 / n,
        "shuffle.fetch_wait_s": spark_sums.get("shuffleFetchWaitTime", 0.0) / 1e3 / n,
        "spill.mb": spark_sums.get("diskBytesSpilled", 0.0) / 2**20 / n,
        "python.run_s": spark_sums.get("python.run_s", 0.0) / n,
        "python.start_s": spark_sums.get("python.start_s", 0.0) / n,
        "python.init_s": spark_sums.get("python.init_s", 0.0) / n,
        "python.sent_mb": spark_sums.get("python.sent_mb", 0.0) / n,
        "python.recv_mb": spark_sums.get("python.recv_mb", 0.0) / n,
        "incremental.append_s": layer.get("incremental.append", 0.0) / n,
        "incremental.read_s": layer.get("incremental.read", 0.0) / n,
        "incremental.ledger_s": layer.get("incremental.ledger", 0.0) / n,
        "incremental.compact_s": layer.get("incremental.compact", 0.0) / n,
        "delta.merge_s": layer.get("delta.merge", 0.0) / n,
        "incremental.node_runs": node_runs / n,
        "incremental.productive_ratio": (
            tracer.counts.get("productive", 0.0) / node_runs if node_runs else 0.0
        ),
        "incremental.snapshots": 0.0,
        "incremental.write_amp": 0.0,
        "incremental.tick_growth": 0.0,
        "delta.log_files": 0.0,
        "trace.overhead_frac": overhead,
        "error_rate": info["error_rate"]["value"],
    }
    if not batch:
        pipe = wl.graph.pipeline
        metrics["incremental.snapshots"] = float(sum(
            len(pipe.store(s).snapshot_ids()) for s in [*pipe.sources, *pipe.nodes]
        ))
        metrics["incremental.write_amp"] = written / wl.bytes_in
        ticks = [*first.samples, *(u.seconds for u in order)]
        q = max(1, len(ticks) // 4)
        metrics["incremental.tick_growth"] = statistics.median(ticks[-q:]) / statistics.median(ticks[:q])
        log = wl.delta_path / "_delta_log"
        metrics["delta.log_files"] = float(sum(1 for p in log.iterdir() if p.is_file()))
    return metrics, info


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=30.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import pyspark  # noqa: F401
        import snapflow_spark
    except ImportError as e:
        return fail(f"cannot import the engine: {e}")
    if not Path(snapflow_spark.__file__).resolve().is_relative_to(ROOT):
        return fail(f"snapflow_spark resolves outside {ROOT}: {snapflow_spark.__file__}")
    if not (ROOT / "tools" / "check_queries.py").is_file():
        return fail("tools/check_queries.py (the oracle comparison) is missing")

    metrics, info = run(args)
    if not args.trace:
        metrics["peak_rss_mb"] = info["peak_rss_mb"]
    units = END_TO_END if not args.trace else PER_LAYER
    print(json.dumps(info, default=str))
    print(json.dumps({
        "correct": info["failed"] == 0,
        "attempted": info["attempted"],
        "failed": info["failed"],
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
