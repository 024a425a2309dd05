"""SparkSession construction and runtime tuning.

Snapflow's Environment (SURVEY.md §1.1 [P snapflow/core/environment.py])
is replaced by a SparkSession plus the runtime confs below. ``tune`` is
idempotent and safe to call on a session we did not create (the driver
passes its own session to ``__spark_entry__.entry``): it only touches
runtime-settable confs. ``build_session`` also owns the Python workers'
import path (``python_worker_confs``), which only a launch can set.
"""

from __future__ import annotations

import os
import re
import zipfile
from glob import glob
from pathlib import Path

import pyspark
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

#: The directory holding the ``snapflow_spark`` package.
ENGINE_ROOT = str(Path(__file__).resolve().parent.parent)


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs every query in this engine relies on.

    - UTC session timezone: the DuckDB oracle treats parquet timestamps
      as naive instants; Spark must extract date parts in UTC to match.
    - AQE on: runtime re-planning (partition coalescing, skew-join
      splitting) is the 100 TB story for every shuffle in this engine.
    - Arrow on: all pandas-UDF operators cross JVM->python in batches.

    A session built elsewhere (the driver's, passed to
    ``__spark_entry__.entry``) gets only these runtime confs: its Python
    workers keep Spark's default path (pyspark.zip, re-scanned on every
    task) and find the engine only if their launch directory or
    ``PYTHONPATH`` holds it, since ``python_worker_confs`` are
    launch-time confs.
    """
    conf = spark.conf
    conf.set("spark.sql.session.timeZone", "UTC")
    # DataFrame-debugging call-site capture OFF (round 17, guide §7.3
    # planning time): PySpark 4 wraps every DataFrame API call in
    # _with_origin, which per call pays a conf.get round trip, a JVM
    # PySparkCurrentOrigin.set + .clear pair and a python stack walk —
    # ~4 py4j round trips per DataFrame method. Interleaved min-of-6
    # A/B: q_text_quality construction 1.84 -> 0.96 s, q_dedup_exact
    # 0.67 -> 0.47 s, q_pipeline_docs 1.36 -> 1.12 s. The only loss is
    # the call-site line in error messages (the error itself is
    # unchanged). Host-independent: this is driver-side chatter on any
    # deployment. The python-side flag is cached globally on first
    # use; the conf itself is STATIC (builder-time, set in
    # build_session) and is only ever read to populate that cache, so
    # for driver-owned sessions the cache write below is the operative
    # switch.
    try:  # best-effort: private cache, absent on future pyspark
        import pyspark.errors.utils as _eu

        _eu._enable_debugging_cache = False
    except Exception:
        pass
    conf.set("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    # pinned explicitly (not left to Spark's default) — SCALE.md's
    # skew story depends on AQE splitting oversized join partitions
    conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # spark.sql.execution.pythonUDTF.arrow.enabled is deliberately NOT
    # set: each UDTF in functions/udtfs.py pins useArrow explicitly at
    # the decorator (the conf is only consulted at decoration time
    # anyway, i.e. before any session exists for import-time UDTFs),
    # and the Arrow eval path measured ~2x SLOWER than plain pickle
    # for generator-style UDTFs — see the SplitSentences docstring.
    # InferFiltersFromGenerate synthesizes `size(arr) > 0` under every
    # explode(), and predicate pushdown then SUBSTITUTES the full array
    # expression into a Filter at the FileScan — for this engine's
    # exploded arrays (gram hashes, winnow fingerprints, LSH bands:
    # expensive to compute, never empty by construction) that evaluates
    # the whole tokenize/sha256 subtree TWICE per row, with the filter
    # copy running on the raw scan partitions BEFORE ensure_parallelism
    # (measured: q_fingerprint_winnow's span branch 31 s -> 2 s at
    # sf0.1 with the rule excluded; q_text_quality carried four such
    # pushed filters). The rule only ever saves work when exploded
    # arrays are frequently empty, which none of ours are.
    # MERGE with (never overwrite) any exclusions the deployment set
    rule = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    try:
        existing = conf.get("spark.sql.optimizer.excludedRules")
    except Exception:
        existing = None
    if existing and rule not in existing:
        conf.set("spark.sql.optimizer.excludedRules", f"{existing},{rule}")
    elif not existing:
        conf.set("spark.sql.optimizer.excludedRules", rule)
    # events.parquet carries TIMESTAMP(NANOS) which Spark rejects by
    # default; read as long nanos, converted in catalog.load_table.
    conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        conf.set("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
    except Exception:
        pass  # static in some deployments; AQE coalescing still applies
    return spark


#: Confs that MUST be set at launch (spark-submit / cluster template)
#: — core/Hadoop settings Spark rejects via spark.conf.set at runtime.
#: tune_cluster() returns them so a deployment can diff its template
#: against the engine's requirements instead of re-deriving them.
CLUSTER_LAUNCH_CONFS: dict[str, str] = {
    # --- elasticity: a 100 TB job's stage widths vary 100x between
    # the scan (tens of thousands of tasks) and the final 1-row aggs;
    # fixed executor counts either starve the scan or idle the tail
    "spark.dynamicAllocation.enabled": "true",
    "spark.dynamicAllocation.shuffleTracking.enabled": "true",
    "spark.dynamicAllocation.minExecutors": "2",
    "spark.dynamicAllocation.maxExecutors": "1000",
    # --- shuffle robustness: executor loss must not replay whole
    # stages; zstd halves shuffle bytes vs lz4 at similar CPU on the
    # text-heavy shuffles this engine runs (gram/band keys)
    "spark.shuffle.service.enabled": "true",
    "spark.io.compression.codec": "zstd",
    "spark.shuffle.compress": "true",
    # --- stragglers: external-storage hiccups at 1000 executors are
    # routine; speculative re-attempts cap the tail
    "spark.speculation": "true",
    "spark.speculation.quantile": "0.9",
    # --- object-store output: the 'magic' S3A committer commits via
    # multipart-upload completion (atomic, no rename) — the ONLY safe
    # committer on S3; classic FileOutputCommitter v1/v2 either
    # renames (O(files) copies on S3) or exposes partial output
    "spark.hadoop.fs.s3a.committer.name": "magic",
    "spark.hadoop.fs.s3a.committer.magic.enabled": "true",
    "spark.sql.sources.commitProtocolClass": (
        "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol"
    ),
    "spark.sql.parquet.output.committer.class": (
        "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter"
    ),
    # --- S3A throughput for the WARC/parquet scan tiers
    "spark.hadoop.fs.s3a.connection.maximum": "256",
    "spark.hadoop.fs.s3a.fast.upload": "true",
    # --- driver safety: the engine's driver-side collects are bounded
    # by construction (word-type dicts, centroids, index file lists),
    # but the bound should be enforced, not assumed
    "spark.driver.maxResultSize": "4g",
}


def tune_cluster(
    spark: SparkSession,
    target_partition_mb: int = 128,
    scan_partition_mb: int = 256,
    broadcast_mb: int = 64,
    shuffle_partitions: int | None = 2000,
) -> dict[str, dict[str, str]]:
    """The 100 TB twin of :func:`tune`: applies every runtime-settable
    cluster conf and returns ``{"applied": {...}, "launch_required":
    CLUSTER_LAUNCH_CONFS}`` so the launch template can be diffed
    against requirements the session API cannot set.

    What the local[32] shim cannot exercise and this profile encodes:

    - **Shuffle sizing**: ``shuffle_partitions`` starts HIGH (default
      2000) and AQE coalesces down per stage
      (``advisoryPartitionSizeInBytes`` = ``target_partition_mb``) —
      the opposite of the local shim's fixed 32. Under-partitioning a
      100 TB shuffle spills; over-partitioning is repaired free by AQE.
    - **Scan splits**: ``files.maxPartitionBytes`` = ``scan_partition_mb``
      — fewer, fuller scan tasks keep the task count at six figures,
      not seven, for a 100 TB parquet layout.
    - **Broadcast ceiling**: ``autoBroadcastJoinThreshold`` =
      ``broadcast_mb`` — the dimension tables and standing artifacts
      this engine broadcasts (centroid tables, blocklists, posting
      vocabularies) are MBs; raising the ceiling keeps them off the
      shuffle without risking an OOM-sized accidental broadcast.
    - **Parquet output**: zstd compression for the snapshot/sink tier.

    NOT settable here and therefore in ``launch_required``: dynamic
    allocation, external shuffle service, speculation, the S3A magic
    committer, and driver result caps (core/Hadoop confs are fixed at
    launch). TableLedger caveat: its ``os.link`` create-exclusive
    publish needs a real filesystem (NFS/EFS/HDFS-fuse); on S3-only
    metadata layouts pass ``TableLedger(publish=...)`` with a
    conditional-PUT (If-None-Match) implementation — the same
    commit-coordination contract, different primitive (SCALE.md
    §deploy)."""
    tune(spark)
    applied = {
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": (
            f"{int(target_partition_mb)}m"
        ),
        "spark.sql.files.maxPartitionBytes": f"{int(scan_partition_mb)}m",
        "spark.sql.autoBroadcastJoinThreshold": f"{int(broadcast_mb)}m",
        "spark.sql.parquet.compression.codec": "zstd",
    }
    if shuffle_partitions:
        applied["spark.sql.shuffle.partitions"] = str(int(shuffle_partitions))
    for k, v in applied.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static in some deployments; report what we tried
    return {"applied": applied, "launch_required": dict(CLUSTER_LAUNCH_CONFS)}


def spark_pyspark_version(spark_home: str) -> str | None:
    """The pyspark version Spark hands its Python workers: the one in
    ``python/lib/pyspark.zip`` under ``spark_home``, else the JVM's (from
    the spark-core jar's name); None when neither is there."""
    try:
        with zipfile.ZipFile(os.path.join(spark_home, "python", "lib", "pyspark.zip")) as z:
            m = re.search(r"__version__\b.*?=\s*['\"]([^'\"]+)", z.read("pyspark/version.py").decode())
    except (OSError, KeyError):
        jars = glob(os.path.join(spark_home, "jars", "spark-core_*.jar"))
        m = jars and re.fullmatch(r"spark-core_[\d.]+-(.+)\.jar", os.path.basename(jars[0]))
    return m.group(1) if m else None


def python_worker_confs(installed: str, spark_version: str | None) -> dict[str, str]:
    """Launch confs for the session's Python workers.

    - Workers import the engine from ``ENGINE_ROOT`` whatever the
      driver's launch directory.
    - When the installed pyspark is the version Spark would hand the
      workers, they run it through ``snapflow_spark.worker_daemon``,
      which drops Spark's pyspark/py4j zips and spark-core jar from
      their path, so no task pays a zip-importer rescan. On a version
      mismatch (or an unknown Spark version) Spark's default daemon and
      its pyspark.zip stay.
    """
    confs = {"spark.executorEnv.PYTHONPATH": ENGINE_ROOT}
    if installed == spark_version:
        confs["spark.python.daemon.module"] = "snapflow_spark.worker_daemon"
    return confs


def build_session(app_name: str = "snapflow-spark", master: str | None = None) -> SparkSession:
    """Build the engine's own session (tests, bench, CLI runs).

    Besides ``tune``'s runtime confs it sets ``python_worker_confs``,
    which Spark reads only at launch: a driver-owned session that only
    gets ``tune`` keeps Spark's default Python worker path.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config(map=python_worker_confs(
            pyspark.__version__, spark_pyspark_version(_find_spark_home())
        ))
    )
    return tune(builder.getOrCreate())
