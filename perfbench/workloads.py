"""The two workloads, each a closed loop: one client, one job at a time.

- ``curation``: LLM-data registry queries over documents and embeddings
  (Arrow Python UDFs, hashing, many-branch plans, heavy driver-side
  construction).
- ``incremental``: the reactive pipeline declared in ``pipeline.yaml``;
  each tick appends one changelog block and runs ``produce`` to the
  fixed point (parquet snapshots, ledger commits, compaction, a Delta
  MERGE per tick). It is the only workload that writes, and it runs
  almost no registry or UDF code. The pipeline is deployed
  ``REPLICAS`` times, each with its own warehouse and copy of the
  blocks, and every tick runs once on each deployment.

The amount of work is fixed (``BATCH_PASSES`` warm passes, ``TICKS``
warm ticks, each after one cold pass or tick), so every commit measures
the same work whatever it costs. A batch job is timed from calling the
registry function to the end of ``collect()`` (what a client waiting
for the complete result sees). A tick is timed from the start of its
block's append to the end of ``produce()``. Correctness checks run
outside the timed intervals.
"""

import statistics
import time
from pathlib import Path

import pandas as pd
import yaml

from perfbench import inputs

HERE = Path(__file__).resolve().parent

# A subset of the 14 curation queries: one run (set-up, cold pass, warm
# passes, checks) has to fit about a minute on 4 cores, and the whole roster
# costs about 23 s per warm pass even at sf0.001.
CURATION = [
    "q_dedup_simhash", "q_embed_near_dup", "q_tokenize_bpe", "q_multimodal_features",
]
CURATION_TABLES = ["documents", "embeddings"]
# rows-only queries (no SQL oracle): expected row count on the fixtures,
# which row order and file layout cannot change
EXPECTED_ROWS = {"q_multimodal_features": 200}

# Warm figures take each job's fastest pass, and each tick's faster
# replica (as bench.py takes the minimum of its warm repetitions): on a
# shared 4-vCPU host a pass or tick slows with the host's CPU steal,
# which moves between 0 and 25% from minute to minute, so medians of
# single passes or ticks spread by a quarter from run to run. The second
# replica to run a tick reuses the JVM's JIT and codegen work of the
# first: that skips the one-time warm-up of the first warm tick and
# about 3% of each later tick.
BATCH_PASSES = 6
TICKS = 3
REPLICAS = 2
# Stores compact once they hold more than this many snapshots: with one
# block per tick that is the fourth tick (the last warm one), so one
# warm tick in three compacts and the median tick does not.
AUTO_COMPACT_AFTER = 3
TAIL_PERCENTILE = 90
KEYS = ["user_id", "event_type"]


def percentile(values: list[float], p: int) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def warm_up(spark, work: Path) -> None:
    """One-time warm-up a long-running deployment has already paid:
    codegen + shuffle, Python worker spawn through Arrow, and parquet
    committer classloading."""
    from pyspark.sql.functions import pandas_udf

    spark.range(0, 4000).selectExpr("id % 7 AS k", "id").groupBy("k").count().collect()

    @pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    spark.range(64).select(plus_one("id")).collect()
    spark.range(4).write.mode("overwrite").parquet(str(work / "warm"))


class Unit:
    """A timed unit of work (one batch pass or one tick)."""

    def __init__(self, seconds: float, samples: list[float], failed: int, attempted: int,
                 rows: int = 0):
        self.seconds, self.samples = seconds, samples
        self.failed, self.attempted = failed, attempted
        self.rows = rows  # input rows consumed (ticks)


class Batch:
    """curation: passes over a roster of registry queries."""

    def __init__(self, spark, sf_dir: Path, roster: list[str], oracle) -> None:
        from snapflow_spark.registry import QUERIES, all_queries

        self.spark, self.sf_dir, self.roster = spark, str(sf_dir), roster
        self.fns = all_queries()
        self.specs = QUERIES
        self.oracle = oracle  # (duck connection, rowset fn)
        self._expected: dict[str, object] = {}
        self.job_times: dict[str, list[float]] = {q: [] for q in roster}
        self.errors: list[str] = []

    def _check(self, name: str, cols: list[str], rows: list[tuple]) -> bool:
        con, rowset = self.oracle
        sql = self.specs[name].oracle
        if sql is None:
            return len(rows) == EXPECTED_ROWS[name]
        if name not in self._expected:
            res = con.execute(sql)
            dcols = [d[0] for d in res.description]
            self._expected[name] = (sorted(dcols), rowset(dcols, res.fetchall()))
        dcols, expected = self._expected[name]
        return sorted(cols) == dcols and rowset(cols, rows) == expected

    def run_pass(self, tracer, record: bool = True) -> Unit:
        total, samples, failed = 0.0, [], 0
        for name in self.roster:
            try:
                t0 = time.perf_counter()
                with tracer.span("queries"):
                    df = self.fns[name](self.spark, self.sf_dir)
                with tracer.span("exec"):
                    rows = [tuple(r) for r in df.collect()]
                dt = time.perf_counter() - t0
                cols = df.columns
            except Exception as e:  # a failed job counts toward error_rate
                failed += 1
                self.errors.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
                continue
            finally:
                self.spark.catalog.clearCache()
            total += dt
            samples.append(dt)
            if record:
                self.job_times[name].append(dt)
            if not self._check(name, cols, rows):
                failed += 1
                self.errors.append(f"{name}: result differs from its oracle")
        return Unit(total, samples, failed, len(self.roster))

    def first_pass(self, tracer) -> Unit:
        return self.run_pass(tracer, record=False)

    def best(self) -> dict[str, float]:
        """Each job's warm latency: its fastest recorded pass."""
        return {q: min(v) for q, v in self.job_times.items() if v}


class Replica:
    """One deployment of the reactive pipeline of ``pipeline.yaml``, fed
    one block per tick."""

    def __init__(self, spark, work: Path, blocks: list[tuple[Path, int, int]],
                 errors: list[str]) -> None:
        from snapflow_spark.plans.yaml_config import load_graph

        self.spark = spark
        self.warehouse = work / "warehouse"
        self.delta_path = self.warehouse / "delta_table"
        self.blocks = blocks
        config = yaml.safe_load((HERE / "pipeline.yaml").read_text())
        for node in config["nodes"]:
            if node["function"] == "core.merge_delta":
                node["params"]["path"] = str(self.delta_path)
        self.graph = load_graph(config, warehouse=str(self.warehouse))
        self.source = self.graph.pipeline.sources["changes"]
        self.ticks = 0
        self.bytes_in = 0
        self.errors = errors
        self.broken = False

    def tick(self) -> Unit:
        from snapflow_spark.catalog import load_table

        if self.broken:
            return Unit(0.0, [], 1, 1)
        block_dir, rows, size = self.blocks[self.ticks]
        try:
            t0 = time.perf_counter()
            self.source.append(load_table(self.spark, str(block_dir), "events"))
            self.graph.produce(self.spark, auto_compact_after=AUTO_COMPACT_AFTER)
            dt = time.perf_counter() - t0
        except Exception as e:  # later ticks would run on a broken state
            self.broken = True
            self.errors.append(f"tick {self.ticks}: {type(e).__name__}: {str(e)[:200]}")
            return Unit(0.0, [], 1, 1)
        self.ticks += 1
        self.bytes_in += size
        return Unit(dt, [dt], 0, 1, rows)

    def first_pass(self, tracer) -> Unit:
        """Deploy the target Delta table, then the first (cold) tick."""
        from snapflow_spark.catalog import load_table
        from snapflow_spark.sources.delta import write_delta

        t0 = time.perf_counter()
        schema = load_table(self.spark, str(self.blocks[0][0]), "events").schema
        write_delta(self.spark.createDataFrame([], schema), str(self.delta_path), mode="error")
        create = time.perf_counter() - t0
        u = self.tick()
        return Unit(create + u.seconds, u.samples, u.failed, u.attempted)

    def check(self, con, rowset) -> bool:
        """Final keep-latest state and Delta table == the batch keep-latest
        over every row ingested (DuckDB)."""
        from snapflow_spark.sources.delta import read_delta

        files = [str(d / "events.parquet") for d, _r, _b in self.blocks[: self.ticks]]
        cols = inputs.CHANGELOG_COLS
        res = con.execute(
            f"SELECT {', '.join(cols)} FROM (SELECT *, row_number() OVER ("
            f"PARTITION BY {', '.join(KEYS)} ORDER BY ts DESC, event_id DESC) AS rn "
            f"FROM read_parquet({files!r})) WHERE rn = 1"
        )
        expected = rowset(cols, res.fetchall())
        state = self.graph.pipeline.store("latest_state").read_latest(self.spark)
        ok = True
        for label, df in (("latest_state", state), ("delta_table", read_delta(self.spark, str(self.delta_path)))):
            got = rowset(cols, [tuple(r) for r in df.select(*cols).collect()])
            if got != expected:
                ok = False
                self.errors.append(f"{label}: differs from the batch keep-latest ({len(got)} vs {len(expected)} rows)")
        return ok


def best_of(units: list[Unit]) -> Unit:
    """One tick run on every replica: timed as the fastest replica."""
    failed, attempted = sum(u.failed for u in units), sum(u.attempted for u in units)
    if failed:
        return Unit(0.0, [], failed, attempted)
    best = min(u.seconds for u in units)
    return Unit(best, [best], 0, attempted, units[0].rows)


class Incremental:
    """``REPLICAS`` deployments fed the same blocks in the same order, so
    tick ``i`` does the same work on each."""

    def __init__(self, spark, work: Path, blocks: list[list[tuple[Path, int, int]]]) -> None:
        self.warehouse = work / "warehouse"
        self.errors: list[str] = []
        self.replicas = [
            Replica(spark, self.warehouse / f"r{k}", b, self.errors) for k, b in enumerate(blocks)
        ]
        first = self.replicas[0]
        self.graph, self.delta_path = first.graph, first.delta_path

    @property
    def ticks(self) -> int:
        return min(r.ticks for r in self.replicas)

    @property
    def bytes_in(self) -> int:
        return sum(r.bytes_in for r in self.replicas)

    def first_pass(self, tracer) -> Unit:
        """The first replica's cold tick; the others then catch up,
        untraced and untimed."""
        u = self.replicas[0].first_pass(tracer)
        failed, attempted = u.failed, u.attempted
        enabled, tracer.enabled = tracer.enabled, False
        for r in self.replicas[1:]:
            v = r.first_pass(tracer)
            failed, attempted = failed + v.failed, attempted + v.attempted
        tracer.enabled = enabled
        return Unit(u.seconds, u.samples, failed, attempted)

    def check(self, con, rowset) -> bool:
        return all([r.check(con, rowset) for r in self.replicas])
