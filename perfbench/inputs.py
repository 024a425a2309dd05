"""Seeded inputs, generated before any timing starts.

The sources are the checked-in sf0.001 fixtures under
``perfbench/fixtures`` (the engine's deterministic TPC-H-style tables plus
``events``, ``documents`` and ``embeddings``). The same seed always gives
byte-identical inputs; the engine only ever sees the generated files.

- ``tables``: every table with a seeded row order and seeded row-group
  boundaries (the file layout), one ``<name>.parquet`` per table, so the
  directory is a drop-in ``sf_dir`` for the registry queries and for the
  DuckDB oracles.
- ``changelog``: the ``events`` rows as an event changelog, cut into
  blocks at seeded boundaries (equal blocks, each boundary moved by up to
  a twenty-fifth of a block, so that per-tick work and rows per second
  stay comparable across seeds). Every block after the first also carries
  late updates to ``(user_id, event_type)`` keys already seen: some newer
  than the key's latest row (they win), some older (they must lose).
  Blocks past the base rows replay them in a disjoint key namespace
  (user and event ids offset per replica), so any number of ticks can be
  fed without repeating a key.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

FIXTURES = Path(__file__).resolve().parent / "fixtures" / "sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
CHANGELOG_COLS = ["event_id", "user_id", "event_type", "ts", "value"]
BASE_BLOCKS = 8
LATE_PER_BLOCK = (4, 12)  # inclusive-exclusive range of late rows per block
LATE_LOSER_SHARE = 0.3  # late rows older than their key's latest row
REPLICA_USER_OFFSET = 10_000_000
REPLICA_EVENT_OFFSET = 1_000_000_000


def _write(table: pa.Table, path: Path, row_group_size: int | None = None) -> int:
    pq.write_table(table, path, row_group_size=row_group_size)
    return path.stat().st_size


def tables(out: Path, seed: int) -> dict[str, dict[str, int]]:
    """Write every table with a seeded row order and row-group layout;
    returns {table: {"rows", "bytes"}}."""
    rng = np.random.default_rng(seed)
    out.mkdir(parents=True, exist_ok=True)
    info = {}
    for name in TABLES:
        t = pq.read_table(FIXTURES / f"{name}.parquet")
        n = t.num_rows
        perm = rng.permutation(n)
        groups = int(rng.integers(1, 5))
        rg = max(1, -(-n // groups))
        size = _write(t.take(pa.array(perm)), out / f"{name}.parquet", rg)
        info[name] = {"rows": n, "bytes": size}
    return info


class Changelog:
    """Seeded event-changelog blocks over the ``events`` fixture."""

    def __init__(self, out: Path, seed: int) -> None:
        self.out = out
        self.rng = np.random.default_rng([seed, 1])
        out.mkdir(parents=True, exist_ok=True)
        ev = pq.read_table(FIXTURES / "events.parquet").select(CHANGELOG_COLS)
        self.base = ev.take(pc.sort_indices(ev, [("ts", "ascending"), ("event_id", "ascending")]))
        n = self.base.num_rows
        step = n // BASE_BLOCKS
        jitter = self.rng.integers(-step // 25, step // 25 + 1, BASE_BLOCKS - 1)
        self.bounds = [0, *(step * np.arange(1, BASE_BLOCKS) + jitter).tolist(), n]
        self.max_event = int(pc.max(self.base["event_id"]).as_py())
        self.written: list[Path] = []
        # latest (ts, event_id) per key among rows already emitted
        self.latest: dict[tuple[int, str], tuple[int, int]] = {}
        self._next_late = 1

    def block(self, i: int) -> tuple[Path, int, int]:
        """Write block ``i`` (0-based, in order); returns (dir, rows, bytes).
        The block is a one-table sf_dir holding ``events.parquet``."""
        assert i == len(self.written), "blocks are generated in order"
        replica, j = divmod(i, BASE_BLOCKS)
        part = self.base.slice(self.bounds[j], self.bounds[j + 1] - self.bounds[j])
        if replica:
            part = part.set_column(
                0, "event_id", pc.add(part["event_id"], replica * REPLICA_EVENT_OFFSET)
            ).set_column(
                1, "user_id", pc.add(part["user_id"], replica * REPLICA_USER_OFFSET)
            )
        if i:
            part = pa.concat_tables([part, self._late_rows(part.schema)])
        d = self.out / f"block-{i:05d}"
        d.mkdir(exist_ok=True)
        size = _write(part, d / "events.parquet")
        self._remember(part)
        self.written.append(d)
        return d, part.num_rows, size

    def _remember(self, part: pa.Table) -> None:
        ts = part["ts"].cast(pa.int64()).to_pylist()
        for eid, uid, et, t in zip(
            part["event_id"].to_pylist(), part["user_id"].to_pylist(),
            part["event_type"].to_pylist(), ts,
        ):
            key = (uid, et)
            if key not in self.latest or (t, eid) > self.latest[key]:
                self.latest[key] = (t, eid)

    def _late_rows(self, schema: pa.Schema) -> pa.Table:
        keys = list(self.latest)
        k = int(self.rng.integers(*LATE_PER_BLOCK))
        picks = self.rng.choice(len(keys), size=min(k, len(keys)), replace=False)
        rows = {c: [] for c in CHANGELOG_COLS}
        for p in sorted(picks.tolist()):
            uid, et = keys[p]
            latest_ts, _ = self.latest[(uid, et)]
            shift = int(self.rng.integers(1, 3_600)) * 1_000_000  # 1 s .. 1 h in µs
            ts = latest_ts - shift if self.rng.random() < LATE_LOSER_SHARE else latest_ts + shift
            rows["event_id"].append(self.max_event + self._next_late + REPLICA_EVENT_OFFSET // 2)
            self._next_late += 1
            rows["user_id"].append(uid)
            rows["event_type"].append(et)
            rows["ts"].append(ts)
            rows["value"].append(round(float(self.rng.normal(50.0, 20.0)), 6))
        cols = [
            pa.array(rows[c], type=pa.int64()) if c == "ts" else pa.array(rows[c])
            for c in CHANGELOG_COLS
        ]
        cols[CHANGELOG_COLS.index("ts")] = cols[CHANGELOG_COLS.index("ts")].cast(
            schema.field("ts").type
        )
        return pa.Table.from_arrays(cols, schema=schema)
