"""The replication workloads, each a closed loop with one client.

Every workload has the same shape, so the runner can measure them alike:

- ``setup()`` builds the destination's starting state (base snapshot, first
  full load, corpus index); it counts toward ``setup_s``.
- ``commit()`` runs one unit of replication work through the engine's public
  API and returns the input rows it consumed, or ``None`` when the inputs are
  used up.
- ``read()`` is the live reader that follows every commit: ``read()`` on the
  destination plus an aggregate, checked against the generator's reference.
- ``maintain()`` runs table maintenance when it is due (compaction); it is
  timed apart from commits.
- ``verify()`` checks the final destination against an independent reference
  and returns the number of mismatches.
"""

from __future__ import annotations

import collections
import json
import os

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from olake_spark.materialize import materialize
from olake_spark.operators import dedup as dd
from olake_spark.plans.state import SyncState
from olake_spark.plans.stream import ConfiguredStream, StreamMetadata, StreamSpec
from olake_spark.sinks.table import ManagedTable
from olake_spark.streaming import curation
from olake_spark.streaming.replay import replay_batches
from olake_spark import sync


def latest_manifest(table_path: str) -> dict:
    commits = os.path.join(table_path, "_commits")
    last = max(f for f in os.listdir(commits) if f.startswith("v") and f.endswith(".json"))
    with open(os.path.join(commits, last)) as fh:
        return json.load(fh)


def corrupt_table(table_path: str) -> None:
    """Delete one live data file: a destination that lost committed rows."""
    victim = sorted(latest_manifest(table_path)["files"])[0]
    os.remove(victim)


class Workload:
    name = ""
    warmup_cycles = 2

    def __init__(self, spark, tracer, inputs: str, expect: dict, work: str):
        self.spark = spark
        self.tracer = tracer
        self.inputs = inputs
        self.expect = expect
        self.work = work
        self.dest = os.path.join(work, "dest")
        self.commits = 0
        self.input_bytes = 0
        self.rows_read = 0
        self.delta_groups: list[int] = []  # delta groups seen by each read
        self.deltas = 0
        self.rows_applied = 0
        self.setup_checks: list[bool] = []
        self.days_done: list[dict] = []  # curated days, in order
        self.evolve_sid: int | None = None

    def path(self, name: str) -> str:
        return os.path.join(self.inputs, name)

    def table_path(self) -> str:
        raise NotImplementedError

    def setup(self) -> None:
        raise NotImplementedError

    def commit(self) -> int | None:
        raise NotImplementedError

    def read(self) -> bool:
        """The reader queries after a commit; True when they match."""
        raise NotImplementedError

    def maintain(self, force: bool = False) -> bool:
        """Table maintenance when due, or now when ``force``; True if it ran."""
        return False

    def pending(self) -> bool:
        """Whether maintenance still owes work (the loop ends after it)."""
        return False

    def start_window(self) -> None:
        """Zero the counters the per-layer metrics read (after warm-up)."""
        self.input_bytes = 0
        self.rows_read = 0
        self.rows_applied = 0
        self.delta_groups.clear()

    def verify(self) -> int:
        """Mismatches between the final destination and the reference."""
        raise NotImplementedError

    def source(self, files: list[str]):
        df = self.spark.read.parquet(*[self.path(f) for f in files])
        self.tracer.probe("sources.scan", df)
        return df


class CdcMor(Workload):
    """A CDC stream: full-refresh backfill of the source table, then
    LSN-ordered change batches through ``replay_batches(mor=True)``."""

    name = "cdc_mor"
    keys = ["region_id", "order_no"]
    compact_at = 3  # delta groups that trigger a compaction
    # commit latency keeps falling for about six batches after start-up
    # (JIT); warming through them keeps the window's median from depending
    # on how many commits fit in it
    warmup_cycles = 6

    def table_path(self) -> str:
        return os.path.join(self.dest, "bench__orders")

    def setup(self) -> None:
        base = self.expect["base"]
        df = self.spark.read.parquet(self.path(base["dir"]))
        spec = StreamSpec("orders", "bench", df.schema.jsonValue(),
                          source_defined_primary_key=self.keys)
        cs = ConfiguredStream(spec, StreamMetadata("orders", "bench"))
        with self.tracer.span("sync.full_refresh"):
            res = sync.sync_stream(self.spark, cs, df, self.dest, SyncState())
        # the backfill's own check: row count and an order-free checksum
        self.setup_checks.append(res.rows == base["rows"] and self.read())
        self.table = ManagedTable(self.spark, self.table_path())

    def commit(self) -> int | None:
        if self.commits >= len(self.expect["batches"]):
            return None
        b = self.expect["batches"][self.commits]
        df = self.source([b["file"]])
        with self.tracer.span("streaming.replay.batch"):
            out = replay_batches(self.table, [df], self.keys, "lsn", mor=True)
        delta = latest_manifest(self.table_path())["groups"][-1]
        self.rows_applied += sum(pq.read_metadata(f).num_rows for f in delta["files"])
        self.commits += 1
        self.input_bytes += b["bytes"]
        self.rows_read += b["rows"]
        if out["batches_applied"] != 1:
            raise RuntimeError(f"batch {b['file']} not applied: {out}")
        return b["rows"]

    def maintain(self, force: bool = False) -> bool:
        if not self.deltas or (not force and self.deltas < self.compact_at):
            return False
        with self.tracer.span("sinks.compact"):
            self.table.compact()
        self.deltas = 0
        return True

    def pending(self) -> bool:
        return self.deltas > 0

    def read(self) -> bool:
        m = latest_manifest(self.table_path())
        self.deltas = sum(1 for g in m.get("groups") or [] if g.get("delta"))
        self.delta_groups.append(self.deltas)
        t = ManagedTable(self.spark, self.table_path())
        with self.tracer.span("sinks.read_plan"):
            df = t.read()
        with self.tracer.span("sinks.read_exec"):
            row = df.agg(*self.aggregates()).first()
        return tuple(int(v or 0) for v in row) == self.read_expected()

    def aggregates(self) -> list:
        if not self.commits:
            return [
                F.count(F.lit(1)),
                F.sum("amount"),
                F.sum(F.conv(F.substring("_olake_id", 1, 8), 16, 10).cast("long")),
                F.sum(F.length("payload")),
                F.sum(F.unix_seconds("updated_at")),
            ]
        return [F.count(F.lit(1)), F.sum("amount")]

    def read_expected(self) -> tuple:
        if not self.commits:
            b = self.expect["base"]
            return (b["rows"], b["sum_amount"], b["sum_id_prefix"], b["sum_payload_len"],
                    b["sum_updated_s"])
        b = self.expect["batches"][self.commits - 1]
        return (b["count"], b["sum_amount"])

    def verify(self) -> int:
        """Full latest-state-per-key comparison against DuckDB."""
        from gen import LATEST_COLS, latest_state_sql

        got = self.table.read().select(*LATEST_COLS).toPandas()
        return _duckdb_diff(got, latest_state_sql(self.inputs, self.commits))


class IncrementalCurate(Workload):
    """Cursor syncs of a documents stream through ``sync_stream`` (incremental
    mode, COW upsert), then the drop's new documents through ``curate_batch``
    + ``incremental_minhash_dedup`` against a persisted corpus index, with
    the survivors appended to a curated table."""

    name = "incremental_curate"

    def table_path(self) -> str:
        return os.path.join(self.dest, "bench__documents")

    def curated_path(self) -> str:
        return os.path.join(self.dest, "curated")

    def setup(self) -> None:
        self.state = SyncState()
        self.state_path = os.path.join(self.work, "state.json")
        base = self.spark.read.parquet(self.path(self.expect["base"]["file"]))
        spec = StreamSpec(
            "documents", "bench", base.schema.jsonValue(),
            supported_sync_modes=["full_refresh", "incremental"],
            source_defined_primary_key=["doc_id"],
            available_cursor_fields=["updated_at"],
            sync_mode="incremental",
            cursor_field="updated_at",
        )
        self.cs = ConfiguredStream(spec, StreamMetadata("documents", "bench"))
        sync.sync_stream(self.spark, self.cs, base, self.dest, self.state)
        self.state.save(self.state_path)
        self.index_path = os.path.join(self.work, "index")
        with self.tracer.span("curate.index"):
            dd.minhash_index(base, "doc_id", "text").write.parquet(self.index_path)
        self.curated = ManagedTable(self.spark, self.curated_path())

    def commit(self) -> int | None:
        drops = self.expect["drops"]
        i = self.commits
        if i >= len(drops):
            return None
        d = drops[i]
        files = [d["file"]]
        # the previous drop is re-delivered while the schema is unchanged;
        # the cursor filter must drop all of it
        if i > 0 and drops[i - 1]["evolved"] == d["evolved"]:
            files.insert(0, drops[i - 1]["file"])
        df = self.source(files)
        with self.tracer.span("sync.sync_stream") as s:
            res = sync.sync_stream(self.spark, self.cs, df, self.dest, self.state)
        if s is not None and i == self.expect["evolve_round"]:
            self.evolve_sid = s.sid
        with self.tracer.span("plans.state_save"):
            self.state.save(self.state_path)
        if res.rows != d["rows"]:
            raise RuntimeError(f"round {i}: synced {res.rows} rows of {d['rows']}")
        with self.tracer.span("curate.day"):
            arrivals = df.filter(F.col("doc_id").between(d["id_lo"], d["id_hi"]))
            curated = curation.curate_batch(arrivals, "doc_id", "text", min_tokens=5)
            self.tracer.probe("streaming.curation.curate_batch", curated)
            curated = curated.transform(materialize)
            index = self.spark.read.parquet(self.index_path)
            survivors = dd.incremental_minhash_dedup(
                curated, index, "doc_id", "text", threshold=0.7, cache_index=False
            )
            self.tracer.probe("operators.dedup.incremental_minhash", survivors)
            self.curated.append(survivors.select("doc_id", "source", "text"))
            # the dedup operator leaves the day's signatures cached for the
            # caller to release
            self.spark.catalog.clearCache()
        self.days_done.append(d)
        self.commits += 1
        self.input_bytes += d["bytes"]
        self.rows_read += sum(drops[i - k]["rows"] for k in range(len(files)))
        return d["rows"]

    def read(self) -> bool:
        """Readers of both tables: the synced documents and the survivors."""
        with self.tracer.span("sinks.read_plan"):
            docs = ManagedTable(self.spark, self.table_path()).read()
            kept = ManagedTable(self.spark, self.curated_path()).read()
        with self.tracer.span("sinks.read_exec"):
            a = docs.agg(F.count(F.lit(1)), F.sum("views")).first()
            b = kept.agg(F.count(F.lit(1)), F.sum("doc_id")).first()
        self.delta_groups.append(0)
        d = self.expect["drops"][self.commits - 1]
        got = tuple(int(v or 0) for v in (*a, *b))
        return got == (d["count"], d["sum_views"], d["curated_count"], d["curated_sum_doc_id"])

    def verify(self) -> int:
        """Latest row per document against DuckDB over the drops; curated
        survivors against the oracle; planted duplicates gone."""
        drops = self.expect["drops"][: self.commits]
        files = [self.expect["base"]["file"]] + [d["file"] for d in drops]
        cols = ["doc_id", "source", "text", "views"] + (
            ["lang"] if any(d["evolved"] for d in drops) else []
        )
        got = ManagedTable(self.spark, self.table_path()).read().select(*cols).toPandas()
        bad = _duckdb_diff(
            got,
            f"""
            SELECT {', '.join(cols)}
            FROM read_parquet({_paths(self, files)}, union_by_name = true)
            QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY updated_at DESC) = 1
            """,
        )
        kept = collections.Counter(
            r[0] for r in self.curated.read().select("doc_id").collect()
        )

        def delivered(i: int) -> bool:
            return any(d["id_lo"] <= i <= d["id_hi"] for d in drops)

        want = collections.Counter(i for i in self.expect["survivors"] if delivered(i))
        bad += sum(((kept - want) + (want - kept)).values())
        bad += sum(1 for i in self.expect["planted_exact"] if delivered(i) and kept[i])
        # MinHash is probabilistic: a planted near duplicate (one word
        # replaced) is caught with probability ~0.97 at these sizes
        near = [i for i in self.expect["planted_near"] if delivered(i)]
        if near and sum(1 for i in near if not kept[i]) < 0.85 * len(near):
            bad += 1
        return bad


def _paths(w: Workload, files: list[str]) -> str:
    return "[" + ", ".join(f"'{w.path(f)}'" for f in files) + "]"


def _duckdb_diff(got, reference_sql: str) -> int:
    """Rows in the symmetric difference of ``got`` and the reference."""
    con = duckdb.connect()
    try:
        con.register("got", got)
        con.execute(f"CREATE TABLE want AS {reference_sql}")
        cols = ", ".join(f'"{c}"' for c in got.columns)
        n = con.execute(
            f"""SELECT (SELECT count(*) FROM (SELECT {cols} FROM got EXCEPT ALL
                                              SELECT {cols} FROM want))
                     + (SELECT count(*) FROM (SELECT {cols} FROM want EXCEPT ALL
                                              SELECT {cols} FROM got))"""
        ).fetchone()[0]
    finally:
        con.close()
    return int(n)


WORKLOADS = {w.name: w for w in (CdcMor, IncrementalCurate)}
