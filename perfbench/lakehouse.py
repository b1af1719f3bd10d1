"""lakehouse_cdc: a fixed CDC cycle schedule over one ``sources.snapshots`` table.

The table is seeded with a month of trips (stats on pickup date and trip id).
One op is one cycle: append one day's batch, apply a ~0.1% scattered upsert,
then run the read set (a pruned date-range aggregate, a time-travel read of
the previous version, an incremental read of the new append). Every
``COMPACT_EVERY``-th cycle ends with compaction and snapshot expiry.
Every read is checked against a model of the table kept in DuckDB.
"""

from __future__ import annotations

import os
import time

import duckdb

import gen
from harness import check, p50, pct, timed

STATS = ["pickup_date", "trip_id"]
COMPACT_EVERY = 3
MAX_CYCLES = 40
# the pruned read: three January days, i.e. a tenth of the seeded month
WINDOW = ("2024-01-10", "2024-01-12")


class LakehouseCdc:
    name = "lakehouse_cdc"
    # the set-up op and the warm-up ops are the first two compaction periods
    # (cycles 0-5; the seed files are rewritten at cycle 2); a pass is the
    # next two periods, so every run times whole sawtooth periods and the
    # p90 of a pass lies between its two compaction cycles
    warmup_ops = 2 * COMPACT_EVERY - 1
    pass_len = 2 * COMPACT_EVERY

    def __init__(self, work: str, seed: int, tracer, seed_rows: int, day_rows: int):
        self.work, self.seed, self.tracer = work, seed, tracer
        self.seed_rows, self.day_rows = seed_rows, day_rows
        self.table = os.path.join(work, "table")
        self.commits: list[float] = []
        self.reads: list[float] = []
        self.written = self.ingested = 0

    def generate(self) -> None:
        self.plan = gen.cdc_stream(
            self.seed, os.path.join(self.work, "input"), self.seed_rows,
            MAX_CYCLES, self.day_rows,
        )
        self.input_bytes = self.plan.input_bytes
        # rows one cycle ingests: the day's batch plus the upsert batch
        self.op_rows = self.day_rows + int((self.seed_rows + self.day_rows) * 0.001)

    def close(self) -> None:
        if getattr(self, "db", None) is not None:
            self.db.close()

    def _agg(self, df) -> tuple[int, int]:
        from pyspark.sql import functions as F

        r = df.agg(F.count("*").alias("n"), F.sum("total_amount").alias("s")).collect()[0]
        return r.n, int((r.s or 0) * 100)

    def _model(self, where: str = "") -> tuple[int, int]:
        n, s = self.db.execute(
            f"SELECT count(*), CAST(coalesce(sum(total_amount), 0) * 100 AS BIGINT) "
            f"FROM t {where}"
        ).fetchone()
        return n, s

    def stage(self, spark) -> None:
        """Seed commit of the table; the DuckDB model starts from the same rows."""
        from nyc_taxi_data_ingestion_spark.sources.snapshots import snapshot_write

        self.db = duckdb.connect()
        self.db.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{self.plan.seed_path}')")
        self.version = snapshot_write(
            spark.read.parquet(self.plan.seed_path), self.table, mode="overwrite",
            stats_cols=STATS,
        )
        self.model_versions = {self.version: self._model()}
        self.cycle = 0
        self.files = self._files()

    def _files(self) -> dict[str, int]:
        out = {}
        for root, _d, names in os.walk(self.table):
            for n in names:
                p = os.path.join(root, n)
                out[p] = os.path.getsize(p)
        return out

    def _timed(self, name: str, sink: list | None, fn):
        out, el = timed(self.tracer, name, fn)
        self.tracer.record(name + "_s", el)
        if sink is not None:
            sink.append(el)
        self.engine_s += el
        return out

    def op(self, spark, i: int) -> float:
        from nyc_taxi_data_ingestion_spark.sources import snapshots as sn

        c = self.cycle
        if c >= MAX_CYCLES:
            raise StopIteration
        self.cycle += 1
        self.engine_s = 0.0
        app, ups = self.plan.append_paths[c], self.plan.upsert_paths[c]
        prev = self.version
        measured = i >= 0

        v_app = self._timed(
            "sources.snapshots.append", self.commits if measured else None,
            lambda: sn.snapshot_write(spark.read.parquet(app), self.table, mode="append",
                                      stats_cols=STATS),
        )
        self.db.execute(f"INSERT INTO t SELECT * FROM read_parquet('{app}')")
        self.model_versions[v_app] = self._model()
        self.version = self._timed(
            "sources.snapshots.upsert", self.commits if measured else None,
            lambda: sn.snapshot_upsert_eq(spark, self.table, spark.read.parquet(ups),
                                          ["trip_id"]),
        )
        self.db.execute(
            f"DELETE FROM t WHERE trip_id IN (SELECT trip_id FROM read_parquet('{ups}'))")
        self.db.execute(f"INSERT INTO t SELECT * FROM read_parquet('{ups}')")
        self.model_versions[self.version] = self._model()

        lo, hi = WINDOW
        t = time.perf_counter()
        scan = self._timed(
            "sources.snapshots.scan_plan", None,
            lambda: sn.scan_snapshot(spark, self.table, column="pickup_date",
                                     lower=lo, upper=hi),
        )
        got = self._timed("sources.snapshots.scan_exec", None, lambda: self._agg(scan))
        if measured:
            self.reads.append(time.perf_counter() - t)
        check(got == self._model(f"WHERE pickup_date BETWEEN '{lo}' AND '{hi}'"),
              f"cycle {c}: pruned read {got} != model")
        got = self._timed(
            "sources.snapshots.time_travel", self.reads if measured else None,
            lambda: self._agg(sn.read_snapshot(spark, self.table, version=prev)),
        )
        check(got == self.model_versions[prev], f"cycle {c}: time travel to v{prev} differs")
        got = self._timed(
            "sources.snapshots.incremental_read", self.reads if measured else None,
            lambda: self._agg(sn.read_appends_between(spark, self.table, prev, v_app)),
        )
        want = self.db.execute(
            f"SELECT count(*), CAST(sum(total_amount) * 100 AS BIGINT) "
            f"FROM read_parquet('{app}')").fetchone()
        check(got == want, f"cycle {c}: incremental read {got} != {want}")

        stats = sn.scan_prune_stats(self.table, column="pickup_date", lower=lo, upper=hi)
        self.tracer.record("sources.snapshots.files_kept_ratio",
                           stats["kept_files"] / max(1, stats["total_files"]))
        debt = sn.delete_debt(self.table)
        self.tracer.record("sources.snapshots.delete_debt_rows",
                           debt["deleted_rows"] + debt["eq_deleted_keys"])
        if c % COMPACT_EVERY == COMPACT_EVERY - 1:
            self.version = self._timed(
                "sources.snapshots.compact", None,
                lambda: sn.snapshot_compact(spark, self.table, stats_cols=STATS))
            self.model_versions[self.version] = self._model()
            self._timed("sources.snapshots.expire", None,
                        lambda: sn.expire_snapshots(self.table, keep_last=1))

        files = self._files()
        if measured:
            self.written += sum(sz for p, sz in files.items() if self.files.get(p) != sz)
            self.ingested += os.path.getsize(app) + os.path.getsize(ups)
            self.table_bytes = sum(files.values()) / self._ingested(c)
        self.files = files
        meta = sum(sz for p, sz in files.items() if "_snapshots" in p or p.endswith(".json"))
        self.tracer.record("sources.snapshots.metadata_bytes", meta)
        self.tracer.record("sources.snapshots.files_live", stats["total_files"])
        return self.engine_s

    def layer_totals(self) -> dict[str, float]:
        """Commit and read latency over every timed cycle, the bytes the
        timed cycles wrote per byte they ingested, and the table's bytes at
        the end per user byte committed over its life."""
        return {
            "sources.snapshots.bytes_written_per_input_byte": self.written / self.ingested,
            "sources.snapshots.table_bytes_per_input_byte": self.table_bytes,
            "sources.snapshots.commit_p50_s": p50(self.commits),
            "sources.snapshots.commit_p90_s": pct(self.commits, 90),
            "sources.snapshots.read_p50_s": p50(self.reads),
            "sources.snapshots.read_p90_s": pct(self.reads, 90),
        }

    def _ingested(self, c: int) -> int:
        """User bytes committed up to and including cycle ``c``."""
        return os.path.getsize(self.plan.seed_path) + sum(
            os.path.getsize(p)
            for p in self.plan.append_paths[: c + 1] + self.plan.upsert_paths[: c + 1]
        )
