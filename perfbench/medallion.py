"""medallion_batch: repeated full refreshes of the paper's taxi pipeline.

One op is one ``plans.runner.run_medallion`` call: health, compile, Silver
(rename, cast, the four reference filters, dedupe, derived columns, written
partitioned by year/month), the reference's three gold marts and the
quality task, all over one generated yellow-taxi month.
"""

from __future__ import annotations

import os
import time
from decimal import Decimal

import gen
from harness import check, dir_bytes

SILVER = {
    "renames": {
        "VendorID": "vendor_id",
        "tpep_pickup_datetime": "pickup_datetime",
        "tpep_dropoff_datetime": "dropoff_datetime",
        "PULocationID": "pickup_location_id",
        "DOLocationID": "dropoff_location_id",
        "RatecodeID": "rate_code_id",
    },
    "casts": {
        "fare_amount": "decimal(10,2)",
        "tip_amount": "decimal(10,2)",
        "total_amount": "decimal(10,2)",
    },
    "derived": {
        "trip_duration_minutes":
            "(unix_timestamp(dropoff_datetime) - unix_timestamp(pickup_datetime)) / 60.0",
        "avg_speed_mph": "trip_distance / ((unix_timestamp(dropoff_datetime)"
                         " - unix_timestamp(pickup_datetime)) / 3600.0)",
        "year": "CAST(year(pickup_datetime) AS INT)",
        "month": "CAST(month(pickup_datetime) AS INT)",
        "day_of_week": "CAST(dayofweek(pickup_datetime) AS INT)",
        "hour_of_day": "CAST(hour(pickup_datetime) AS INT)",
        "pickup_date": "CAST(pickup_datetime AS DATE)",
    },
    "filters": [
        "fare_amount > 0",
        "trip_distance > 0",
        "passenger_count BETWEEN 1 AND 6",
        "dropoff_datetime > pickup_datetime",
    ],
    "dedupe": {
        "keys": ["vendor_id", "pickup_datetime", "pickup_location_id"],
        "order_by": "dropoff_datetime DESC",
        "tie_breakers": ["dropoff_location_id"],
    },
    "partition_by": ["year", "month"],
}

GOLD = [
    {"name": "daily_trip_stats", "group_by": ["pickup_date"], "measures": [
        {"name": "total_trips", "expr": "COUNT(*)"},
        {"name": "total_revenue", "expr": "SUM(total_amount)"},
        {"name": "avg_fare", "expr": "AVG(fare_amount)"},
        {"name": "avg_distance", "expr": "AVG(trip_distance)"},
        {"name": "avg_duration_minutes", "expr": "AVG(trip_duration_minutes)"},
    ]},
    {"name": "hourly_location_analysis", "group_by": ["hour_of_day", "pickup_location_id"],
     "measures": [
        {"name": "trip_count", "expr": "COUNT(*)"},
        {"name": "avg_fare", "expr": "AVG(fare_amount)"},
        {"name": "avg_speed_mph", "expr": "AVG(avg_speed_mph)"},
    ]},
    {"name": "revenue_by_payment_type", "group_by": ["payment_type"], "measures": [
        {"name": "trip_count", "expr": "COUNT(*)"},
        {"name": "total_revenue", "expr": "SUM(total_amount)"},
        {"name": "total_tips", "expr": "SUM(tip_amount)"},
    ]},
]


class MedallionBatch:
    name = "medallion_batch"
    warmup_ops = 3
    pass_len = 6

    def __init__(self, work: str, seed: int, tracer, rows: int):
        self.work, self.seed, self.tracer, self.rows = work, seed, tracer, rows
        self.wh = os.path.join(work, "warehouse")

    def generate(self) -> None:
        self.truth = gen.taxi_month(
            self.seed, os.path.join(self.work, "input", "yellow_tripdata.parquet"), self.rows
        )
        self.op_rows = self.truth.rows
        self.input_bytes = self.truth.input_bytes
        self.cfg = {
            "version": "2.0",
            "pipeline": {"name": "yellow_taxi"},
            "source": {"path": self.truth.path, "format": "parquet"},
            "silver": SILVER,
            "gold": GOLD,
        }

    def stage(self, spark) -> None:
        pass  # the pipeline compiles inside each refresh

    def op(self, spark, i: int) -> float:
        from nyc_taxi_data_ingestion_spark.plans.runner import run_medallion

        observed: dict[str, dict] = {}
        t0 = time.perf_counter()
        with self.tracer.span("plans.runner.run_medallion"):
            res = run_medallion(spark, self.cfg, self.wh, metrics_out=observed)
        wall = time.perf_counter() - t0

        bad = [(r.name, r.status, r.error) for r in res if r.status != "ok"]
        check(not bad, f"tasks not ok: {bad}")
        by = {r.name: r for r in res}
        gold_tasks = [r for r in res if r.name.startswith("gold:") or r.name == "quality"]
        self.tracer.record("plans.runner.compile_s", by["compile"].seconds)
        self.tracer.record("plans.runner.silver_s", by["silver"].seconds)
        self.tracer.record("plans.runner.quality_s", by["quality"].seconds)
        self.tracer.record("plans.runner.attempts", sum(r.attempts for r in res))
        self.tracer.record("plans.runner.gold_wave_s", wall - sum(
            by[n].seconds for n in ("health", "compile", "silver")))
        self.tracer.record("plans.runner.gold_task_sum_s", sum(r.seconds for r in gold_tasks))
        nbytes, nfiles = dir_bytes(self.wh)
        self.tracer.record("sources.sinks.bytes_written", nbytes)
        self.tracer.record("sources.sinks.files_written", nfiles)
        self.tracer.record("sources.sinks.bytes_written_per_input_byte", nbytes / self.input_bytes)

        silver_rows = observed["silver/yellow_taxi"]["row_count"]
        check(silver_rows == self.truth.survivors,
              f"silver rows {silver_rows} != expected {self.truth.survivors}")
        daily = spark.read.parquet(os.path.join(self.wh, "gold", "daily_trip_stats")).collect()
        by_day = {r.pickup_date.day: r.total_trips for r in daily}
        check(sum(by_day.values()) == silver_rows, "daily_trip_stats trips != silver rows")
        check(by_day == self.truth.trips_by_day, "daily_trip_stats trips per day differ")
        pay = spark.read.parquet(
            os.path.join(self.wh, "gold", "revenue_by_payment_type")).collect()
        got = {r.payment_type: r.total_revenue for r in pay}
        want = {p: Decimal(c).scaleb(-2) for p, c in self.truth.revenue_cents.items()}
        check(got == want, f"revenue by payment type {got} != reference {want}")
        return wall
