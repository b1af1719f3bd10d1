"""analyst_mix: a closed loop of oracle-checked registry queries.

One op is one query from the engine's ``queries`` registry: build the
DataFrame (``q.fn``, including any eager jobs inside it), collect it to the
driver, compare it with the query's DuckDB oracle. The schedule is one
seeded shuffle of the mix, repeated pass after pass. The oracles run once, before
set-up, on the same generated tables.
"""

from __future__ import annotations

import os
import random
import re
import time

import duckdb
import pandas as pd

import gen
from harness import CheckFailed, p50

# family -> registry names; every one has a DuckDB oracle
MIX = {
    "sql": ["tpch_q1_sql", "tpch_q3_sql", "tpch_q5_sql", "tpch_q6_sql", "tpch_q9_sql",
            "tpch_q12_sql", "tpch_q18_sql"],
    "agg": ["daily_stats", "top_groups", "hourly_analysis", "revenue_by_group"],
    "events": ["funnel_counts", "cohort_retention", "event_transitions",
               "rolling_active_users", "sessionize_batch"],
    "stats": ["quantiles", "group_quantiles", "iqr_outliers_exact", "mad_outliers_exact"],
    "dq": ["expectations_suite", "reconcile_rowcount", "reconcile_agg", "completeness",
           "dq_metrics_exact"],
    # the LLM-data operators through the registry: Gopher filter, PII
    # redaction, exact dedup, MinHash + connected components, semantic dedup
    "llm": ["gopher_filter", "pii_redact", "dedup_exact", "dedup_clusters",
            "semantic_dedup_exact"],
}
FAMILY = {name: fam for fam, names in MIX.items() for name in names}
SETUP_QUERY = "tpch_q1_sql"
_TABLE_REF = re.compile(r"\b(?:FROM|JOIN)\s+(\w+)", re.IGNORECASE)


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, object columns as text, rows sorted by all
    columns: the order-insensitive form both engines' results compare in."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype) == "object":
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(name: str, got: pd.DataFrame, want: pd.DataFrame) -> None:
    """Exact equality after normalization; NULLs equal NULLs."""
    if len(got) != len(want):
        raise CheckFailed(f"{name}: {len(got)} rows, oracle {len(want)}")
    if sorted(got.columns) != sorted(want.columns):
        raise CheckFailed(f"{name}: columns {sorted(got.columns)} vs {sorted(want.columns)}")
    a, b = normalize(got), normalize(want)
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            av, bv = av.astype(float), bv.astype(float)
            same = (av.isna() & bv.isna()) | (av == bv)
        else:
            same = av.astype(str).where(~av.isna(), "<NA>") == bv.astype(str).where(
                ~bv.isna(), "<NA>")
        if not same.all():
            i = int((~same).idxmax())
            raise CheckFailed(f"{name}: column {c} differs at row {i}: {av[i]!r} vs {bv[i]!r}")


class AnalystMix:
    name = "analyst_mix"
    warmup_ops = len(FAMILY) - 1  # with the set-up op, one untimed round
    pass_len = len(FAMILY)  # one timed round of the mix

    def __init__(self, work: str, seed: int, tracer, sf: float):
        self.work, self.seed, self.tracer, self.sf = work, seed, tracer, sf
        self.data = os.path.join(work, "star")
        self.lat: dict[str, list[float]] = {}

    def generate(self) -> None:
        from nyc_taxi_data_ingestion_spark.queries import REGISTRY

        self.input_bytes = gen.star_schema(self.seed, self.data, self.sf)
        self.corpus = gen.corpus(self.seed, self.data, base_docs=1_500, vectors=1_000)
        self.input_bytes += self.corpus.input_bytes
        con = duckdb.connect()
        try:
            for t in gen.STAR_TABLES + ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.data}/{t}.parquet')")
            self.oracle = {n: con.execute(REGISTRY[n].oracle).df() for n in FAMILY}
            rows = {t: con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
                    for t in gen.STAR_TABLES + ("documents", "embeddings")}
        finally:
            con.close()
        # input rows of a query: the rows of every table its oracle reads,
        # averaged over the mix
        self.op_rows = sum(
            sum(rows[t] for t in set(_TABLE_REF.findall(REGISTRY[n].oracle)) if t in rows)
            for n in FAMILY) / len(FAMILY)
        # one seeded order, repeated pass after pass: with the traced run's
        # alternation every query is traced once and untraced once. The
        # set-up op is the same query for every seed, so set-up times of
        # different seeds compare.
        rest = sorted(set(FAMILY) - {SETUP_QUERY})
        random.Random(self.seed).shuffle(rest)
        self.order = [SETUP_QUERY, *rest]

    def stage(self, spark) -> None:
        pass  # the registry plans each query when it is built

    def op(self, spark, i: int) -> float:
        from nyc_taxi_data_ingestion_spark.queries import REGISTRY

        name = self.order[(i if i >= 0 else -1 - i) % len(self.order)]
        q = REGISTRY[name]
        t0 = time.perf_counter()
        with self.tracer.span("queries.build", query=name):
            df = q.fn(spark, self.data)
        t1 = time.perf_counter()
        with self.tracer.span("queries.collect", query=name):
            got = df.toPandas()
        t2 = time.perf_counter()
        compare(name, got, self.oracle[name])
        self.tracer.record("queries.build_s", t1 - t0)
        self.tracer.record("queries.collect_s", t2 - t1)
        if self.tracer.enabled and i >= 0:
            self.lat.setdefault(FAMILY[name], []).append(t2 - t0)
        return t2 - t0

    def layer_totals(self) -> dict[str, float]:
        return {f"queries.{fam}_p50_s": p50(self.lat.get(fam) or [0.0]) for fam in MIX}
