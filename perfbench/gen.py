"""Seeded input generators for the benchmark.

Every generator takes a seed, writes parquet files the engine reads, and
returns the answers the benchmark checks outputs against. The engine only
ever sees the written files; the same seed always yields byte-identical
inputs (see ``test_gen.py``).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

UTC_US = pa.timestamp("us", tz="UTC")


def _write(table: pa.Table, path: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


# -- taxi month (FIXTURES.md §1 schema, §2 defect mix) -----------------------

MONTH_START_S = 1704067200  # 2024-01-01T00:00:00Z
MONTH_SECONDS = 31 * 86400

# FIXTURES §2 defects, disjoint row sets: (name, fraction)
DEFECTS = (
    ("null_passenger_count", 0.05),
    ("negative_fare", 0.02),
    ("zero_distance", 0.03),
    ("over_capacity", 0.02),
    ("impossible_distance", 0.01),
)
RESENT_FRACTION = 0.01


@dataclass
class TaxiTruth:
    path: str
    rows: int  # rows in the file, re-sent duplicates included
    input_bytes: int
    survivors: int  # silver rows after the four filters and dedupe
    revenue_cents: dict[int, int]  # payment_type -> SUM(total_amount) in cents
    trips_by_day: dict[int, int]  # day of month (1-31) -> surviving trips


def _taxi_columns(rng: np.random.Generator, n: int, start_s: int, span_s: int):
    """n trips with unique pickup seconds inside [start_s, start_s+span_s)."""
    pickup = start_s + np.sort(rng.choice(span_s, size=n, replace=False))
    dropoff = pickup + rng.integers(5 * 60, 120 * 60 + 1, size=n)
    fare = rng.integers(500, 20001, size=n)  # cents
    extra = rng.integers(0, 501, size=n)
    mta = np.full(n, 50)
    tip = rng.integers(0, 2001, size=n)
    tolls = rng.integers(0, 1001, size=n)
    surcharge = np.full(n, 30)
    return {
        "VendorID": rng.integers(1, 3, size=n).astype(np.int32),
        "pickup_s": pickup,
        "dropoff_s": dropoff,
        "passenger_count": rng.integers(1, 7, size=n).astype(np.int32),
        "trip_distance": rng.integers(50, 5001, size=n) / 100.0,
        "RatecodeID": rng.integers(1, 6, size=n).astype(np.int32),
        "store_and_fwd_flag": np.where(rng.random(n) < 0.5, "Y", "N"),
        "PULocationID": rng.integers(1, 266, size=n).astype(np.int32),
        "DOLocationID": rng.integers(1, 266, size=n).astype(np.int32),
        "payment_type": rng.integers(1, 5, size=n).astype(np.int32),
        "fare_c": fare,
        "extra_c": extra,
        "mta_c": mta,
        "tip_c": tip,
        "tolls_c": tolls,
        "surcharge_c": surcharge,
        "total_c": fare + extra + mta + tip + tolls + surcharge,
        "pc_null": np.zeros(n, dtype=bool),
    }


def _inject_defects(rng: np.random.Generator, cols: dict) -> None:
    n = len(cols["pickup_s"])
    order = rng.permutation(n)
    pos = 0
    for name, frac in DEFECTS:
        idx = order[pos : pos + int(round(n * frac))]
        pos += len(idx)
        if name == "null_passenger_count":
            cols["pc_null"][idx] = True
        elif name == "negative_fare":
            cols["fare_c"][idx] = -1000
        elif name == "zero_distance":
            cols["trip_distance"][idx] = 0.0
        elif name == "over_capacity":
            cols["passenger_count"][idx] = 10
        else:
            cols["trip_distance"][idx] = 999.99


def _silver_mask(cols: dict) -> np.ndarray:
    """The four reference Silver filters."""
    pc = cols["passenger_count"]
    return (
        (cols["fare_c"] > 0)
        & (cols["trip_distance"] > 0)
        & ~cols["pc_null"]
        & (pc >= 1)
        & (pc <= 6)
        & (cols["dropoff_s"] > cols["pickup_s"])
    )


def taxi_arrow(cols: dict, idx: np.ndarray | None = None) -> pa.Table:
    """The yellow-taxi wire schema (FIXTURES §1) for rows ``idx``."""
    sel = (lambda a: a) if idx is None else (lambda a: a[idx])
    money = lambda k: pa.array(sel(cols[k]) / 100.0, pa.float64())  # noqa: E731
    return pa.table(
        {
            "VendorID": pa.array(sel(cols["VendorID"]), pa.int32()),
            "tpep_pickup_datetime": pa.array(
                sel(cols["pickup_s"]) * 1_000_000, pa.int64()
            ).cast(UTC_US),
            "tpep_dropoff_datetime": pa.array(
                sel(cols["dropoff_s"]) * 1_000_000, pa.int64()
            ).cast(UTC_US),
            "passenger_count": pa.array(
                sel(cols["passenger_count"]), pa.int32(), mask=sel(cols["pc_null"])
            ),
            "trip_distance": pa.array(sel(cols["trip_distance"]), pa.float64()),
            "RatecodeID": pa.array(sel(cols["RatecodeID"]), pa.int32()),
            "store_and_fwd_flag": pa.array(sel(cols["store_and_fwd_flag"]), pa.string()),
            "PULocationID": pa.array(sel(cols["PULocationID"]), pa.int32()),
            "DOLocationID": pa.array(sel(cols["DOLocationID"]), pa.int32()),
            "payment_type": pa.array(sel(cols["payment_type"]), pa.int32()),
            "fare_amount": money("fare_c"),
            "extra": money("extra_c"),
            "mta_tax": money("mta_c"),
            "tip_amount": money("tip_c"),
            "tolls_amount": money("tolls_c"),
            "improvement_surcharge": money("surcharge_c"),
            "total_amount": money("total_c"),
        }
    )


def taxi_month(seed: int, path: str, rows: int = 1_400_000) -> TaxiTruth:
    """One yellow-taxi month: ``rows`` distinct trips with the FIXTURES §2
    defect fractions, plus ≈1% of rows re-sent as exact duplicates, in a
    shuffled order. Every distinct trip has a distinct pickup second, so
    the Silver dedupe key (vendor, pickup, pickup zone) is unique per trip
    and the expected survivors are exactly the trips passing the filters."""
    rng = np.random.default_rng([seed, 1])
    cols = _taxi_columns(rng, rows, MONTH_START_S, MONTH_SECONDS)
    _inject_defects(rng, cols)
    resent = rng.choice(rows, size=int(rows * RESENT_FRACTION), replace=False)
    order = rng.permutation(np.concatenate([np.arange(rows), resent]))
    nbytes = _write(taxi_arrow(cols, order), path)

    keep = _silver_mask(cols)
    revenue = {
        int(p): int(cols["total_c"][keep & (cols["payment_type"] == p)].sum())
        for p in np.unique(cols["payment_type"][keep])
    }
    days = (cols["pickup_s"][keep] - MONTH_START_S) // 86400 + 1
    d, c = np.unique(days, return_counts=True)
    return TaxiTruth(
        path=path,
        rows=len(order),
        input_bytes=nbytes,
        survivors=int(keep.sum()),
        revenue_cents=revenue,
        trips_by_day={int(a): int(b) for a, b in zip(d, c)},
    )


# -- lakehouse CDC stream -----------------------------------------------------


@dataclass
class CdcPlan:
    """A clean trip table to seed, then per cycle one day's append batch and
    one scattered upsert batch. Row ``trip_id`` values are unique across the
    seed and every append; upsert keys are drawn from rows already live."""

    seed_path: str
    seed_rows: int
    input_bytes: int  # seed + every batch written, the user bytes ingested
    append_paths: list[str]
    upsert_paths: list[str]


CDC_COLUMNS = (
    "trip_id", "pickup_datetime", "pickup_date", "vendor_id",
    "pickup_location_id", "payment_type", "fare_amount", "total_amount",
)


def _cdc_table(ids, pickup_s, rng: np.random.Generator) -> pa.Table:
    n = len(ids)
    fare = rng.integers(500, 20001, size=n)
    total = fare + rng.integers(80, 3000, size=n)
    ts = pa.array(pickup_s * 1_000_000, pa.int64()).cast(UTC_US)
    return pa.table(
        {
            "trip_id": pa.array(ids, pa.int64()),
            "pickup_datetime": ts,
            "pickup_date": pa.array(
                (pickup_s // 86400).astype(np.int32), pa.date32()
            ),
            "vendor_id": pa.array(rng.integers(1, 3, size=n), pa.int32()),
            "pickup_location_id": pa.array(rng.integers(1, 266, size=n), pa.int32()),
            "payment_type": pa.array(rng.integers(1, 5, size=n), pa.int32()),
            # integer cents as DECIMAL(10,2): exact sums on both engines
            "fare_amount": _cents(fare),
            "total_amount": _cents(total),
        }
    )


def _cents(c: np.ndarray) -> pa.Array:
    """Integer cents as DECIMAL(10,2), built from the 128-bit storage."""
    words = np.empty((len(c), 2), dtype=np.int64)
    words[:, 0] = c
    words[:, 1] = np.where(c < 0, -1, 0)
    return pa.Array.from_buffers(
        pa.decimal128(10, 2), len(c), [None, pa.py_buffer(words.tobytes())]
    )


def cdc_stream(
    seed: int,
    root: str,
    seed_rows: int,
    cycles: int,
    day_rows: int,
    upsert_fraction: float = 0.001,
) -> CdcPlan:
    """The seeded table is ``seed_rows`` trips over January; cycle ``i``
    appends ``day_rows`` trips dated 1 Feb + i days and upserts
    ``upsert_fraction`` of the rows live before it (new fares, same keys)."""
    rng = np.random.default_rng([seed, 2])
    seed_ids = np.arange(seed_rows, dtype=np.int64)
    seed_ts = MONTH_START_S + np.sort(rng.integers(0, MONTH_SECONDS, size=seed_rows))
    nbytes = _write(_cdc_table(seed_ids, seed_ts, rng), f"{root}/seed.parquet")
    appends, upserts = [], []
    next_id = seed_rows
    live = seed_rows
    for i in range(cycles):
        ids = np.arange(next_id, next_id + day_rows, dtype=np.int64)
        day0 = MONTH_START_S + MONTH_SECONDS + i * 86400
        ts = day0 + np.sort(rng.integers(0, 86400, size=day_rows))
        p = f"{root}/append_{i:04d}.parquet"
        nbytes += _write(_cdc_table(ids, ts, rng), p)
        appends.append(p)
        next_id += day_rows
        live += day_rows
        keys = np.sort(rng.choice(live, size=max(1, int(live * upsert_fraction)), replace=False))
        # an upserted row keeps its key and pickup day, changes its fares
        key_ts = np.where(
            keys < seed_rows,
            seed_ts[np.minimum(keys, seed_rows - 1)],
            MONTH_START_S + MONTH_SECONDS
            + ((keys - seed_rows) // day_rows) * 86400
            + rng.integers(0, 86400, size=len(keys)),
        )
        p = f"{root}/upsert_{i:04d}.parquet"
        nbytes += _write(_cdc_table(keys.astype(np.int64), key_ts, rng), p)
        upserts.append(p)
    return CdcPlan(
        seed_path=f"{root}/seed.parquet",
        seed_rows=seed_rows,
        input_bytes=nbytes,
        append_paths=appends,
        upsert_paths=upserts,
    )


# -- text corpus with planted near-duplicates, plus embeddings ----------------


@dataclass
class CorpusTruth:
    docs_path: str
    emb_path: str
    docs: int
    input_bytes: int
    gopher_kept: int  # documents with at least 50 words
    curated: int  # gopher-kept documents minus the exact copies
    near_dup_pairs: list[tuple[int, int]]  # (base id, variant id)
    vectors: int
    vector_dup_pairs: list[tuple[int, int]]  # (original id, near copy id)


def _vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    lens = rng.integers(3, 10, size=size)
    letters = rng.integers(0, 26, size=int(lens.sum()))
    ends = np.cumsum(lens)
    flat = "".join(chr(97 + c) for c in letters)
    return np.array([flat[e - n : e] for e, n in zip(ends, lens)], dtype=object)


def corpus(
    seed: int,
    root: str,
    base_docs: int,
    vectors: int,
    dim: int = 64,
) -> CorpusTruth:
    """``base_docs`` random documents over a synthetic vocabulary: 5% are
    too short for the Gopher filter, 10% carry an e-mail address, 3% of
    the long ones are re-sent verbatim (exact duplicates) and 10% of the
    long ones get 1-3 near-duplicate variants with one substituted word
    per 40 (3-word-shingle Jaccard to the base ≈ 0.85, above the 0.7
    verification threshold). Variant and copy ids are above every base
    id, so keep-lowest-id keeps the base. The embeddings are random unit
    directions with 5% near copies (cosine ≈ 0.999)."""
    rng = np.random.default_rng([seed, 3])
    vocab = _vocab(rng, 4000)
    texts: list[str] = []
    long_ids: list[int] = []
    for i in range(base_docs):
        short = rng.random() < 0.05
        n = int(rng.integers(15, 41) if short else rng.integers(60, 141))
        words = list(vocab[rng.integers(0, len(vocab), size=n)])
        if rng.random() < 0.10:
            words[int(rng.integers(0, n))] = f"user{i}@example.com"
        texts.append(" ".join(words))
        if not short:
            long_ids.append(i)
    long_ids = np.array(long_ids)
    copies = rng.choice(long_ids, size=int(len(long_ids) * 0.03), replace=False)
    texts += [texts[b] for b in copies]
    pairs = []
    for b in rng.choice(long_ids, size=int(len(long_ids) * 0.10), replace=False):
        base = texts[b].split(" ")
        for _ in range(int(rng.integers(1, 4))):
            words = list(base)
            for p in rng.choice(len(words), size=max(1, len(words) // 40), replace=False):
                new = vocab[int(rng.integers(0, len(vocab)))]
                while new == words[p]:
                    new = vocab[int(rng.integers(0, len(vocab)))]
                words[p] = new
            pairs.append((int(b), len(texts)))
            texts.append(" ".join(words))
    n_docs = len(texts)
    order = rng.permutation(n_docs)
    docs = pa.table(
        {
            "doc_id": pa.array(order, pa.int64()),
            "text": pa.array([texts[i] for i in order], pa.string()),
            "lang": pa.array(
                np.array(["en", "de", "fr", "es", "zh"])[rng.integers(0, 5, size=n_docs)]
            ),
            "source": pa.array(
                np.char.add("src", rng.integers(0, 20, size=n_docs).astype(str))
            ),
            "n_chars": pa.array([len(texts[i]) for i in order], pa.int64()),
        }
    )
    nbytes = _write(docs, f"{root}/documents.parquet")

    n_dup = int(vectors * 0.05)
    base = rng.standard_normal((vectors, dim)).astype(np.float32)
    src = rng.choice(vectors - n_dup, size=n_dup, replace=False)
    base[vectors - n_dup :] = base[src] + 0.02 * rng.standard_normal((n_dup, dim)).astype(
        np.float32
    )
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(vectors), pa.int64()),
            "embedding": pa.array(list(base), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, size=vectors), pa.int32()),
        }
    )
    nbytes += _write(emb, f"{root}/embeddings.parquet")
    return CorpusTruth(
        docs_path=f"{root}/documents.parquet",
        emb_path=f"{root}/embeddings.parquet",
        docs=n_docs,
        input_bytes=nbytes,
        gopher_kept=len(long_ids) + len(copies) + len(pairs),
        curated=len(long_ids) + len(pairs),
        near_dup_pairs=pairs,
        vectors=vectors,
        vector_dup_pairs=[
            (int(s), vectors - n_dup + j) for j, s in enumerate(src)
        ],
    )


# -- analyst star schema (the query registry's table layout) -----------------

STAR_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events",
)
_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_EVENTS = ("click", "error", "purchase", "signup", "view")
_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01


def _pick(rng, values, n) -> pa.Array:
    return pa.array(np.array(values, dtype=object)[rng.integers(0, len(values), size=n)],
                    pa.string())


def _money(rng, lo_c: int, hi_c: int, n: int) -> pa.Array:
    return pa.array(rng.integers(lo_c, hi_c + 1, size=n) / 100.0, pa.float64())


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, pa.int64()).cast(pa.timestamp("us"))


def star_schema(seed: int, root: str, sf: float) -> int:
    """The registry's star schema (TPC-H-like tables plus ``events``) at
    scale factor ``sf``, one parquet file per table under ``root``, with
    the same columns and value domains the registry's queries are written
    against. Returns the bytes written."""
    rng = np.random.default_rng([seed, 4])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_ev, n_users = int(1_500_000 * sf), int(1_000_000 * sf), int(15_000 * sf)
    lines = rng.integers(1, 8, size=n_ord)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(n_ord), lines)
    l_line = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, size=n_li).astype(np.float64)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(rng.integers(0, 5, size=25), pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust), pa.int32()),
            "c_acctbal": _money(rng, -99_999, 999_999, n_cust),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, size=n_supp), pa.int32()),
            "s_acctbal": _money(rng, -99_999, 999_999, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(
                np.char.add(np.char.add(np.array(_ADJ)[rng.integers(0, 8, size=n_part)], " "),
                            np.array(_NOUN)[rng.integers(0, 8, size=n_part)])
            ),
            "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, size=n_part).astype(str))),
            "p_type": _pick(rng, _PTYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, size=n_part), pa.int32()),
            "p_retailprice": _money(rng, 90_000, 99_990, n_part),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, size=n_ord), pa.int64()),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": _money(rng, 100_000, 50_000_000, n_ord),
            "o_orderdate": _ts(_EPOCH_1995_US + rng.integers(0, 2405, size=n_ord) * _DAY_US),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, size=n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, size=n_li), pa.int64()),
            "l_linenumber": pa.array(l_line, pa.int32()),
            "l_quantity": pa.array(qty, pa.float64()),
            "l_extendedprice": pa.array(
                qty * rng.integers(90_000, 210_000, size=n_li) / 100.0, pa.float64()
            ),
            "l_discount": pa.array(rng.integers(0, 11, size=n_li) / 100.0, pa.float64()),
            "l_tax": pa.array(rng.integers(0, 9, size=n_li) / 100.0, pa.float64()),
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
            "l_linestatus": _pick(rng, ("F", "O"), n_li),
            "l_shipdate": _ts(_EPOCH_1995_US + rng.integers(1, 2500, size=n_li) * _DAY_US),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts(1_704_067_200_000_000 + np.sort(
                rng.choice(30 * _DAY_US, size=n_ev, replace=False))),
            "user_id": pa.array(rng.integers(0, n_users, size=n_ev), pa.int64()),
            "event_type": _pick(rng, _EVENTS, n_ev),
            "value": pa.array(np.round(rng.exponential(50.0, size=n_ev), 2), pa.float64()),
            "props": pa.array(np.char.add(np.char.add('{"k": ', rng.integers(0, 100, size=n_ev)
                                                      .astype(str)), "}")),
        }),
    }
    return sum(_write(t, f"{root}/{name}.parquet") for name, t in tables.items())
