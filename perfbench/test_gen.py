"""The generators are deterministic in their seed, and their answers hold.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402

SMALL = {
    "taxi": lambda seed, root: gen.taxi_month(seed, f"{root}/taxi.parquet", rows=20_000),
    "cdc": lambda seed, root: gen.cdc_stream(seed, root, 5_000, 3, 500),
    "corpus": lambda seed, root: gen.corpus(seed, root, base_docs=300, vectors=200),
    "star": lambda seed, root: gen.star_schema(seed, root, sf=0.002),
}


def digest(root: str) -> str:
    """sha256 over every file under ``root``, in path order."""
    h = hashlib.sha256()
    for p in sorted(os.path.join(r, f) for r, _, fs in os.walk(root) for f in fs):
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


@pytest.mark.parametrize("kind", sorted(SMALL))
def test_same_seed_same_bytes(kind, tmp_path):
    make = SMALL[kind]
    a, b, c = (str(tmp_path / d) for d in "abc")
    ra, rb, rc = (repr(make(s, d)).replace(d, "<root>") for s, d in ((7, a), (7, b), (8, c)))
    assert digest(a) == digest(b)
    assert ra == rb
    assert digest(a) != digest(c)
    assert ra != rc


def test_taxi_answers_match_the_file(tmp_path):
    truth = SMALL["taxi"](3, str(tmp_path))
    df = pq.read_table(truth.path).to_pandas()
    assert len(df) == truth.rows
    keep = df[
        (df.fare_amount > 0)
        & (df.trip_distance > 0)
        & df.passenger_count.between(1, 6)
        & (df.tpep_dropoff_datetime > df.tpep_pickup_datetime)
    ].drop_duplicates(["VendorID", "tpep_pickup_datetime", "PULocationID"])
    assert len(keep) == truth.survivors
    cents = (keep.total_amount * 100).round().astype(np.int64)
    assert cents.groupby(keep.payment_type).sum().to_dict() == truth.revenue_cents
    assert keep.tpep_pickup_datetime.dt.day.value_counts().to_dict() == truth.trips_by_day


def test_cdc_upserts_hit_live_unique_keys(tmp_path):
    plan = SMALL["cdc"](3, str(tmp_path))
    live = set(pq.read_table(plan.seed_path).column("trip_id").to_pylist())
    for app, ups in zip(plan.append_paths, plan.upsert_paths):
        new = pq.read_table(app).column("trip_id").to_pylist()
        assert live.isdisjoint(new)
        live.update(new)
        keys = pq.read_table(ups).column("trip_id").to_pylist()
        assert len(set(keys)) == len(keys) and set(keys) <= live


def _shingles(text: str, k: int = 3) -> set[str]:
    toks = text.lower().split()
    return {" ".join(toks[i : i + k]) for i in range(max(1, len(toks) - k + 1))}


def test_corpus_plants_what_it_reports(tmp_path):
    truth = SMALL["corpus"](3, str(tmp_path))
    docs = pq.read_table(truth.docs_path).to_pandas().set_index("doc_id")
    assert len(docs) == truth.docs
    assert (docs.text.str.split().str.len() >= 50).sum() == truth.gopher_kept
    long_docs = docs[docs.text.str.split().str.len() >= 50]
    assert long_docs.text.nunique() == truth.curated
    for base, variant in truth.near_dup_pairs:
        a, b = _shingles(docs.text[base]), _shingles(docs.text[variant])
        assert len(a & b) / len(a | b) >= 0.7
    emb = np.stack(pq.read_table(truth.emb_path).column("embedding").to_numpy(zero_copy_only=False))
    unit = emb / np.linalg.norm(emb, axis=1, keepdims=True)
    for orig, copy in truth.vector_dup_pairs:
        assert unit[orig] @ unit[copy] > 0.99
