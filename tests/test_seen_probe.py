"""The seen-filter probe runs in Catalyst: its membership Columns are
bit-identical to the numpy reference filters, and its executed plan holds
no Python stage."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from spiders_for_all_spark.operators import dedup as D

I64 = np.iinfo(np.int64)
EDGES = [0, -1, 1, I64.min, I64.max, 1 << 48, (1 << 48) - 1, 12345,
         -(1 << 48), (1 << 63) - (1 << 48), 0x5BD1E995, -0x5BD1E995]


@pytest.fixture(scope="module")
def probe_hashes():
    rng = np.random.default_rng(4)
    rand = rng.integers(I64.min, I64.max, size=3000, dtype=np.int64, endpoint=True)
    # top 16 bits zero: the fingerprint is remapped 0 -> 1
    low = rng.integers(0, 1 << 48, size=200, dtype=np.int64)
    return np.unique(np.concatenate([rand, low, np.array(EDGES, dtype=np.int64)]))


def _maybe_by_bucket(spark, hashes, filters, member, buckets):
    """``_maybe`` for every (bucket, hash) pair, keyed like the reference."""
    keys = pd.DataFrame(
        {"bucket": np.repeat(np.array(buckets, dtype=np.int32), len(hashes)),
         "url_hash": np.tile(hashes, len(buckets))}
    )
    fb = spark.createDataFrame(keys, "bucket int, url_hash long")
    rows = D._mark_maybe(fb, filters, member).collect()
    return {(r["bucket"], r["url_hash"]): r["_maybe"] for r in rows}


def test_cuckoo_member_bit_exact(spark, probe_hashes):
    h = probe_hashes
    full = D.CuckooFilter(capacity=len(h))  # half the keys in, ~fp hits
    assert full.bulk_insert(h[::2])
    small = D.CuckooFilter(capacity=40)  # another m, tiny and crowded
    small.bulk_insert(h[1:60:3])
    rows = [
        (0, len(h), bytearray(full.to_bytes()), False),
        (1, 40, bytearray(small.to_bytes()), False),
        (2, 40, bytearray(small.to_bytes()), True),  # overflowed: all maybe
        # bucket 3 has no filter row: nothing seen there
    ]
    filters = spark.createDataFrame(rows, schema=D.CUCKOO_SCHEMA)
    got = _maybe_by_bucket(spark, h, filters, D._cuckoo_member(), [0, 1, 2, 3])
    want = {0: full.contains(h), 1: small.contains(h),
            2: np.ones(len(h), bool), 3: np.zeros(len(h), bool)}
    for b, ref in want.items():
        assert [got[(b, int(x))] for x in h] == ref.tolist(), f"bucket {b}"
    assert want[0].sum() >= len(h) // 2 and not want[0].all()


def test_bloom_member_bit_exact(spark, probe_hashes):
    h = probe_hashes
    sizing = {
        0: D.bloom_params(64),  # the crowded default-fpp sizing
        1: D.bloom_params(10_000),
        2: (128, 16),  # the most hashes a row can hold
        3: (64, 1),
    }
    frames = [D._bloom_row(b, h[b::3], n_bits, k) for b, (n_bits, k) in sizing.items()]
    filters = spark.createDataFrame(pd.concat(frames), schema=D.BLOOM_SCHEMA)
    got = _maybe_by_bucket(spark, h, filters, D._bloom_member(), [0, 1, 2, 3, 4])
    for f in frames:
        b, n_bits, k = (int(f[c].iloc[0]) for c in ("bucket", "n_bits", "n_hashes"))
        bits = np.frombuffer(f["bits"].iloc[0], np.uint8)
        pos = D._positions(h, n_bits, k)
        ref = ((bits[pos // 8] & (1 << (pos % 8)).astype(np.uint8)) != 0).all(axis=0)
        assert [got[(b, int(x))] for x in h] == ref.tolist(), f"bucket {b}"
    # bucket 4 has no filter row: nothing seen there
    assert not any(got[(4, int(x))] for x in h)


PYTHON_EXECS = ("FlatMapCoGroupsInPandas", "FlatMapGroupsInPandas", "MapInPandas",
                "ArrowEvalPython", "BatchEvalPython")


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_probe_plan_has_no_python_stage(spark, tmp_path, kind):
    """The probe's executed plan is JVM-only, and its rows equal the exact
    anti-join.  The filter table is read back from parquet, as the engine
    reads the committed one."""
    seen = spark.range(0, 400).select(F.xxhash64(F.col("id").cast("string")).alias("url_hash"))
    frontier = spark.range(200, 700).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"),
        F.concat(F.lit("u"), F.col("id")).alias("url"),
    )
    filt = D.SeenFilter(kind, n_buckets=8, capacity_per_bucket=64)
    filt.build(seen).write.parquet(str(tmp_path / kind))
    filt.filters = spark.read.parquet(str(tmp_path / kind))
    out = filt.probe(frontier, seen)
    got = sorted(r["url"] for r in out.collect())
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert not [p for p in PYTHON_EXECS if p in plan], plan
    assert got == sorted(r["url"] for r in D.seen_anti_join(frontier, seen).collect())
    assert len(got) == 300
