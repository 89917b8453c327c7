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
    """Is every (bucket, hash) pair a maybe, keyed like the reference."""
    keys = pd.DataFrame(
        {"bucket": np.repeat(np.array(buckets, dtype=np.int32), len(hashes)),
         "url_hash": np.tile(hashes, len(buckets))}
    )
    fb = spark.createDataFrame(keys, "bucket int, url_hash long")
    new, maybe = D._split(fb, filters, member)
    got = {(r["bucket"], r["url_hash"]): True for r in maybe.collect()}
    for r in new.collect():
        assert (r["bucket"], r["url_hash"]) not in got
        got[(r["bucket"], r["url_hash"])] = False
    assert len(got) == len(keys)
    return got


def test_cuckoo_member_bit_exact(spark, probe_hashes):
    h = probe_hashes
    full = D.CuckooFilter(capacity=len(h))  # half the keys in, ~fp hits
    assert full.bulk_insert(h[::2])
    small = D.CuckooFilter(capacity=40)  # another m, tiny and crowded
    small.bulk_insert(h[1:60:3])
    other = D.CuckooFilter(capacity=300)  # a third m
    other.bulk_insert(h[1::10])
    rows = [
        (0, 0, len(h), bytearray(full.to_bytes()), False),
        # bucket 1: three segments, a union of three table sizes
        (1, 0, 40, bytearray(small.to_bytes()), False),
        (1, 1, 300, bytearray(other.to_bytes()), False),
        (1, 2, len(h), bytearray(full.to_bytes()), False),
        # bucket 2: only one of its two segments overflowed: all maybe
        (2, 0, 300, bytearray(other.to_bytes()), False),
        (2, 1, 40, bytearray(small.to_bytes()), True),
        # bucket 3 has no filter row: nothing seen there
    ]
    filters = spark.createDataFrame(rows, schema=D.CUCKOO_SCHEMA)
    got = _maybe_by_bucket(spark, h, filters, D._cuckoo_member(), [0, 1, 2, 3])
    want = {0: full.contains(h),
            1: small.contains(h) | other.contains(h) | full.contains(h),
            2: np.ones(len(h), bool), 3: np.zeros(len(h), bool)}
    for b, ref in want.items():
        assert [got[(b, int(x))] for x in h] == ref.tolist(), f"bucket {b}"
    assert want[0].sum() >= len(h) // 2 and not want[0].all()
    assert want[1].sum() > want[0].sum() and not want[1].all()


def test_bloom_member_bit_exact(spark, probe_hashes):
    h = probe_hashes
    # (bucket, round) -> (n_bits, n_hashes), keys; bucket 1 holds three
    # segments over disjoint keys
    sizing = {
        (0, 0): (D.bloom_params(64), 640),  # the crowded default-fpp sizing
        (1, 0): (D.bloom_params(10_000), 640),
        (1, 1): ((128, 16), 8),  # the most hashes a row can hold
        (1, 2): (D.bloom_params(200, 0.01 / 64), 200),
        (2, 0): ((64, 1), 20),
    }
    frames = [
        D._bloom_row(b, h[b + rnd :: 5][:n], n_bits, k).assign(round=rnd)
        for (b, rnd), ((n_bits, k), n) in sizing.items()
    ]
    cols = ["bucket", "round", "n_bits", "n_hashes", "bits"]
    filters = spark.createDataFrame(pd.concat(frames)[cols], schema=D.BLOOM_SCHEMA)
    got = _maybe_by_bucket(spark, h, filters, D._bloom_member(), [0, 1, 2, 3, 4])
    want = {b: np.zeros(len(h), bool) for b in range(5)}
    for f in frames:
        b, n_bits, k = (int(f[c].iloc[0]) for c in ("bucket", "n_bits", "n_hashes"))
        bits = np.frombuffer(f["bits"].iloc[0], np.uint8)
        pos = D._positions(h, n_bits, k)
        want[b] |= ((bits[pos // 8] & (1 << (pos % 8)).astype(np.uint8)) != 0).all(axis=0)
    for b, ref in want.items():
        assert [got[(b, int(x))] for x in h] == ref.tolist(), f"bucket {b}"
    # bucket 4 has no filter row: nothing seen there
    assert not want[4].any()
    assert 640 + 8 + 200 <= want[1].sum() < len(h)


PYTHON_EXECS = ("FlatMapCoGroupsInPandas", "FlatMapGroupsInPandas", "MapInPandas",
                "ArrowEvalPython", "BatchEvalPython")


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_probe_plan_has_no_python_stage(spark, tmp_path, kind):
    """The probe's executed plan is JVM-only, and its rows equal the exact
    anti-join.  The filter table holds three segments, each written to its
    own parquet dir and read back, as the engine reads the committed
    one."""
    seen = spark.range(0, 400).select(F.xxhash64(F.col("id").cast("string")).alias("url_hash"))
    frontier = spark.range(200, 700).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"),
        F.concat(F.lit("u"), F.col("id")).alias("url"),
    )
    filt = D.SeenFilter(kind, n_buckets=8)
    dirs = []
    for rnd in range(3):
        dirs.append(str(tmp_path / f"{kind}-{rnd}"))
        part = seen.filter(F.pmod(F.col("url_hash"), F.lit(3)) == rnd)
        filt.build(part, rnd).write.parquet(dirs[-1])
    filt.filters = spark.read.parquet(*dirs)
    assert filt.filters.groupBy("bucket").count().filter("count = 3").count() == 8
    out = filt.probe(frontier, seen)
    got = sorted(r["url"] for r in out.collect())
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert not [p for p in PYTHON_EXECS if p in plan], plan
    assert "LeftAnti" in plan and "LeftSemi" in plan, plan
    assert got == sorted(r["url"] for r in D.seen_anti_join(frontier, seen).collect())
    assert len(got) == 300


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_segment_bytes_follow_the_delta(spark, kind):
    """Over six rounds the seen set grows 6x while each round's delta stays
    the same size: every round's new segment is bounded by c*|delta| raw
    bytes and does not grow with |seen|.  The union of the segments still
    holds every seen key."""
    filt = D.SeenFilter(kind, n_buckets=8, compact_every=64)
    delta_n, sizes, segments = 400, [], []
    for rnd in range(6):
        delta = spark.range(rnd * delta_n, (rnd + 1) * delta_n).select(
            F.xxhash64(F.col("id").cast("string")).alias("url_hash")
        )
        seg = filt.build(delta, rnd).collect()
        assert {r["round"] for r in seg} == {rnd}
        sizes.append(sum(len(r["bits" if kind == "bloom" else "table"]) for r in seg))
        segments += seg
    assert all(s <= 8 * delta_n for s in sizes), sizes
    assert max(sizes) <= 2 * min(sizes), sizes
    filt.filters = spark.createDataFrame(
        segments, schema=D.BLOOM_SCHEMA if kind == "bloom" else D.CUCKOO_SCHEMA
    )
    seen = spark.range(0, 6 * delta_n).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")
    )
    new, maybe = D._split(D.with_bucket(seen, 8), filt.filters,
                          D._bloom_member() if kind == "bloom" else D._cuckoo_member())
    assert new.count() == 0 and maybe.count() == 6 * delta_n
