"""URL-seen set: exact anti-join, fronted by a per-bucket bloom or cuckoo
prefilter (J1).

The reference dedups via DB unique constraints and ``sorted(set(ids))``
(reference: core/spider.py:218-236, utils/helper.py:55,
spiders/bilibili/downloader.py:295).  At 10^10 URLs the exact seen table is
hash-bucketed by ``pmod(url_hash, n_buckets)`` and fronted by a log of
filter SEGMENTS: each segment is one filter per bucket (bloom bitmap or
cuckoo table), built in an Arrow-batched ``applyInPandas`` aggregation
(Spark's ``bloom_filter_agg`` is JVM-internal and not persistable, SURVEY
§4.3.1) from one batch of keys and sized from its actual key count.  A
round appends one segment built from its own seen delta, so it writes
O(delta) filter bytes; compaction folds the segments into one, built from
the live seen set.  Probes are pure Catalyst: the frontier anti-/semi-
joins its bucket's segments with a Column membership test, bit-exact with
the numpy filters, as the join condition — a row is possibly seen if any
segment says so, and no Python worker starts.  The planner broadcasts a
small filter table; at 10^10 keys its size estimate forces a shuffle join
on ``bucket``, so the table never passes through the driver.  Possibly-
seen rows are always exact-confirmed before being dropped, so false
positives can never lose a URL — the filter only shrinks the exact join's
probe side.  Cuckoo deletions are exact: a key leaves exactly the segment
that holds it, and only if it is in the live seen set.
:class:`SeenFilter` puts one mode (exact, bloom, cuckoo) behind one
interface.
"""

from __future__ import annotations

import math
from collections.abc import Callable

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_BUCKETS = 64


def with_bucket(df: DataFrame, n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    return df.withColumn("bucket", F.pmod(F.col("url_hash"), F.lit(n_buckets)).cast("int"))


def seen_anti_join(frontier: DataFrame, seen: DataFrame) -> DataFrame:
    """Exact path: frontier ⟕̸ seen on the 64-bit canonical-URL hash."""
    return frontier.join(seen.select("url_hash"), on="url_hash", how="left_anti")


# ---------------------------------------------------------------------------
# Per-bucket plumbing shared by both filter kinds.  A filter table is a set
# of SEGMENTS: each segment is one row per bucket, built from one batch of
# keys (a round's seen delta, or the whole seen set) and tagged with its
# ``round``.  A bucket's segments are probed as a union.


def _build(keys: DataFrame, n_buckets: int, round_no: int, fresh: Callable,
           schema: str) -> DataFrame:
    """One segment over ``keys``: ``fresh(bucket, hashes)`` per bucket,
    sized from that bucket's distinct key count."""

    def agg(pdf: pd.DataFrame) -> pd.DataFrame:
        hashes = np.unique(pdf["url_hash"].to_numpy(np.int64))
        return fresh(int(pdf["bucket"].iloc[0]), hashes).assign(round=round_no)

    bucketed = with_bucket(keys.select("url_hash"), n_buckets)
    return bucketed.groupBy("bucket").applyInPandas(agg, schema=schema)


def _split(fb: DataFrame, filters: DataFrame, member: Column) -> tuple[DataFrame, DataFrame]:
    """(definitely new, maybe seen) rows of the bucketed ``fb``.  A row is a
    maybe if ``member`` holds against any segment row of its bucket; a
    bucket with no segment holds nothing seen.  Both are joins on
    ``bucket`` with ``member`` as the join condition, so neither
    duplicates a row."""
    segments = filters.withColumnRenamed("bucket", "_segment_bucket")
    cond = (F.col("bucket") == F.col("_segment_bucket")) & member
    return fb.join(segments, cond, "left_anti"), fb.join(segments, cond, "left_semi")


def _probe(
    frontier: DataFrame,
    seen: DataFrame,
    filters: DataFrame,
    n_buckets: int,
    member: Column,
) -> DataFrame:
    """Filter-prefiltered anti-join: a Catalyst membership test + exact
    confirm.

    The frontier joins its bucket's segment rows (broadcast while the
    filter table is small, shuffled on ``bucket`` at scale).  Output is
    row-identical to :func:`seen_anti_join` over the same seen set — the
    filter can only send extra rows to the exact confirm, never skip one.
    """
    definitely_new, maybe_seen = _split(with_bucket(frontier, n_buckets), filters, member)
    confirmed_new = maybe_seen.join(
        seen.select("url_hash"), on="url_hash", how="left_anti"
    )
    return definitely_new.drop("bucket").unionByName(confirmed_new.drop("bucket"))


# ---------------------------------------------------------------------------
# Partitioned bloom filter.
#
# Layout: one row per bucket and segment — (bucket int, round int, n_bits
# int, n_hashes int, bits binary).  k probe positions are derived from the 64-bit url_hash by
# double hashing: pos_i = (h1 + i*h2) mod n_bits with h1 = high 32 bits,
# h2 = low 32 bits | 1 (Kirsch–Mitzenmacher; public-domain construction).

BLOOM_SCHEMA = "bucket int, round int, n_bits int, n_hashes int, bits binary"


def _positions(hashes: np.ndarray, n_bits: int, n_hashes: int) -> np.ndarray:
    u = hashes.astype(np.uint64)
    h1 = (u >> np.uint64(32)).astype(np.int64)
    h2 = ((u & np.uint64(0xFFFFFFFF)) | np.uint64(1)).astype(np.int64)
    i = np.arange(n_hashes, dtype=np.int64)[:, None]
    return ((h1[None, :] + i * h2[None, :]) % n_bits).astype(np.int64)


def bloom_params(expected_per_bucket: int, fpp: float = 0.01) -> tuple[int, int]:
    n = max(expected_per_bucket, 1)
    n_bits = max(64, int(-n * math.log(fpp) / (math.log(2) ** 2)))
    n_bits = ((n_bits + 7) // 8) * 8
    n_hashes = max(1, round(n_bits / n * math.log(2)))
    return n_bits, min(n_hashes, 16)


def _bloom_row(bucket: int, hashes: np.ndarray, n_bits: int, n_hashes: int) -> pd.DataFrame:
    """One bucket's bitmap row over ``hashes``."""
    bits = np.zeros(n_bits // 8, dtype=np.uint8)
    flat = _positions(hashes, n_bits, n_hashes).ravel()
    np.bitwise_or.at(bits, flat // 8, (1 << (flat % 8)).astype(np.uint8))
    return pd.DataFrame(
        {
            "bucket": [bucket],
            "n_bits": [n_bits],
            "n_hashes": [n_hashes],
            "bits": [bits.tobytes()],
        }
    )


def build_bloom(
    keys: DataFrame,
    n_buckets: int = DEFAULT_BUCKETS,
    round_no: int = 0,
    fpp: float = 0.01,
) -> DataFrame:
    """One bloom segment over keys.url_hash (applyInPandas UDAF): each
    bucket's bitmap is sized for its own key count at ``fpp``."""
    return _build(
        keys, n_buckets, round_no,
        lambda b, h: _bloom_row(b, h, *bloom_params(len(h), fpp)), BLOOM_SCHEMA,
    )


def _bloom_member() -> Column:
    """:func:`_positions` + the bit test as a Column over ``url_hash`` and
    the row's ``n_bits``/``n_hashes``/``bits``.  Exact in signed longs:
    h1, h2 < 2^32 and i < 16, so h1 + i*h2 < 2^36; a row's ``n_hashes``
    (at most 16) guards the unrolled terms.  One SQL text, so building it
    costs one py4j call, not hundreds."""
    h1 = "shiftrightunsigned(url_hash, 32)"
    h2 = "((url_hash & 4294967295) | 1)"
    terms = []
    for i in range(16):
        pos = f"(({h1} + {i} * {h2}) % n_bits)"
        byte = f"int(conv(hex(substring(bits, int(shiftright({pos}, 3)) + 1, 1)), 16, 10))"
        terms.append(f"(n_hashes <= {i} OR (shiftright({byte}, int({pos} & 7)) & 1) = 1)")
    return F.expr(" AND ".join(terms))


def seen_anti_join_bloom(
    frontier: DataFrame,
    seen: DataFrame,
    bloom: DataFrame,
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Bloom-prefiltered anti-join, row-identical to :func:`seen_anti_join`."""
    return _probe(frontier, seen, bloom, n_buckets, _bloom_member())


# ---------------------------------------------------------------------------
# Cuckoo filter: the deletable seen-set fallback (north_star — re-crawl
# eviction).  Standard 2-choice, 4-slot-bucket, 16-bit-fingerprint cuckoo
# filter (Fan et al., CoNEXT'14 construction, public domain idea), stored
# one filter per seen-bucket and segment as a uint16 table blob.


class CuckooFilter:
    SLOTS = 4
    MAX_KICKS = 250

    def __init__(self, capacity: int, table: np.ndarray | None = None):
        n = max(math.ceil(capacity / 0.85 / self.SLOTS), 4)  # load <= 0.85
        self.m = 1 << (n - 1).bit_length()  # power-of-two bucket count
        self.table = (
            table
            if table is not None
            else np.zeros((self.m, self.SLOTS), dtype=np.uint16)
        )

    # -- key mapping ------------------------------------------------------
    # The primary bucket i1 comes from the high word of the hash: the seen
    # bucket is pmod(hash, n_buckets), so a segment's keys share their low
    # bits, and a low-bit i1 would crowd them into m / n_buckets buckets
    # (most small segments would overflow).
    def _fp(self, h: np.ndarray) -> np.ndarray:
        fp = ((h.astype(np.uint64) >> np.uint64(48)) & np.uint64(0xFFFF)).astype(
            np.uint16
        )
        return np.where(fp == 0, np.uint16(1), fp)  # 0 marks an empty slot

    def _i1(self, h: np.ndarray) -> np.ndarray:
        return ((h.astype(np.uint64) >> np.uint64(32)) % np.uint64(self.m)).astype(np.int64)

    def _i2(self, i1: np.ndarray, fp: np.ndarray) -> np.ndarray:
        return (
            (i1.astype(np.uint64) ^ (fp.astype(np.uint64) * np.uint64(0x5BD1E995)))
            % np.uint64(self.m)
        ).astype(np.int64)

    # -- vectorized bulk build ------------------------------------------------
    def bulk_insert(self, hashes: np.ndarray) -> bool:
        """Insert a batch with numpy passes; returns False if any key
        overflowed (could not be placed even after kicks).

        Each (candidate-bucket, slot) pass places at most one pending key
        per bucket — 2 buckets x SLOTS passes settle ~all keys at the 0.85
        design load; only the residue takes the per-key kick path.  Slot
        layout may differ from sequential insertion, but membership
        semantics (`contains`) are layout-independent.
        """
        h = hashes.astype(np.int64)
        fp = self._fp(h)
        i1 = self._i1(h)
        i2 = self._i2(i1, fp)
        pending = np.arange(len(h))
        # sweep (candidate-bucket x slot) passes until a full sweep places
        # nothing: each pass settles one key per contended bucket, so dense
        # buckets drain in O(max bucket load) sweeps, all vectorized
        while len(pending):
            placed_any = False
            for bucket_of in (i1, i2):
                for s in range(self.SLOTS):
                    if len(pending) == 0:
                        return True
                    b = bucket_of[pending]
                    _, first_idx = np.unique(b, return_index=True)
                    cand = np.zeros(len(b), dtype=bool)
                    cand[first_idx] = True
                    place = cand & (self.table[b, s] == 0)
                    if place.any():
                        placed_any = True
                        self.table[b[place], s] = fp[pending[place]]
                        pending = pending[~place]
            if not placed_any:
                break
        ok = True
        for j in pending:  # kick path for the residue only
            if not self.insert(int(h[j])):
                ok = False
        return ok

    # -- single-key ops (used at delete/kick time) -------------------------
    def insert(self, h: int) -> bool:
        """Single-key insert, plain-int arithmetic (identical key mapping to
        the vectorized _fp/_i1/_i2) with a deterministic LCG kick path —
        this is the bulk_insert residue handler, so it must be cheap."""
        u = h & 0xFFFFFFFFFFFFFFFF
        fp = ((u >> 48) & 0xFFFF) or 1
        m = self.m
        i1 = (u >> 32) % m
        i2 = (i1 ^ (fp * 0x5BD1E995)) % m
        t = self.table
        for i in (i1, i2):
            row = t[i]
            for s in range(self.SLOTS):
                if row[s] == 0:
                    row[s] = fp
                    return True
        state = (u & 0xFFFFFFFF) or 1  # deterministic per-key kick walk
        i = i1 if state & 1 else i2
        for _ in range(self.MAX_KICKS):
            state = (state * 1103515245 + 12345) & 0xFFFFFFFF
            s = state % self.SLOTS
            fp, t[i, s] = int(t[i, s]), fp
            i = (i ^ (fp * 0x5BD1E995)) % m
            row = t[i]
            for s2 in range(self.SLOTS):
                if row[s2] == 0:
                    row[s2] = fp
                    return True
        return False  # table over-full

    def delete(self, h: int) -> bool:
        arr = np.array([h], dtype=np.int64)
        fp = int(self._fp(arr)[0])
        i1 = int(self._i1(arr)[0])
        i2 = int(self._i2(np.array([i1]), np.array([fp], dtype=np.uint16))[0])
        for i in (i1, i2):
            slots = np.nonzero(self.table[i] == fp)[0]
            if len(slots):
                self.table[i, slots[0]] = 0
                return True
        return False

    # -- vectorized membership ---------------------------------------------
    def contains(self, hashes: np.ndarray) -> np.ndarray:
        h = hashes.astype(np.int64)
        fp = self._fp(h)
        i1 = self._i1(h)
        i2 = self._i2(i1, fp)
        in1 = (self.table[i1] == fp[:, None]).any(axis=1)
        in2 = (self.table[i2] == fp[:, None]).any(axis=1)
        return in1 | in2

    def to_bytes(self) -> bytes:
        return self.table.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "CuckooFilter":
        table = np.frombuffer(data, dtype=np.uint16).copy()
        m = len(table) // cls.SLOTS
        f = cls.__new__(cls)
        f.m = m
        f.table = table.reshape(m, cls.SLOTS)
        return f


CUCKOO_SCHEMA = "bucket int, round int, capacity int, table binary, overflowed boolean"


def _cuckoo_row(bucket: int, hashes: np.ndarray) -> pd.DataFrame:
    """One bucket's filter, sized for its own key count and built with the
    vectorized bulk path."""
    f = CuckooFilter(len(hashes))
    ok = f.bulk_insert(hashes)
    return pd.DataFrame(
        {
            "bucket": [bucket],
            "capacity": [len(hashes)],
            "table": [f.to_bytes()],
            "overflowed": [not ok],
        }
    )


def build_cuckoo(
    keys: DataFrame,
    n_buckets: int = DEFAULT_BUCKETS,
    round_no: int = 0,
) -> DataFrame:
    """One cuckoo segment over keys.url_hash (applyInPandas UDAF).

    If a key still does not fit after the kick walk, the bucket's row is
    flagged ``overflowed`` and the probe routes its whole frontier slice
    to the exact confirm — an overflow can never create a false negative
    (a seen URL re-emitted as new).
    """
    return _build(keys, n_buckets, round_no, _cuckoo_row, CUCKOO_SCHEMA)


def cuckoo_delete(
    cuckoo: DataFrame,
    keys: DataFrame,
    live_seen: DataFrame,
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """The cuckoo table without the fingerprints of ``keys`` (re-crawl
    eviction).

    A key is deleted only if it is in ``live_seen``: a fingerprint the
    filter never took for that key may belong to another seen key.  Each
    key is deleted from exactly one segment of its bucket: the one with
    the smallest ``round`` at or after the round in which the key last
    entered the seen set (a null entry round counts as -1), which is the
    segment that holds it.  Cogrouped on (bucket, round): each segment
    meets only its own deletions.
    """
    entered = (
        keys.select("url_hash")
        .join(live_seen.select("url_hash", "round"), on="url_hash")
        .groupBy("url_hash")
        .agg(F.max(F.coalesce(F.col("round"), F.lit(-1))).alias("entered"))
    )
    targets = (
        with_bucket(entered, n_buckets)
        .join(cuckoo.select("bucket", "round"), on="bucket")
        .filter(F.col("round") >= F.col("entered"))
        .groupBy("bucket", "url_hash")
        .agg(F.min("round").alias("round"))
    )

    def apply_del(segment: pd.DataFrame, todel: pd.DataFrame) -> pd.DataFrame:
        if len(segment) == 0 or len(todel) == 0:
            return segment
        f = CuckooFilter.from_bytes(bytes(segment["table"].iloc[0]))
        for h in todel["url_hash"]:
            f.delete(int(h))
        return segment.assign(table=[f.to_bytes()])

    return (
        cuckoo.groupby("bucket", "round")
        .cogroup(targets.groupby("bucket", "round"))
        .applyInPandas(apply_del, schema=CUCKOO_SCHEMA)
    )


def _cuckoo_member() -> Column:
    """:meth:`CuckooFilter.contains` as a Column over ``url_hash`` and the
    row's ``table``/``overflowed``.  The bucket count m is a power of two,
    so numpy's ``(h >> 32) % m`` is ``(h >>> 32) & (m-1)`` in longs, and
    fp*0x5BD1E995 < 2^47.  A slot is a little-endian uint16, compared as
    its two bytes.  An overflowed bucket is lossy: every row is a maybe."""
    mask = "(bigint(shiftright(length(table), 3)) - 1)"  # m - 1
    top = "shiftrightunsigned(url_hash, 48)"
    fp = f"if({top} = 0, 1L, {top})"  # 0 marks an empty slot
    fp_le = f"unhex(lpad(hex(({fp} & 255) * 256 + shiftright({fp}, 8)), 4, '0'))"
    i1 = f"(shiftrightunsigned(url_hash, 32) & {mask})"
    i2 = f"(({i1} ^ ({fp} * {0x5BD1E995})) & {mask})"
    slots = [
        f"substring(table, int({i} * 8 + {2 * s + 1}), 2) = {fp_le}"
        for i in (i1, i2)
        for s in range(CuckooFilter.SLOTS)
    ]
    return F.expr(" OR ".join(["overflowed", *slots]))


def seen_anti_join_cuckoo(
    frontier: DataFrame,
    seen: DataFrame,
    cuckoo: DataFrame,
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Cuckoo-prefiltered anti-join, row-identical to :func:`seen_anti_join`
    over the same live (non-deleted) seen set."""
    return _probe(frontier, seen, cuckoo, n_buckets, _cuckoo_member())


# ---------------------------------------------------------------------------
# One seen-filter mode behind one interface.


class SeenFilter:
    """The crawl's URL-seen prefilter for one mode: ``"exact"`` (no filter,
    the exact anti-join alone), ``"bloom"`` or ``"cuckoo"``.

    ``table`` names the committed filter table (None for exact) and
    ``filters`` holds its current rows, which the caller reads from
    storage.  :meth:`build` is the one way filter rows are made: a segment
    over a batch of keys, tagged with its round — a round's seen delta
    (appended), or the whole live seen set (first use, and the compaction
    fold, each committed as an overwrite).  The object stays storage-free:
    the caller stages or commits what :meth:`build` and :meth:`delete`
    return.  An expiring filter (recrawl windows) would drop old segments.

    Each bloom segment is sized at fpp ``0.01 / compact_every``: at most
    ``compact_every`` segments pile up between folds, so a bucket's union
    stays near 1%.  The cuckoo's 16-bit fingerprints give ~1e-4 a segment.

    The dedup functions are looked up in this module at CALL time, never
    captured, so a swapped module attribute (a tracer, a test counter)
    sees every call the engine makes.
    """

    def __init__(self, kind: str, n_buckets: int = DEFAULT_BUCKETS, compact_every: int = 0):
        if kind not in ("exact", "bloom", "cuckoo"):
            raise ValueError(f"unknown seen-filter kind: {kind!r}")
        self.table = None if kind == "exact" else kind
        # only the cuckoo can delete; exact and bloom rely on the exact
        # confirm against the live seen set
        self.deletes = kind == "cuckoo"
        self.n_buckets = n_buckets
        self.fpp = 0.01 / compact_every if compact_every else 0.01
        self.filters: DataFrame | None = None

    def build(self, keys: DataFrame, round_no: int) -> DataFrame:
        """One segment over ``keys``, tagged ``round_no``."""
        if self.table == "bloom":
            return build_bloom(keys, self.n_buckets, round_no, self.fpp)
        return build_cuckoo(keys, self.n_buckets, round_no)

    def probe(self, df: DataFrame, seen: DataFrame) -> DataFrame:
        """``df`` minus ``seen``, row-identical to :func:`seen_anti_join`."""
        if self.table is None:
            return seen_anti_join(df, seen)
        probe = seen_anti_join_bloom if self.table == "bloom" else seen_anti_join_cuckoo
        return probe(df, seen, self.filters, self.n_buckets)

    def delete(self, keys: DataFrame, live_seen: DataFrame) -> DataFrame:
        """The next committed table without those ``keys`` that are in
        ``live_seen`` (cuckoo only)."""
        return cuckoo_delete(self.filters, keys, live_seen, self.n_buckets)
