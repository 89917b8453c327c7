"""URL-seen set: exact anti-join, fronted by a per-bucket bloom or cuckoo
prefilter (J1).

The reference dedups via DB unique constraints and ``sorted(set(ids))``
(reference: core/spider.py:218-236, utils/helper.py:55,
spiders/bilibili/downloader.py:295).  At 10^10 URLs the exact seen table is
hash-bucketed by ``pmod(url_hash, n_buckets)`` and fronted by one filter
per bucket (bloom bitmap or cuckoo table) built in an Arrow-batched
``applyInPandas`` aggregation (Spark's ``bloom_filter_agg`` is JVM-internal
and not persistable, SURVEY §4.3.1).  Probes are pure Catalyst: the
frontier left-joins its bucket's filter row and a Column expression, bit-
exact with the numpy filters, tests membership — no Python worker.  The
planner broadcasts a small filter table; at 10^10 keys (GBs of filters)
its size estimate forces a shuffle join on ``bucket``, so the table never
passes through the driver.  Filter *pass* (possibly-seen) rows are always
exact-confirmed before being dropped, so false positives can never lose a
URL — the filter only shrinks the exact join's probe side.  Filters are
maintained incrementally: a round's seen delta is inserted cogrouped,
O(delta) work; build, insert and delete stay cogrouped ``applyInPandas``
(the cuckoo kick path is sequential).
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
# Per-bucket plumbing shared by both filter kinds.  A filter table holds one
# row per bucket; each kind supplies how to build a bucket's row from its
# hashes, how to add hashes to a stored row, and how to test membership.


def _build(seen: DataFrame, n_buckets: int, fresh: Callable, schema: str) -> DataFrame:
    """One filter row per bucket of ``seen``: ``fresh(bucket, hashes)``."""

    def agg(pdf: pd.DataFrame) -> pd.DataFrame:
        return fresh(int(pdf["bucket"].iloc[0]), pdf["url_hash"].to_numpy(np.int64))

    bucketed = with_bucket(seen.select("url_hash"), n_buckets)
    return bucketed.groupBy("bucket").applyInPandas(agg, schema=schema)


def _cogroup_keys(
    filters: DataFrame, keys: DataFrame, n_buckets: int, fn: Callable, schema: str
) -> DataFrame:
    """``fn(filter_rows, key_rows)`` once per bucket present on either side:
    each bucket's filter row meets only its own keys."""
    keyed = with_bucket(keys.select("url_hash"), n_buckets)
    return (
        filters.groupby("bucket")
        .cogroup(keyed.groupby("bucket"))
        .applyInPandas(fn, schema=schema)
    )


def _insert(
    filters: DataFrame,
    additions: DataFrame,
    n_buckets: int,
    fresh: Callable,
    add: Callable,
    schema: str,
) -> DataFrame:
    """Cogrouped bulk insert — the O(delta) incremental-maintenance path.

    Untouched buckets pass through by reference; a bucket with additions
    but no filter yet gets ``fresh(bucket, hashes)`` (first rows ever
    hashed there); a stored row becomes ``add(row, hashes)``.
    """

    def apply_ins(stored: pd.DataFrame, toadd: pd.DataFrame) -> pd.DataFrame:
        if len(toadd) == 0:
            return stored
        hashes = toadd["url_hash"].to_numpy(np.int64)
        if len(stored) == 0:
            return fresh(int(toadd["bucket"].iloc[0]), hashes)
        return add(stored, hashes)

    return _cogroup_keys(filters, additions, n_buckets, apply_ins, schema)


def _mark_maybe(fb: DataFrame, filters: DataFrame, member: Column) -> DataFrame:
    """``fb`` (bucketed) plus ``_maybe``: ``member`` over each row's
    ``url_hash`` and its bucket's filter row.  A bucket with no filter row
    holds nothing seen, so its rows are definitely new."""
    return fb.join(filters, on="bucket", how="left").select(
        *fb.columns, F.coalesce(member, F.lit(False)).alias("_maybe")
    )


def _probe(
    frontier: DataFrame,
    seen: DataFrame,
    filters: DataFrame,
    n_buckets: int,
    member: Column,
) -> DataFrame:
    """Filter-prefiltered anti-join: a Catalyst membership test + exact
    confirm.

    The frontier joins its bucket's filter row (broadcast while the filter
    table is small, shuffled on ``bucket`` at scale); ``member`` marks
    possibly-seen rows.  Output is row-identical to :func:`seen_anti_join`
    over the same seen set — the filter can only send extra rows to the
    exact confirm, never skip one.
    """
    probed = _mark_maybe(with_bucket(frontier, n_buckets), filters, member)
    definitely_new = probed.filter(~F.col("_maybe")).drop("_maybe", "bucket")
    maybe_seen = probed.filter(F.col("_maybe")).drop("_maybe", "bucket")
    confirmed_new = maybe_seen.join(
        seen.select("url_hash"), on="url_hash", how="left_anti"
    )
    return definitely_new.unionByName(confirmed_new)


# ---------------------------------------------------------------------------
# Partitioned bloom filter.
#
# Layout: one row per bucket — (bucket int, n_bits int, n_hashes int,
# bits binary).  k probe positions are derived from the 64-bit url_hash by
# double hashing: pos_i = (h1 + i*h2) mod n_bits with h1 = high 32 bits,
# h2 = low 32 bits | 1 (Kirsch–Mitzenmacher; public-domain construction).

BLOOM_SCHEMA = "bucket int, n_bits int, n_hashes int, bits binary"


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


def _bloom_row(
    bucket: int,
    hashes: np.ndarray,
    n_bits: int,
    n_hashes: int,
    bits: np.ndarray | None = None,
) -> pd.DataFrame:
    """One bucket's bitmap row: ``bits`` (or an empty bitmap) | hashes."""
    bits = np.zeros(n_bits // 8, dtype=np.uint8) if bits is None else bits.copy()
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
    seen: DataFrame,
    n_buckets: int = DEFAULT_BUCKETS,
    expected_per_bucket: int = 10_000,
    fpp: float = 0.01,
) -> DataFrame:
    """Per-bucket bloom bitmaps over seen.url_hash (applyInPandas UDAF)."""
    n_bits, n_hashes = bloom_params(expected_per_bucket, fpp)
    return _build(
        seen, n_buckets, lambda b, h: _bloom_row(b, h, n_bits, n_hashes), BLOOM_SCHEMA
    )


def bloom_insert(
    bloom: DataFrame,
    additions: DataFrame,
    n_buckets: int = DEFAULT_BUCKETS,
    expected_per_bucket: int = 10_000,
    fpp: float = 0.01,
) -> DataFrame:
    """Set the bits of url_hashes in the per-bucket bitmaps, cogrouped.

    Blooms are mergeable sketches, so inserting a round's seen delta into
    the stored bitmaps equals a full build over seen ∪ delta, at O(delta)
    cost.  A stored bucket keeps its own ``n_bits``/``n_hashes`` (no
    driver-side sizing job); a bucket with no bitmap yet is sized from
    ``expected_per_bucket``.  Resizing happens only at the compaction
    rebuild (:func:`build_bloom`).
    """
    n_bits, n_hashes = bloom_params(expected_per_bucket, fpp)

    def add(stored: pd.DataFrame, hashes: np.ndarray) -> pd.DataFrame:
        row = stored.iloc[0]
        return _bloom_row(
            int(row["bucket"]), hashes, int(row["n_bits"]), int(row["n_hashes"]),
            np.frombuffer(bytes(row["bits"]), np.uint8),
        )

    return _insert(
        bloom, additions, n_buckets,
        lambda b, h: _bloom_row(b, h, n_bits, n_hashes), add, BLOOM_SCHEMA,
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
# one filter per seen-bucket as a uint16 table blob.


class CuckooFilter:
    SLOTS = 4
    MAX_KICKS = 250

    def __init__(self, capacity: int, table: np.ndarray | None = None):
        n = max(int(capacity / 0.85 / self.SLOTS), 4)
        self.m = 1 << (n - 1).bit_length()  # power-of-two bucket count
        self.table = (
            table
            if table is not None
            else np.zeros((self.m, self.SLOTS), dtype=np.uint16)
        )

    # -- key mapping ------------------------------------------------------
    def _fp(self, h: np.ndarray) -> np.ndarray:
        fp = ((h.astype(np.uint64) >> np.uint64(48)) & np.uint64(0xFFFF)).astype(
            np.uint16
        )
        return np.where(fp == 0, np.uint16(1), fp)  # 0 marks an empty slot

    def _i1(self, h: np.ndarray) -> np.ndarray:
        return (h.astype(np.uint64) % np.uint64(self.m)).astype(np.int64)

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
        i1 = u % m
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


CUCKOO_SCHEMA = "bucket int, capacity int, table binary, overflowed boolean"


def _cuckoo_row(bucket: int, hashes: np.ndarray, capacity: int) -> pd.DataFrame:
    """One bucket's fresh filter, sized from the ACTUAL key count (never
    below ``capacity``) and built with the vectorized bulk path."""
    cap = max(capacity, len(hashes))
    f = CuckooFilter(cap)
    ok = f.bulk_insert(hashes)
    return pd.DataFrame(
        {
            "bucket": [bucket],
            "capacity": [cap],
            "table": [f.to_bytes()],
            "overflowed": [not ok],
        }
    )


def build_cuckoo(
    seen: DataFrame,
    n_buckets: int = DEFAULT_BUCKETS,
    capacity_per_bucket: int = 10_000,
) -> DataFrame:
    """Per-bucket cuckoo filters over seen.url_hash (applyInPandas UDAF).

    If any key still overflows, the bucket is flagged ``overflowed`` and the
    probe routes its whole frontier slice to the exact confirm — an
    overflow can therefore never create a false negative (a seen URL
    re-emitted as new).
    """
    return _build(
        seen, n_buckets, lambda b, h: _cuckoo_row(b, h, capacity_per_bucket),
        CUCKOO_SCHEMA,
    )


def cuckoo_insert(
    cuckoo: DataFrame,
    additions: DataFrame,
    n_buckets: int = DEFAULT_BUCKETS,
    capacity_per_bucket: int = 10_000,
) -> DataFrame:
    """Bulk-insert url_hashes into the per-bucket filters, cogrouped (the
    twin of :func:`bloom_insert`).

    If an insert cannot be placed (the fixed-size table is past its design
    load between rebuilds), the bucket is flagged ``overflowed`` so the
    probe exact-confirms its whole slice — an overflow can degrade speed,
    never correctness.  Resizing happens only at the periodic compaction
    rebuild (:func:`build_cuckoo`).
    """

    def add(stored: pd.DataFrame, hashes: np.ndarray) -> pd.DataFrame:
        f = CuckooFilter.from_bytes(bytes(stored["table"].iloc[0]))
        ok = f.bulk_insert(hashes)
        return stored.assign(
            table=[f.to_bytes()],
            overflowed=[bool(stored["overflowed"].iloc[0]) or not ok],
        )

    return _insert(
        cuckoo, additions, n_buckets,
        lambda b, h: _cuckoo_row(b, h, capacity_per_bucket), add, CUCKOO_SCHEMA,
    )


def cuckoo_delete(cuckoo: DataFrame, deletions: DataFrame,
                  n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """Remove url_hashes from the per-bucket filters (re-crawl eviction).

    Cogrouped applyInPandas: each bucket's filter meets its deletions once;
    untouched buckets pass through.
    """

    def apply_del(filters: pd.DataFrame, todel: pd.DataFrame) -> pd.DataFrame:
        if len(filters) == 0 or len(todel) == 0:
            return filters
        f = CuckooFilter.from_bytes(bytes(filters["table"].iloc[0]))
        for h in todel["url_hash"]:
            f.delete(int(h))
        return filters.assign(table=[f.to_bytes()])

    return _cogroup_keys(cuckoo, deletions, n_buckets, apply_del, CUCKOO_SCHEMA)


def _cuckoo_member() -> Column:
    """:meth:`CuckooFilter.contains` as a Column over ``url_hash`` and the
    row's ``table``/``overflowed``.  The bucket count m is a power of two,
    so numpy's ``uint64 % m`` is ``h & (m-1)`` in signed longs, and
    fp*0x5BD1E995 < 2^47.  A slot is a little-endian uint16, compared as
    its two bytes.  An overflowed bucket is lossy: every row is a maybe."""
    mask = "(bigint(shiftright(length(table), 3)) - 1)"  # m - 1
    top = "shiftrightunsigned(url_hash, 48)"
    fp = f"if({top} = 0, 1L, {top})"  # 0 marks an empty slot
    fp_le = f"unhex(lpad(hex(({fp} & 255) * 256 + shiftright({fp}, 8)), 4, '0'))"
    i1 = f"(url_hash & {mask})"
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

    ``table`` names the committed per-bucket filter table (None for exact)
    and ``filters`` holds its current rows: the caller reads them from
    storage, or calls :meth:`build` on first use.  The object stays
    storage-free — the caller stages or commits what :meth:`insert`,
    :meth:`delete` and :meth:`rebuild` return.  A later expiring filter
    (recrawl windows) would be one more kind behind the same methods.

    The dedup functions are looked up in this module at CALL time, never
    captured, so a swapped module attribute (a tracer, a test counter)
    sees every call the engine makes.
    """

    def __init__(
        self,
        kind: str,
        n_buckets: int = DEFAULT_BUCKETS,
        capacity_per_bucket: int = 10_000,
    ):
        if kind not in ("exact", "bloom", "cuckoo"):
            raise ValueError(f"unknown seen-filter kind: {kind!r}")
        self.table = None if kind == "exact" else kind
        # only the cuckoo can delete; exact and bloom rely on the exact
        # confirm against the live seen set
        self.deletes = kind == "cuckoo"
        self.n_buckets = n_buckets
        self.capacity_per_bucket = capacity_per_bucket
        self.filters: DataFrame | None = None

    def build(self, live_seen: DataFrame, per_bucket: int | None = None) -> DataFrame:
        """Build the filter from scratch (first use: configured capacity)."""
        build = build_bloom if self.table == "bloom" else build_cuckoo
        self.filters = build(
            live_seen, self.n_buckets, per_bucket or self.capacity_per_bucket
        )
        return self.filters

    def rebuild(self, live_seen: DataFrame) -> DataFrame:
        """Rebuild RESIZED to the grown seen set (periodic compaction), so
        bloom fpp and cuckoo load factor stay at design level over a long
        crawl and overflowed cuckoo buckets recover; between rebuilds
        inserts keep each bucket's size fixed."""
        per_bucket = max(
            self.capacity_per_bucket,
            int(live_seen.count() * 1.25) // max(self.n_buckets, 1) + 1,
        )
        return self.build(live_seen, per_bucket)

    def probe(self, df: DataFrame, seen: DataFrame) -> DataFrame:
        """``df`` minus ``seen``, row-identical to :func:`seen_anti_join`."""
        if self.table is None:
            return seen_anti_join(df, seen)
        probe = seen_anti_join_bloom if self.table == "bloom" else seen_anti_join_cuckoo
        return probe(df, seen, self.filters, self.n_buckets)

    def insert(self, delta: DataFrame) -> DataFrame:
        """The next committed table: ``filters`` plus the hashes of ``delta``."""
        insert = bloom_insert if self.table == "bloom" else cuckoo_insert
        return insert(self.filters, delta, self.n_buckets, self.capacity_per_bucket)

    def delete(self, keys: DataFrame) -> DataFrame:
        """The next committed table without ``keys`` (cuckoo only)."""
        return cuckoo_delete(self.filters, keys, self.n_buckets)
