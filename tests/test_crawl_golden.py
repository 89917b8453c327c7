"""North-rule equality gates: engine vs reference-semantics simulator.

Same seed list + politeness budget -> identical crawl ordering (round
assignment + per-host rank), identical final URL-seen set, and per-document
span-sequence equality on (kind, text, media_ref, offset).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from spiders_for_all_spark import fixtures as FX
from spiders_for_all_spark.engine import Crawler, CrawlConfig
from spiders_for_all_spark.simulator import simulate
from spiders_for_all_spark.sources.fetcher import SyntheticFetcher
from spiders_for_all_spark.storage import SnapshotStorage


def _fail_specs(rows):
    """Inject every failure kind: http / business-code / parse garbage."""
    urls = sorted(r["url"] for r in rows if r["kind"] == "page")
    c_urls = sorted(r["url"] for r in rows if r["kind"] == "cursor")
    h_urls = sorted(r["url"] for r in rows if r["kind"] == "html")
    specs = {}
    if urls:
        specs[urls[0]] = (1, "http")  # fails once, then succeeds (retry path)
    if c_urls:
        specs[c_urls[0]] = (2, "code")  # fails twice -> succeeds on attempt 2
    if h_urls:
        # the LAST html url, so the always-fail spec never lands on the
        # alias-seeded note n0 of host 0 (which must succeed to make the
        # tiebreak choice observable through its span text)
        specs[h_urls[-1]] = (99, "parse")  # always fails -> dead-letter
    return specs


@pytest.fixture(scope="module")
def world(tmp_path_factory):
    rows, seeds = FX.build_site(
        n_hosts=3,
        page_chains=1,
        pages_per_chain=3,
        page_size=2,
        cursor_chains=1,
        cursor_pages=3,
        notes_per_host=2,
        seed=7,
    )
    rows, seeds = FX.build_site(
        n_hosts=3,
        page_chains=1,
        pages_per_chain=3,
        page_size=2,
        cursor_chains=1,
        cursor_pages=3,
        notes_per_host=2,
        fail_specs=_fail_specs(rows),
        alias_note_seed=True,
        seed=7,
    )
    # S6: seed one media URL whose primary ALWAYS fails and whose backup
    # serves — exercises ordered failover + chunked fetch inside the engine
    media_urls = sorted(r["url"] for r in rows if r["kind"] == "media")
    primary, backup = media_urls[0], media_urls[1]
    for r in rows:
        if r["url"] == primary:
            r["fail_times"], r["fail_kind"] = 99, "http"
    seeds.append(
        {"url": primary, "priority": 0, "kind": "media", "backup_urls": [backup]}
    )
    path = str(tmp_path_factory.mktemp("site") / "pages.parquet")
    FX.write_site(rows, path)
    return {
        "rows": rows,
        "seeds": seeds,
        "site_path": path,
        "index": FX.site_index(rows),
        "media_primary": primary,
        "media_backup": backup,
    }


# seen-filter modes as CrawlConfig flags
MODES = {
    "exact": {},
    "bloom": {"use_bloom": True},
    "cuckoo": {"use_cuckoo": True},
}


def run_engine(spark, world, tmp, *, budget, use_bloom=False,
               salt_n=1, max_attempts=3, use_cuckoo=False,
               storage_cls=SnapshotStorage):
    storage = storage_cls(spark, str(tmp))
    cfg = CrawlConfig(
        max_rounds=40,
        default_budget=budget,
        max_attempts=max_attempts,
        max_depth=3,
        use_bloom=use_bloom,
        use_cuckoo=use_cuckoo,
        salt_n=salt_n,
        n_buckets=8,
    )
    crawler = Crawler(
        spark, storage, SyntheticFetcher(world["site_path"], partitions=4), cfg
    )
    stats = crawler.run(seeds=world["seeds"])
    return storage, stats


@pytest.fixture(scope="module")
def exact_ref(spark, world, tmp_path_factory):
    """The exact-mode budget-2 crawl, shared by every test that compares a
    variant against it."""
    storage, _ = run_engine(
        spark, world, tmp_path_factory.mktemp("exact_ref"), budget=2
    )
    return storage


def visits(storage):
    return sorted((r["round"], r["url"]) for r in storage.read("fetch_log").collect())


def spans_tuplify(spans):
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]


def assert_engine_matches_sim(spark, storage, sim):
    # --- final URL-seen set equality: join the seen table's hashes back to
    # canonical urls via fetch_log and compare as an exact set -------------
    log = storage.read("fetch_log")
    from spiders_for_all_spark.functions.urls import canonicalize_url

    log_canon = log.select(
        canonicalize_url(F.col("url")).alias("c"), F.col("url_hash")
    )
    engine_seen = {
        r["c"]
        for r in log_canon.join(
            storage.read("seen").select("url_hash"), on="url_hash"
        )
        .select("c")
        .distinct()
        .collect()
    }
    assert engine_seen == sim.seen
    assert storage.read("seen").count() == len(sim.seen)

    # --- crawl ordering equality: (round, canonical_url) multiset ---------
    eng_visits = sorted(
        (int(r["round"]), r["c"])
        for r in log.select("round", canonicalize_url(F.col("url")).alias("c")).collect()
    )
    sim_visits = sorted((rnd, canon) for rnd, canon, _rank in sim.visits)
    assert eng_visits == sim_visits

    # --- span-sequence equality -------------------------------------------
    docs = {
        r["doc_id"]: [s.asDict() for s in r["spans"]]
        for r in storage.read("documents").collect()
    }
    assert set(docs) == set(sim.documents)
    for doc_id, spans in sim.documents.items():
        assert spans_tuplify(docs[doc_id]) == spans_tuplify(spans), doc_id

    # --- dead letters --------------------------------------------------------
    eng_dead = {
        r["c"]
        for r in log.filter("dead_letter")
        .select(canonicalize_url(F.col("url")).alias("c"))
        .collect()
    }
    assert eng_dead == set(sim.dead_letters)


@pytest.mark.parametrize("budget", [1, 5])
def test_crawl_matches_simulator(spark, world, tmp_path, budget):
    storage, stats = run_engine(spark, world, tmp_path / f"wh{budget}", budget=budget)
    sim = simulate(
        world["index"], world["seeds"], max_rounds=40, default_budget=budget,
        max_attempts=3, max_depth=3,
    )
    assert stats.total_fetched == len(sim.visits)
    assert_engine_matches_sim(spark, storage, sim)


def test_crawl_bloom_path_identical(spark, world, tmp_path, exact_ref):
    """The partition-wise bloom prefilter + exact confirm must not change
    any outcome."""
    storage, _ = run_engine(spark, world, tmp_path / "bloom", budget=2, use_bloom=True)
    assert visits(storage) == visits(exact_ref)


def test_crawl_salted_scheduling_identical(spark, world, tmp_path, exact_ref):
    """Two-phase salted scheduling must pick the identical fetch set."""
    storage, _ = run_engine(spark, world, tmp_path / "salt", budget=2, salt_n=4)
    assert visits(storage) == visits(exact_ref)


def test_per_chain_fifo_order(spark, world, tmp_path):
    """Pages of one chain are visited in ascending page order (reference
    FIFO semantics — core/spider.py:321)."""
    storage, _ = run_engine(spark, world, tmp_path / "fifo", budget=1)
    log = storage.read("fetch_log").filter(F.col("error").isNull()).collect()
    by_chain: dict[str, list[tuple[int, int]]] = {}
    import re

    for r in log:
        m = re.match(r"(https://[^/]+/api/list\?chain=\d+)&page=(\d+)", r["url"])
        if m:
            by_chain.setdefault(m.group(1), []).append((r["round"], int(m.group(2))))
    assert by_chain
    for chain, visits in by_chain.items():
        visits.sort()
        pages = [p for _, p in visits]
        assert pages == sorted(set(pages)), chain


def test_media_backup_failover(spark, world, tmp_path):
    """S6: primary media URL always 503s; the fetch stage fails over to the
    backup within the same attempt, streams it in chunks, and the doc's
    media_ref span records the winning URL (reference core/media.py:36-42,
    core/downloader.py:184-218)."""
    from spiders_for_all_spark.functions.urls import canonicalize_url_py

    storage, _ = run_engine(spark, world, tmp_path / "media", budget=5)
    primary, backup = world["media_primary"], world["media_backup"]
    doc_id = canonicalize_url_py(primary)
    docs = {r["doc_id"]: r["spans"] for r in storage.read("documents").collect()}
    assert doc_id in docs
    assert [s["media_ref"] for s in docs[doc_id]] == [backup]

    log = storage.read("fetch_log").filter(F.col("url") == primary).collect()
    assert len(log) == 1 and log[0]["error"] is None
    assert log[0]["media_ref"] == backup
    assert log[0]["n_chunks"] >= 2
    assert log[0]["bytes_fetched"] and log[0]["bytes_fetched"] > 16

    # chunked-fetch accounting holds for every successful media fetch
    media_rows = storage.read("fetch_log").filter(
        F.col("media_ref").isNotNull()
    ).collect()
    assert media_rows
    for r in media_rows:
        import math
        assert r["n_chunks"] == math.ceil(max(r["bytes_fetched"], 1) / 16), r


def test_crawl_cuckoo_path_identical(spark, world, tmp_path, exact_ref):
    """J1 via the deletable cuckoo prefilter is fetch-for-fetch identical to
    the exact anti-join (the filter only widens the exact-confirm set)."""
    storage, _ = run_engine(spark, world, tmp_path / "cuckoo", budget=2,
                            use_cuckoo=True)
    assert visits(storage) == visits(exact_ref)


def test_balanced_fetch_partitioning_identical(spark, world, tmp_path, exact_ref):
    """colocate_hosts=False round-robins the fetch stage (even task sizes
    under hot-host skew) — a correctness-free choice because the politeness
    budget is enforced upstream: the crawl must be fetch-for-fetch and
    span-for-span identical to the host-colocated default."""
    ref_storage = exact_ref
    storage = SnapshotStorage(spark, str(tmp_path / "balanced"))
    cfg = CrawlConfig(max_rounds=40, default_budget=2, max_depth=3, n_buckets=8)
    fetcher = SyntheticFetcher(
        world["site_path"], partitions=4, colocate_hosts=False
    )
    Crawler(spark, storage, fetcher, cfg).run(seeds=world["seeds"])
    assert visits(storage) == visits(ref_storage)
    docs_a = {
        r["doc_id"]: spans_tuplify(r["spans"])
        for r in storage.read("documents").collect()
    }
    docs_b = {
        r["doc_id"]: spans_tuplify(r["spans"])
        for r in ref_storage.read("documents").collect()
    }
    assert docs_a == docs_b


@pytest.mark.parametrize("table", ["bloom", "cuckoo"])
def test_cuckoo_incremental_no_full_rebuild(spark, world, tmp_path, monkeypatch, table):
    """Steady-state filter rounds must NOT build the filter from the full
    seen set: exactly one build reads the committed seen table (first use,
    before any filter table exists, tagged with the round before it); every
    later build is that round's segment, built from its seen delta alone,
    so its input count is the round's ok + dead-lettered count.  The
    counted calls also prove the engine calls build_bloom / build_cuckoo
    through the dedup module at call time.  The crawl's last round
    schedules nothing: it builds no segment and commits nothing."""
    from spiders_for_all_spark import engine as ENG

    calls: list[tuple[int, int, bool]] = []
    orig = getattr(ENG.D, f"build_{table}")

    def counting(keys, n_buckets, round_no, *a, **k):
        reads_seen = any("/seen/data-" in f for f in keys.inputFiles())
        calls.append((round_no, keys.count(), reads_seen))
        return orig(keys, n_buckets, round_no, *a, **k)

    catalogs: list[tuple[dict, dict]] = []
    run_round = ENG.Crawler.run_round

    def recording(crawler, round_no):
        st = crawler.storage

        def catalog():
            return {t: st.latest_snapshot(t) for t in st.tables()}

        before = catalog()
        rs = run_round(crawler, round_no)
        catalogs.append((before, catalog()))
        return rs

    monkeypatch.setattr(ENG.D, f"build_{table}", counting)
    monkeypatch.setattr(ENG.Crawler, "run_round", recording)
    storage, stats = run_engine(
        spark, world, tmp_path / f"{table}_inc", budget=2, **MODES[table]
    )
    assert len(stats.rounds) >= 3, "need a multi-round crawl to prove it"
    assert [c for c in calls if c[2]] == [calls[0]] == [(-1, 0, True)]
    by_round = {rs.round_no: rs.ok + rs.dead_lettered for rs in stats.rounds
                if rs.scheduled}
    assert [(r, n) for r, n, _ in calls[1:]] == sorted(by_round.items())
    assert all(n > 0 for _, n, _ in calls[1:]), calls
    assert storage.latest_snapshot(table) is not None
    assert stats.rounds[-1].scheduled == 0
    before, after = catalogs[-1]
    assert after == before


@pytest.mark.parametrize("table", ["bloom", "cuckoo"])
def test_cuckoo_with_compaction_identical(spark, world, tmp_path, exact_ref, table):
    """The periodic compaction fold (one segment built from the live seen
    set) slots into a running filter crawl without changing a single
    fetch.  Right after a fold each bucket has one segment, sized from its
    live key count; no cuckoo segment is left overflowed."""
    from spiders_for_all_spark.operators.dedup import SeenFilter, bloom_params

    storage = SnapshotStorage(spark, str(tmp_path / "compact"))
    cfg = CrawlConfig(
        max_rounds=40, default_budget=2, max_depth=3, **MODES[table],
        n_buckets=8, compact_every=3, expire_keep_last=2,
    )
    c = Crawler(
        spark, storage, SyntheticFetcher(world["site_path"], partitions=4), cfg
    )
    c.run(seeds=world["seeds"])
    assert visits(storage) == visits(exact_ref)
    rows = storage.read(table).collect()
    assert rows
    if table == "cuckoo":
        assert not any(r["overflowed"] for r in rows)

    # the newest fold is the newest one-dir snapshot of the filter table
    fold = max(
        s for s in storage.snapshots(table)
        if s <= storage.latest_snapshot(table)
        and len(storage.data_files(table, s)) == 1
    )
    segs = storage.read(table, fold).collect()
    fold_round = segs[0]["round"]
    assert (fold_round + 1) % 3 == 0 and {r["round"] for r in segs} == {fold_round}
    live = {
        r["bucket"]: r["count"]
        for r in storage.read("seen").filter(F.col("round") <= fold_round)
        .groupBy("bucket").count().collect()
    }
    assert sorted(r["bucket"] for r in segs) == sorted(live)
    fpp = SeenFilter(table, 8, cfg.compact_every).fpp
    for r in segs:
        if table == "cuckoo":
            assert r["capacity"] == live[r["bucket"]]
        else:
            assert r["n_bits"] == bloom_params(live[r["bucket"]], fpp)[0]


def test_evict_mid_crawl_preserves_pending(spark, world, tmp_path, exact_ref):
    """evict() between rounds of a LIVE crawl (frontier non-empty, retries
    pending) must preserve every pending frontier row, and a crash between
    the evict commit and the next round must resume to the same final
    crawl as an uninterrupted run (plus exactly one extra fetch of the
    evicted URL)."""
    from collections import Counter

    ref_fetches = Counter(
        r["url"] for r in exact_ref.read("fetch_log").collect()
    )

    storage = SnapshotStorage(spark, str(tmp_path / "evict_mid"))
    cfg = CrawlConfig(
        max_rounds=40, default_budget=2, max_depth=3, use_cuckoo=True,
        n_buckets=8,
    )
    fetcher = SyntheticFetcher(world["site_path"], partitions=4)
    c = Crawler(spark, storage, fetcher, cfg)
    c.run(seeds=world["seeds"], max_rounds=2)
    pending = {
        r["url_hash"] for r in storage.read("frontier").collect()
    }
    assert pending, "crawl must still be mid-flight for this test"

    fetched_once = sorted(
        r["url"]
        for r in storage.read("fetch_log")
        .filter(F.col("error").isNull())
        .collect()
    )
    url = fetched_once[0]
    c.evict([url])
    after_evict = {
        r["url_hash"] for r in storage.read("frontier").collect()
    }
    assert pending <= after_evict, "evict dropped pending frontier rows"
    assert len(after_evict) == len(pending) + 1

    # crash here: a FRESH crawler over the same warehouse is the resume
    c2 = Crawler(
        spark, storage,
        SyntheticFetcher(world["site_path"], partitions=4), cfg,
    )
    c2.run()
    fetches = Counter(r["url"] for r in storage.read("fetch_log").collect())
    expected = Counter(ref_fetches)
    expected[url] += 1
    assert fetches == expected
    assert storage.read("evicted").count() == 0


def _assert_evicted_from_target_segment(storage, url):
    """The evicted hash left its target segment — the one with the smallest
    round at or after the round the hash entered seen — and every other
    key that segment holds is still a member."""
    import numpy as np

    from spiders_for_all_spark.operators.dedup import CuckooFilter

    h = storage.read("fetch_log").filter(F.col("url") == url).first()["url_hash"]
    seen = storage.read("seen").collect()
    bucket = next(r["bucket"] for r in seen if r["url_hash"] == h)
    segs = {
        r["round"]: CuckooFilter.from_bytes(bytes(r["table"]))
        for r in storage.read("cuckoo").filter(F.col("bucket") == bucket).collect()
    }

    def target(entered):
        return min(rnd for rnd in segs if rnd >= (-1 if entered is None else entered))

    seg = target(next(r["round"] for r in seen if r["url_hash"] == h))
    assert not segs[seg].contains(np.array([h], dtype=np.int64)).any()
    others = [r["url_hash"] for r in seen
              if r["bucket"] == bucket and r["url_hash"] != h and target(r["round"]) == seg]
    assert others, "the target segment should hold other keys too"
    assert segs[seg].contains(np.array(others, dtype=np.int64)).all()


@pytest.mark.parametrize("mode", list(MODES))
def test_evict_recrawls_url(spark, world, tmp_path, mode):
    """North-star re-crawl eviction: evict() logically deletes a fetched URL
    from the seen set (tombstone, plus a fingerprint deletion in cuckoo
    mode; exact and bloom rely on the exact confirm) and re-enqueues it;
    the next round re-fetches it, refreshes update_at but keeps create_at,
    and clears the tombstone."""
    from collections import Counter

    storage = SnapshotStorage(spark, str(tmp_path / "evict"))
    cfg = CrawlConfig(
        max_rounds=40, default_budget=3, max_depth=3, **MODES[mode],
        n_buckets=8,
    )
    fetcher = SyntheticFetcher(world["site_path"], partitions=4)
    c = Crawler(spark, storage, fetcher, cfg)
    c.run(seeds=world["seeds"])

    # a page URL that succeeded on its FIRST attempt (exactly one log row) —
    # the fail-injected retry URLs would legitimately log extra fetches
    ok_pages = sorted(
        (r["url"], r["url_hash"])
        for r in storage.read("fetch_log")
        .filter(F.col("url").contains("/api/list"))
        .groupBy("url", "url_hash")
        .agg(F.count("*").alias("n"), F.max(F.col("error").isNull().cast("int")).alias("ok"))
        .filter((F.col("n") == 1) & (F.col("ok") == 1))
        .collect()
    )
    # a page that entered seen in the same round and bucket as another key,
    # so its cuckoo segment keeps a neighbour through the eviction
    seen = storage.read("seen").collect()
    segment = Counter((r["bucket"], r["round"]) for r in seen)
    where = {r["url_hash"]: (r["bucket"], r["round"]) for r in seen}
    url = next(u for u, h in ok_pages if segment[where[h]] > 1)
    before = {
        r["doc_id"]: (r["create_at"], r["update_at"])
        for r in storage.read("documents").collect()
    }
    seen_before = storage.read("seen").count()

    c.evict([url])
    assert storage.read("evicted").count() == 1
    if mode == "cuckoo":
        _assert_evicted_from_target_segment(storage, url)
    c.run()

    fetches = storage.read("fetch_log").filter(F.col("url") == url).collect()
    assert len(fetches) == 2
    assert len({r["round"] for r in fetches}) == 2, "re-fetched in a later round"
    # tombstone cleared the moment the hash re-entered seen
    assert storage.read("evicted").count() == 0
    # effective seen set is back to the full set (hash re-added once)
    assert (
        storage.read("seen").select("url_hash").distinct().count()
        == storage.read("seen").count() - 1
    )
    assert storage.read("seen").count() == seen_before + 1

    after = {
        r["doc_id"]: (r["create_at"], r["update_at"])
        for r in storage.read("documents").collect()
    }
    assert set(after) == set(before), "re-crawl must not add or drop docs"
    refreshed = [d for d in after if after[d][1] != before[d][1]]
    assert refreshed, "re-emitted docs must refresh update_at"
    for d in after:
        assert after[d][0] == before[d][0], f"create_at changed for {d}"


def _spill_scans(df) -> int:
    """File scans of a round's scratch spill in ``df``'s executed plan (a
    reused exchange is not a scan).  Read from the scan nodes' root paths:
    the plan string abbreviates long locations."""
    leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
    n = 0
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "FileSourceScanExec":
            paths = leaf.relation().location().rootPaths().toString()
            n += "/_scratch/round-" in paths
    return n


class _MediaMetaPlans(SnapshotStorage):
    """Storage that records the executed plan of every DataFrame staged
    into ``media_meta``, and how many times the frontier and seen staging
    plans scan the round's spill."""

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.media_meta_plans: list[str] = []
        self.spill_scans: dict[str, list[int]] = {"frontier": [], "seen": []}

    def stage_append(self, table, df, *args, **kwargs):
        if table == "media_meta":
            self.media_meta_plans.append(
                df._jdf.queryExecution().executedPlan().toString()
            )
        if table == "seen":
            self.spill_scans[table].append(_spill_scans(df))
        return super().stage_append(table, df, *args, **kwargs)

    def stage_overwrite(self, table, df, *args, **kwargs):
        if table == "frontier":
            self.spill_scans[table].append(_spill_scans(df))
        return super().stage_overwrite(table, df, *args, **kwargs)


def test_media_meta_table_and_sink(spark, world, tmp_path):
    """The engine defaults media to the warehouse file sink (bytes never in
    a plan column) and commits a typed media_meta row per fetched payload
    in the same atomic flip.  The fetch worker sniffs each payload as it
    writes it, so the media_meta staging job runs no Python.  Each leg of
    the next frontier reads the spill once (a filter crawl's probe copies
    the successor leg, which makes 5), and the seen delta is one filter
    over it."""
    import os

    from test_seen_probe import PYTHON_EXECS

    from spiders_for_all_spark.operators.multimodal import sniff_format

    storage, _ = run_engine(
        spark, world, tmp_path / "mm", budget=5, storage_cls=_MediaMetaPlans
    )
    assert storage.media_meta_plans
    for plan in storage.media_meta_plans:
        assert not [p for p in PYTHON_EXECS if p in plan], plan
    # the bootstrap commits read no spill; every round's plans do
    scans = {t: [n for n in ns if n] for t, ns in storage.spill_scans.items()}
    assert scans["frontier"] and max(scans["frontier"]) <= 5, scans
    assert scans["seen"] and set(scans["seen"]) == {1}, scans
    meta = {r["media_ref"]: r for r in storage.read("media_meta").collect()}
    assert world["media_backup"] in meta
    r = meta[world["media_backup"]]
    assert r["media_path"] and os.path.exists(r["media_path"])
    assert r["n_bytes"] == os.path.getsize(r["media_path"])
    assert r["format"] is not None and r["media_kind"] is not None
    for r in meta.values():
        with open(r["media_path"], "rb") as fh:
            assert (r["format"], r["media_kind"]) == sniff_format(fh.read()), r
    # sink-mode lineage: every successful media fetch logged a path and an
    # explicit byte count (ADVICE r02 — no NULL byte accounting on the
    # at-scale path), and the sniffed size matches it
    log = storage.read("fetch_log").filter(F.col("media_ref").isNotNull()).collect()
    assert log
    for row in log:
        assert row["media_path"], row
        assert row["bytes_fetched"] and row["bytes_fetched"] > 0, row
        assert meta[row["media_ref"]]["n_bytes"] == row["bytes_fetched"]
    # no scratch dirs left behind after committed rounds
    assert not os.path.exists(
        os.path.join(storage.warehouse, "_scratch")
    ) or not os.listdir(os.path.join(storage.warehouse, "_scratch"))


def test_resume_from_snapshot(spark, world, tmp_path, exact_ref):
    """Kill-and-resume: run 2 rounds, new Crawler resumes, result identical."""
    storage = SnapshotStorage(spark, str(tmp_path / "resume"))
    cfg = CrawlConfig(max_rounds=40, default_budget=2, max_attempts=3, max_depth=3)
    fetcher = SyntheticFetcher(world["site_path"], partitions=4)
    c1 = Crawler(spark, storage, fetcher, cfg)
    c1.bootstrap(world["seeds"])
    c1.run(max_rounds=2)
    # "crash" — new crawler object over the same warehouse, no re-bootstrap
    c2 = Crawler(spark, storage, fetcher, cfg)
    c2.run()

    assert visits(storage) == visits(exact_ref)


def test_seen_frontier_row_stays_queued_not_dropped(spark, world, tmp_path):
    """A hand-injected frontier row whose hash is already seen is never
    scheduled (the anti-join blocks it) and STAYS QUEUED in the committed
    frontier — the simulator's remainder is frontier ∖ scheduled
    (simulator.py:186), not candidates ∖ scheduled, so silently dropping
    the row would diverge from the spec.  Committed rounds never produce
    such a row (frontier ∩ effective seen = ∅ invariant); this pins the
    engine's behavior for the hand-injected corner the invariant doesn't
    cover."""
    from spiders_for_all_spark.operators import frontier as FR

    storage, _ = run_engine(
        spark, world, tmp_path / "seenq", budget=2, use_cuckoo=True
    )
    done_url = (
        storage.read("fetch_log")
        .filter(F.col("error").isNull() & (F.col("url_hash").isNotNull()))
        .select("url")
        .first()["url"]
    )
    inj = FR.dedup_frontier(
        FR.seeds_to_frontier(
            spark, [{"url": done_url, "priority": 0, "kind": "page"}]
        )
    )
    storage.commit("frontier", inj)
    n_log_before = storage.read("fetch_log").count()

    cfg = CrawlConfig(
        max_rounds=40, default_budget=2, max_depth=3, use_cuckoo=True,
        n_buckets=8,
    )
    c = Crawler(
        spark, storage, SyntheticFetcher(world["site_path"], partitions=4), cfg
    )
    stats = c.run(max_rounds=1)

    assert stats.rounds[0].scheduled == 0
    assert storage.read("fetch_log").count() == n_log_before
    left = storage.read("frontier").collect()
    assert len(left) == 1 and left[0]["url"] == done_url


class _FailingStage(SnapshotStorage):
    """Storage whose ``stage_*`` call for ``fail_table`` writes its data
    and then raises, like a staging job that dies before the flip."""

    fail_table: str | None = None

    def _stage(self, method, table, *args, **kwargs):
        staged = getattr(super(), method)(table, *args, **kwargs)
        if table == self.fail_table:
            raise RuntimeError(f"injected staging fault: {table}")
        return staged

    def stage_merge(self, table, *args, **kwargs):
        return self._stage("stage_merge", table, *args, **kwargs)

    def stage_append(self, table, *args, **kwargs):
        return self._stage("stage_append", table, *args, **kwargs)

    def stage_overwrite(self, table, *args, **kwargs):
        return self._stage("stage_overwrite", table, *args, **kwargs)


@pytest.mark.parametrize("table", ["documents", "seen", "fetch_log", "frontier", "cuckoo"])
def test_staging_fault_keeps_round_n_minus_1(spark, world, tmp_path, table):
    """A staging job that raises in round N leaves every table at round
    N-1 and no scratch spill behind; a resumed crawl over the same
    warehouse equals the simulator."""
    import os

    storage = _FailingStage(spark, str(tmp_path / "fault"))
    cfg = CrawlConfig(
        max_rounds=40, default_budget=5, max_attempts=3, max_depth=3,
        use_cuckoo=True, n_buckets=8,
    )
    fetcher = SyntheticFetcher(world["site_path"], partitions=4)
    Crawler(spark, storage, fetcher, cfg).run(seeds=world["seeds"], max_rounds=1)

    def catalog():
        return {t: storage.latest_snapshot(t) for t in storage.tables()}

    before = catalog()
    assert table in before

    storage.fail_table = table
    with pytest.raises(RuntimeError, match="injected staging fault"):
        Crawler(spark, storage, fetcher, cfg).run(max_rounds=1)
    assert catalog() == before
    scratch = os.path.join(storage.warehouse, "_scratch")
    assert not os.path.exists(scratch) or not os.listdir(scratch)

    storage.fail_table = None
    Crawler(spark, storage, fetcher, cfg).run()
    sim = simulate(
        world["index"], world["seeds"], max_rounds=40, default_budget=5,
        max_attempts=3, max_depth=3,
    )
    assert_engine_matches_sim(spark, storage, sim)
