"""Scale-machinery tests: cuckoo/partitioned-bloom seen set, robots gate,
host budgets, caps, storage snapshots, metrics, streaming."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from spiders_for_all_spark import fixtures as FX
from spiders_for_all_spark.engine import Crawler, CrawlConfig
from spiders_for_all_spark.operators import dedup as D
from spiders_for_all_spark.operators.metrics import (
    error_breakdown,
    partition_metrics,
    round_metrics,
)
from spiders_for_all_spark.sources.fetcher import SyntheticFetcher
from spiders_for_all_spark.storage import SnapshotStorage


@pytest.fixture(scope="module")
def hashes(spark):
    return spark.range(0, 500).select(
        (F.xxhash64(F.col("id").cast("string"))).alias("url_hash")
    ).cache()


@pytest.fixture(scope="module")
def frontier_like(spark):
    return spark.range(0, 1000).select(
        (F.xxhash64(F.col("id").cast("string"))).alias("url_hash"),
        F.concat(F.lit("u"), F.col("id")).alias("url"),
    ).cache()


def test_bloom_partitioned_equals_exact(spark, hashes, frontier_like):
    bloom = D.build_bloom(hashes, n_buckets=8)
    got = sorted(
        r["url"]
        for r in D.seen_anti_join_bloom(
            frontier_like, hashes, bloom, n_buckets=8
        ).collect()
    )
    want = sorted(
        r["url"] for r in D.seen_anti_join(frontier_like, hashes).collect()
    )
    assert got == want
    assert len(want) == 500


def test_cuckoo_filter_unit():
    f = D.CuckooFilter(capacity=1000)
    keys = np.array([hash(f"k{i}") for i in range(800)], dtype=np.int64)
    for k in keys:
        assert f.insert(int(k))
    assert f.contains(keys).all()
    # delete half, re-check
    for k in keys[:400]:
        assert f.delete(int(k))
    assert not f.contains(keys[:400]).any() or f.contains(keys[:400]).mean() < 0.05
    assert f.contains(keys[400:]).all()
    # roundtrip
    f2 = D.CuckooFilter.from_bytes(f.to_bytes())
    assert f2.contains(keys[400:]).all()


def test_cuckoo_anti_join_and_delete(spark, hashes, frontier_like):
    seen = hashes.withColumn("round", F.lit(0))
    cuckoo = D.build_cuckoo(hashes, n_buckets=8)
    got = sorted(
        r["url"]
        for r in D.seen_anti_join_cuckoo(
            frontier_like, hashes, cuckoo, n_buckets=8
        ).collect()
    )
    want = sorted(r["url"] for r in D.seen_anti_join(frontier_like, hashes).collect())
    assert got == want

    # re-crawl eviction: delete 100 seen hashes -> they pass the filter again
    evict = hashes.limit(100)
    pruned = D.cuckoo_delete(cuckoo, evict, seen, n_buckets=8)
    live_seen = hashes.join(evict, on="url_hash", how="left_anti")
    got2 = sorted(
        r["url"]
        for r in D.seen_anti_join_cuckoo(
            frontier_like, live_seen, pruned, n_buckets=8
        ).collect()
    )
    want2 = sorted(
        r["url"] for r in D.seen_anti_join(frontier_like, live_seen).collect()
    )
    assert got2 == want2
    assert len(want2) == 600
    # the kept keys are all still members
    new, _ = D._split(D.with_bucket(live_seen, 8), pruned, D._cuckoo_member())
    assert new.count() == 0


def test_cuckoo_delete_skips_unseen_colliding_key(spark):
    """Evicting a hash that never entered seen must not delete the
    fingerprint of a seen hash it collides with: the two share bucket
    (mod 8), first cuckoo bucket and fingerprint."""
    h = 0x123456789ABCDEF1
    unseen = h ^ (1 << 40)
    ref = D.CuckooFilter(1)
    ref.bulk_insert(np.array([h], dtype=np.int64))
    assert ref.contains(np.array([unseen], dtype=np.int64)).all()

    seen = spark.createDataFrame([(h, 3)], "url_hash long, round int")
    filt = D.SeenFilter("cuckoo", n_buckets=8)
    filt.filters = filt.build(seen, 3)

    def maybes():
        _, maybe = D._split(D.with_bucket(seen.select("url_hash"), 8), filt.filters,
                            D._cuckoo_member())
        return [r["url_hash"] for r in maybe.collect()]

    filt.filters = filt.delete(spark.createDataFrame([(unseen,)], "url_hash long"), seen)
    assert maybes() == [h], "a seen URL would probe as definitely new"
    filt.filters = filt.delete(seen.select("url_hash"), seen)
    assert maybes() == []


def test_cuckoo_bulk_insert_membership():
    """Vectorized bulk build yields the same membership as sequential."""
    keys = np.array([hash(f"bulk{i}") for i in range(1500)], dtype=np.int64)
    f = D.CuckooFilter(capacity=2000)
    assert f.bulk_insert(keys)
    assert f.contains(keys).all()
    other = np.array([hash(f"other{i}") for i in range(2000)], dtype=np.int64)
    # 16-bit fingerprints: false-positive rate must stay tiny
    assert f.contains(other).mean() < 0.01


def test_cuckoo_overflow_routes_to_exact(spark, hashes, frontier_like):
    """An over-full bucket flags `overflowed`; the probe then exact-confirms
    the whole bucket, so output stays row-identical to the exact anti-join
    (ADVICE r01: no false negatives on overflow)."""
    # hand-built filter table: every bucket overflowed with an EMPTY filter
    # that would otherwise claim nothing is seen (the false-negative trap)
    empty = D.CuckooFilter(capacity=4)
    rows = [(b, 0, 4, bytearray(empty.to_bytes()), True) for b in range(8)]
    cuckoo = spark.createDataFrame(rows, schema=D.CUCKOO_SCHEMA)
    got = sorted(
        r["url"]
        for r in D.seen_anti_join_cuckoo(
            frontier_like, hashes, cuckoo, n_buckets=8
        ).collect()
    )
    want = sorted(
        r["url"] for r in D.seen_anti_join(frontier_like, hashes).collect()
    )
    assert got == want


def test_cuckoo_build_sizes_from_actual_rows(spark):
    """build_cuckoo sizes each bucket's filter from its real key count, so
    no key is dropped however many land in a bucket (ADVICE r01)."""
    seen = spark.range(0, 4000).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")
    )
    cuckoo = D.build_cuckoo(seen, n_buckets=4)
    counts = {r["bucket"]: r["count"] for r in D.with_bucket(seen, 4).groupBy("bucket").count().collect()}
    rows = cuckoo.collect()
    assert {r["bucket"]: r["capacity"] for r in rows} == counts
    assert not any(r["overflowed"] for r in rows)
    frontier = spark.range(0, 8000).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"),
        F.concat(F.lit("u"), F.col("id")).alias("url"),
    )
    got = D.seen_anti_join_cuckoo(frontier, seen, cuckoo, n_buckets=4).count()
    assert got == 4000


def test_merge_blooms_equals_full_build(spark, hashes, frontier_like):
    """The union probe of two bloom segments, bloom(A) and bloom(B), equals
    the probe of one build over A ∪ B: both hold every seen key and both
    return the exact anti-join.  A key is a maybe of the union exactly
    when it is a maybe of either segment."""

    def maybes(filters):
        fb = D.with_bucket(frontier_like, 8)
        return {r["url_hash"] for r in D._split(fb, filters, D._bloom_member())[1].collect()}

    # split on sign, NOT parity: parity correlates with pmod(hash, 8), which
    # would make A's and B's buckets disjoint and never put two segments
    # in one bucket
    a = D.build_bloom(hashes.filter(F.col("url_hash") > 0), 8, 0)
    b = D.build_bloom(hashes.filter(F.col("url_hash") <= 0), 8, 1)
    union = a.unionByName(b)
    assert union.groupBy("bucket").count().filter("count = 2").count() == 8
    assert maybes(union) == maybes(a) | maybes(b)
    seen = {r["url_hash"] for r in hashes.collect()}
    assert seen <= maybes(union) and seen <= maybes(D.build_bloom(hashes, 8))

    want = sorted(r["url"] for r in D.seen_anti_join(frontier_like, hashes).collect())
    for filters in (union, D.build_bloom(hashes, 8)):
        got = D.seen_anti_join_bloom(frontier_like, hashes, filters, n_buckets=8)
        assert sorted(r["url"] for r in got.collect()) == want


def test_media_sink_streams_to_files(spark, tmp_path):
    """S6 scale path: with a media sink, payloads are written to files
    inside the fetch worker and only the path/ref travel through the plan
    (no bytes column — SURVEY §2 S6 'never materialize bytes in a
    column')."""
    import os

    from spiders_for_all_spark.operators.frontier import seeds_to_frontier
    from spiders_for_all_spark.sources.fetcher import SyntheticFetcher

    rows, _seeds = FX.build_site(n_hosts=1, notes_per_host=1, seed=3)
    site = str(tmp_path / "site.parquet")
    FX.write_site(rows, site)
    media = [r for r in rows if r["kind"] == "media"][:3]
    assert media
    fr = seeds_to_frontier(
        spark, [{"url": m["url"], "kind": "media"} for m in media]
    )
    sink = str(tmp_path / "media_sink")
    fetched = SyntheticFetcher(
        site, partitions=2, media_sink_dir=sink
    ).fetch(fr).collect()
    payloads = {m["url"]: m["body"].encode() for m in media}
    for r in fetched:
        assert "media_bytes" not in r.asDict()
        assert r["media_path"] and os.path.exists(r["media_path"])
        assert open(r["media_path"], "rb").read() == payloads[r["url"]]


def test_politeness_pacing_metric(spark):
    """urls_per_host_sec = fetched / round wall-clock, per (round, host)."""
    from spiders_for_all_spark.operators.metrics import politeness_pacing

    log = spark.createDataFrame(
        [
            ("https://a.com/1", 1, 0), ("https://a.com/2", 2, 0),
            ("https://b.com/1", 3, 0), ("https://a.com/3", 4, 1),
        ],
        "url string, url_hash long, round int",
    )
    got = {
        (r["round"], r["host"]): (r["fetched"], r["urls_per_host_sec"])
        for r in politeness_pacing(log, round_seconds=10.0).collect()
    }
    assert got[(0, "a.com")] == (2, 0.2)
    assert got[(0, "b.com")] == (1, 0.1)
    assert got[(1, "a.com")] == (1, 0.1)


@pytest.fixture(scope="module")
def world(tmp_path_factory):
    rows, seeds = FX.build_site(n_hosts=3, pages_per_chain=3, page_size=2,
                                cursor_pages=2, notes_per_host=2, seed=5)
    path = str(tmp_path_factory.mktemp("site") / "pages.parquet")
    FX.write_site(rows, path)
    return {"rows": rows, "seeds": seeds, "site_path": path}


def _crawl(spark, world, tmp, cfg, robots=None, host_budget=None):
    storage = SnapshotStorage(spark, str(tmp))
    c = Crawler(spark, storage, SyntheticFetcher(world["site_path"], partitions=4),
                cfg, robots=robots, host_budget=host_budget)
    stats = c.run(seeds=world["seeds"])
    return storage, stats


def test_cuckoo_segments_incremental(spark, hashes, frontier_like):
    """Incremental maintenance: one segment over half the seen set, one
    over the other half, each sized from its own keys — the union probe
    equals the exact anti-join over the full set, and no segment
    overflows."""
    first = hashes.limit(250)
    rest = hashes.join(first, on="url_hash", how="left_anti")
    segments = D.build_cuckoo(first, 8, 0).unionByName(D.build_cuckoo(rest, 8, 1))
    rows = segments.collect()
    assert sorted({r["round"] for r in rows}) == [0, 1]
    assert sum(r["capacity"] for r in rows) == 500
    assert not any(r["overflowed"] for r in rows)
    got = sorted(
        r["url"]
        for r in D.seen_anti_join_cuckoo(
            frontier_like, hashes, segments, n_buckets=8
        ).collect()
    )
    want = sorted(
        r["url"] for r in D.seen_anti_join(frontier_like, hashes).collect()
    )
    assert got == want
    assert len(want) == 500


def test_robots_gate_blocks_paths(spark, world, tmp_path):
    robots = spark.createDataFrame(
        [("h0.example.com", ["/api/comments"], 1.0)],
        "host string, disallow array<string>, crawl_delay double",
    )
    storage, _ = _crawl(spark, world, tmp_path / "rob",
                        CrawlConfig(default_budget=3), robots=robots)
    urls = [r["url"] for r in storage.read("fetch_log").collect()]
    assert not any("h0.example.com/api/comments" in u for u in urls)
    assert any("h1.example.com/api/comments" in u for u in urls)
    assert any("h0.example.com/api/list" in u for u in urls)


def test_host_budget_table_caps_per_round(spark, world, tmp_path):
    hb = spark.createDataFrame(
        [("h0.example.com", 1, 1)], "host string, budget_per_round int, salt_n int"
    )
    storage, _ = _crawl(spark, world, tmp_path / "hb",
                        CrawlConfig(default_budget=4), host_budget=hb)
    log = storage.read("fetch_log")
    from spiders_for_all_spark.functions.urls import url_host

    per_round = (
        log.withColumn("host", url_host(F.col("url")))
        .groupBy("round", "host")
        .count()
        .collect()
    )
    for r in per_round:
        cap = 1 if r["host"] == "h0.example.com" else 4
        assert r["count"] <= cap, r


def test_robots_parser_feeds_gate(spark):
    """robots.txt text -> parsed rules -> gate: a URL under a star-section
    Disallow is blocked; agent-specific sections are ignored for '*'."""
    from spiders_for_all_spark.operators.politeness import (
        robots_gate,
        robots_table_from_bodies,
    )

    body = (
        "User-agent: googlebot\nDisallow: /everything\n\n"
        "User-agent: *\nDisallow: /private\nCrawl-delay: 2\nDisallow: /tmp\n"
    )
    robots = robots_table_from_bodies(
        spark.createDataFrame([("h.example.com", body)], "host string, body string")
    )
    row = robots.collect()[0]
    assert row["disallow"] == ["/private", "/tmp"]  # file order kept
    assert row["crawl_delay"] == 2.0

    fr = spark.createDataFrame(
        [
            ("h.example.com", "https://h.example.com/private/x"),
            ("h.example.com", "https://h.example.com/everything"),  # gbot-only
            ("h.example.com", "https://h.example.com/ok"),
        ],
        "host string, canonical_url string",
    )
    kept = {r["canonical_url"] for r in robots_gate(fr, robots).collect()}
    assert kept == {
        "https://h.example.com/everything",
        "https://h.example.com/ok",
    }


def test_robots_stacked_agents_and_delay_only(spark):
    """RFC 9309 group semantics: consecutive User-agent lines form ONE
    group ('*' stacked with another agent keeps the rules), and a host
    whose '*' group has only a Crawl-delay still gets a robots row."""
    from spiders_for_all_spark.operators.politeness import (
        robots_table_from_bodies,
    )

    stacked = (
        "User-agent: *\nUser-agent: googlebot\n"
        "Disallow: /x\nCrawl-delay: 3\n"
    )
    delay_only = "User-agent: *\nCrawl-delay: 7\n"
    other_agent = "User-agent: googlebot\nDisallow: /g\n"
    robots = robots_table_from_bodies(
        spark.createDataFrame(
            [
                ("stacked.example.com", stacked),
                ("delayonly.example.com", delay_only),
                ("other.example.com", other_agent),
            ],
            "host string, body string",
        )
    )
    rows = {r["host"]: r for r in robots.collect()}
    assert rows["stacked.example.com"]["disallow"] == ["/x"]
    assert rows["stacked.example.com"]["crawl_delay"] == 3.0
    assert rows["delayonly.example.com"]["disallow"] == []
    assert rows["delayonly.example.com"]["crawl_delay"] == 7.0
    # no '*' group at all -> no row
    assert "other.example.com" not in rows


def test_per_host_salting_is_result_invariant(spark):
    """Adaptive skew handling: a host_budget row with salt_n>1 routes ONLY
    that host through the two-phase pre-rank; the scheduled set is
    identical to fully-unsalted scheduling (each salt slice keeps its own
    top-budget — a superset of the host's global top-budget)."""
    from spiders_for_all_spark.operators.politeness import schedule_round

    fr = spark.range(0, 2000).select(
        F.concat(F.lit("h"), (F.col("id") % 5)).alias("host"),
        F.concat(F.lit("u"), F.col("id")).alias("canonical_url"),
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"),
        (F.col("id") % 3).cast("int").alias("priority"),
        F.lit(0).alias("discovery_round"),
        F.lit(0).alias("attempt"),
    )
    hb = spark.createDataFrame(
        [("h0", 7, 4), ("h2", 7, 2)],
        "host string, budget_per_round int, salt_n int",
    )
    salted = schedule_round(fr, hb, default_budget=7, salt_n=1)
    flat = schedule_round(fr, hb.drop("salt_n"), default_budget=7, salt_n=1)
    a = sorted(tuple(r) for r in salted.collect())
    b = sorted(tuple(r) for r in flat.collect())
    assert a == b and len(a) == 5 * 7


def test_total_doc_cap_stops_crawl(spark, world, tmp_path):
    storage, stats = _crawl(
        spark, world, tmp_path / "cap",
        CrawlConfig(default_budget=3, total_doc_cap=5),
    )
    # stops at the first round whose cumulative docs >= 5 (round granularity,
    # mirroring the reference's count>=total stop at core/spider.py:299-311)
    assert storage.read("documents").count() >= 5
    assert len(stats.rounds) < 10


def test_max_depth_limits_out_links(spark, world, tmp_path):
    storage, _ = _crawl(
        spark, world, tmp_path / "depth",
        CrawlConfig(default_budget=5, max_depth=0),
    )
    urls = [r["url"] for r in storage.read("fetch_log").collect()]
    # media links live at depth 2 (page -> note -> media); depth 0 forbids
    # following any out_link, so only seed chains are fetched
    assert not any("/media/" in u for u in urls)
    assert not any("/note/" in u for u in urls)


def test_metrics_over_fetch_log(spark, world, tmp_path):
    rows = world["rows"]
    fail_url = sorted(r["url"] for r in rows if r["kind"] == "page")[0]
    rows2, seeds = FX.build_site(n_hosts=3, pages_per_chain=3, page_size=2,
                                 cursor_pages=2, notes_per_host=2, seed=5,
                                 fail_specs={fail_url: (99, "http")})
    path = str(tmp_path / "site.parquet")
    FX.write_site(rows2, path)
    storage = SnapshotStorage(spark, str(tmp_path / "wh"))
    Crawler(spark, storage, SyntheticFetcher(path, partitions=4),
            CrawlConfig(default_budget=3, max_attempts=2)).run(seeds=seeds)
    log = storage.read("fetch_log")
    rm = {r["round"]: r for r in round_metrics(log).collect()}
    assert rm[0]["fetched"] > 0 and rm[0]["n_partitions"] >= 1
    assert sum(r["dead_lettered"] for r in rm.values()) == 1
    eb = {r["error"]: r["n"] for r in error_breakdown(log).collect()}
    assert eb.get("http_503") == 2  # two failed attempts before dead-letter
    pm = partition_metrics(log)
    assert pm.filter(F.col("partition_id").isNull()).count() == 0


def test_storage_snapshots_and_time_travel(spark, tmp_path):
    st = SnapshotStorage(spark, str(tmp_path / "wh"))
    df1 = spark.createDataFrame([("a", [])], "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>")
    s0 = st.commit("documents", df1)
    df2 = spark.createDataFrame([("b", [])], df1.schema)
    s1 = st.merge_upsert("documents", df2, key="doc_id")
    assert (s0, s1) == (0, 1)
    assert {r["doc_id"] for r in st.read("documents").collect()} == {"a", "b"}
    assert {r["doc_id"] for r in st.read("documents", snapshot=0).collect()} == {"a"}
    # merge updates matched keys
    df3 = spark.createDataFrame(
        [("a", [{"kind": "text", "text": "new", "media_ref": None, "offset": 0}])],
        df1.schema,
    )
    st.merge_upsert("documents", df3, key="doc_id")
    rows = {r["doc_id"]: r["spans"] for r in st.read("documents").collect()}
    assert len(rows["a"]) == 1 and rows["a"][0]["text"] == "new"
    assert rows["b"] == []
    # truncate-insert (K1)
    st.truncate_insert("documents", df2)
    assert {r["doc_id"] for r in st.read("documents").collect()} == {"b"}
    assert st.snapshots("documents") == [0, 1, 2, 3]


def test_streaming_windowed_counts(spark, tmp_path):
    # drive the same windowed agg through an actual readStream (memory sink)
    from spiders_for_all_spark.streaming.rounds import windowed_event_counts

    src = spark.range(0, 100).select(
        (F.lit("2024-01-01 00:00:00").cast("timestamp")
         + F.make_interval(mins=(F.col("id") % 30).cast("int"))).alias("ts"),
        F.when(F.col("id") % 2 == 0, "click").otherwise("view").alias("event_type"),
        (F.col("id") % 7).cast("double").alias("value"),
    )
    path = str(tmp_path / "events_parquet")
    src.write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(src.schema).parquet(path)
    agg = windowed_event_counts(stream, window="10 minutes")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_counts")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["win"]["start"].minute, r["event_type"]): r["n"]
            for r in spark.sql("SELECT * FROM win_counts").collect()
        }
    finally:
        q.stop()
    batch = {
        (r["win"]["start"].minute, r["event_type"]): r["n"]
        for r in windowed_event_counts(src, window="10 minutes").collect()
    }
    assert got == batch and len(got) == 6


def test_streaming_url_dedup(spark, tmp_path):
    """Streaming J1 twin: each url_hash emitted once across micro-batches."""
    from spiders_for_all_spark.streaming.rounds import streaming_url_dedup

    src = spark.range(0, 60).select(
        (F.lit("2024-01-01 00:00:00").cast("timestamp")
         + F.make_interval(mins=(F.col("id") % 5).cast("int"))).alias("ts"),
        (F.col("id") % 20).alias("url_hash"),  # each hash appears 3x
    )
    path = str(tmp_path / "disc_parquet")
    src.write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(src.schema).parquet(path)
    q = (
        streaming_url_dedup(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("url_dedup")
        .start()
    )
    try:
        q.processAllAvailable()
        got = [r["url_hash"] for r in spark.sql("SELECT * FROM url_dedup").collect()]
    finally:
        q.stop()
    assert sorted(got) == list(range(20))  # one emission per distinct hash


def test_streaming_host_budget_state(spark, tmp_path):
    """applyInPandasWithState: running per-host admission counter."""
    from spiders_for_all_spark.streaming.rounds import streaming_host_budget

    src = spark.range(0, 30).select(
        F.when(F.col("id") % 3 == 0, "a.com").otherwise("b.com").alias("host"),
    )
    path = str(tmp_path / "fetches_parquet")
    src.write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(src.schema).parquet(path)
    q = (
        streaming_host_budget(stream, budget_total=15)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("host_budget")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM host_budget").collect()
    finally:
        q.stop()
    by_host = {}
    for r in rows:  # keep the last (largest n_total) row per host
        cur = by_host.get(r["host"])
        if cur is None or r["n_total"] > cur["n_total"]:
            by_host[r["host"]] = r
    assert by_host["a.com"]["n_total"] == 10
    assert by_host["b.com"]["n_total"] == 20
    # b.com exceeded the total budget of 15: admitted sums to exactly 15
    admitted_b = sum(r["admitted"] for r in rows if r["host"] == "b.com")
    assert admitted_b == 15
    assert sum(r["admitted"] for r in rows if r["host"] == "a.com") == 10


def test_parse_title_extraction(spark):
    from spiders_for_all_spark.operators.parse import parse_stage

    df = spark.createDataFrame(
        [
            ("https://h/note/n1", "html", 200,
             '<html><head><title>T1 | h</title></head><body><script>'
             'window.__INITIAL_STATE__={"note":{"id":"n1","title":"t","desc":"d",'
             '"imageList":[],"video":undefined}};</script></body></html>'),
            ("https://h/api/list?page=1&size=2", "page", 200, '{"code":0,"data":{"list":[]}}'),
        ],
        "url string, kind string, status int, body string",
    )
    out = {r["kind"]: r["page_title"] for r in parse_stage(df).collect()}
    assert out["html"] == "T1 | h"
    assert out["page"] is None

    # explode over an unmaterialized parse (the crawl round's docs leg):
    # one doc per list item; empty and failed fetches emit none
    df = spark.createDataFrame(
        [
            ("https://h/api/list?page=1&size=2", "page", 200,
             '{"code":0,"data":{"list":[{"id":"d1","title":"t","desc":"x",'
             '"images":["i1"],"videos":[],"audios":[]}],"out_links":[]}}'),
            ("https://h/api/list?page=2&size=2", "page", 200,
             '{"code":0,"data":{"list":[]}}'),
            ("https://h/api/list?page=3&size=2", "page", 500, ""),
        ],
        "url string, kind string, status int, body string",
    )
    leg = parse_stage(df).select(F.explode("docs").alias("d")).select("d.doc_id")
    assert [r["doc_id"] for r in leg.collect()] == ["d1"]


def test_parse_expr_cache_reused_across_rounds(spark):
    """The ~200-node parse Column tree is built once per session per
    input shape and reused (the py4j construction cost is per-round
    driver time that suppresses narrow-pair scaling — PLANS.md)."""
    import spiders_for_all_spark.operators.parse as P

    spark.__dict__.pop("_sfas_parse_expr_cache", None)
    calls = []
    real = P._build_parse_exprs

    def counting(has_media_cols):
        calls.append(has_media_cols)
        return real(has_media_cols)

    df = spark.createDataFrame(
        [("https://h/api/list?page=1&size=2", "page", 200,
          '{"code":0,"data":{"list":[]}}')],
        "url string, kind string, status int, body string",
    )
    old = P._build_parse_exprs
    P._build_parse_exprs = counting
    try:
        r1 = P.parse_stage(df).collect()
        r2 = P.parse_stage(df).collect()  # second "round": cache hit
        assert r1 == r2
        assert calls == [False], calls
        # a media-shaped input is a different tree -> second cache entry
        dfm = df.withColumn("media_ref", F.lit(None).cast("string")) \
                .withColumn("canonical_url", F.col("url"))
        P.parse_stage(dfm).collect()
        P.parse_stage(dfm).collect()
        assert calls == [False, True], calls
    finally:
        P._build_parse_exprs = old
    assert set(spark.__dict__["_sfas_parse_expr_cache"]) == {
        ("parse_stage", False), ("parse_stage", True)}
