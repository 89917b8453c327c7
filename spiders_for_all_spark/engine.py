"""The crawl engine: one Catalyst-planned job per round, state in snapshots.

Replaces the reference's ``run() = before(); save_items(get_items()); after``
driver (reference: core/spider.py:245-248,295-327) with the round loop of
SURVEY §3.1:

    frontier -> anti-join seen (exact | bloom | deletable cuckoo: a Catalyst
                probe of the filter segments joined on bucket +
                exact-confirm; eviction tombstones subtracted)
             -> robots gate (broadcast join)
             -> politeness window top-k per host (per-host salting for
                hot hosts only)
             -> fetch  (mapInPandas, partitioned by host; media is written
                to the warehouse file sink and sniffed there, never carried
                in a column)
             -> parse  (pure Catalyst)
             -> columnar scratch spill (each downstream job prunes columns)
             -> documents MERGE (merge-on-read delta, upsert by doc_id)
             -> media_meta (a select over the fetch's media columns)
             -> successors/retries -> next frontier
             -> seen += fetched; fetch_log += lineage; filter += one
                segment built from the seen delta alone (with fetch, the
                round's only Python stages)
             -> ONE atomic multi-table snapshot commit (resumable
                checkpoint, north_rule); periodic compaction + expiry

All loop state (page/cursor positions the reference keeps on spider objects)
lives in frontier columns; a killed run resumes from the last committed
snapshot with zero loss (§3.4).
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spiders_for_all_spark.operators import dedup as D
from spiders_for_all_spark.operators import documents as DOCS
from spiders_for_all_spark.operators import frontier as FR
from spiders_for_all_spark.operators import parse as P
from spiders_for_all_spark.operators import politeness as POL
from spiders_for_all_spark.storage import SnapshotStorage


@dataclass
class CrawlConfig:
    max_rounds: int = 50
    default_budget: int = 2
    max_attempts: int = 3  # attempts per URL before dead-letter
    max_depth: int = 3
    total_doc_cap: int | None = None  # A2: global stop condition
    salt_n: int = 1  # >1 enables two-phase salted scheduling
    # seen prefilter in front of the exact anti-join (dedup.SeenFilter):
    # a bloom, or a cuckoo, which supports DELETIONS, so re-crawl eviction
    # (evict()) removes hashes from the probe filter itself rather than
    # relying on the exact-confirm alone (north_star: "cuckoo-filter
    # fallback for deletions"); cuckoo wins when both are set.  Either is
    # a committed log of segments: each round appends one segment sized
    # from its own seen DELTA (O(delta) bytes/round), and compaction folds
    # them into one segment built from the live seen set
    use_bloom: bool = False
    use_cuckoo: bool = False
    n_buckets: int = D.DEFAULT_BUCKETS
    # fold append-only seen/fetch_log deltas back into one dir every N rounds
    # (Iceberg rewrite_data_files): keeps file counts bounded on long crawls
    compact_every: int = 64
    # snapshots kept per table at each maintenance pass (time-travel window);
    # 0 disables expiry and keeps all history
    expire_keep_last: int = 8
    # pinned ISO timestamp for create_at/update_at (deterministic tests);
    # None = wall clock (F.current_timestamp()), the production default
    pinned_now: str | None = None


@dataclass
class RoundStats:
    round_no: int
    scheduled: int
    ok: int
    failed: int
    dead_lettered: int
    new_docs_total: int


@dataclass
class CrawlStats:
    rounds: list[RoundStats] = field(default_factory=list)

    @property
    def total_fetched(self) -> int:
        return sum(r.scheduled for r in self.rounds)


def ok_cond():
    # two-valued, so every parsed row is in exactly one of ok / failed: a
    # null status (and the null code/success it parses to) is a failure
    return F.coalesce(
        (F.col("status") == 200)
        & (F.col("code") == 0)
        & F.col("success")
        & F.col("parse_error").isNull(),
        F.lit(False),
    )


class Crawler:
    def __init__(
        self,
        spark: SparkSession,
        storage: SnapshotStorage,
        fetcher,
        config: CrawlConfig | None = None,
        robots: DataFrame | None = None,
        host_budget: DataFrame | None = None,
    ):
        self.spark = spark
        self.storage = storage
        self.fetcher = fetcher
        self.config = config or CrawlConfig()
        self.robots = robots
        self.host_budget = host_budget
        # the only place the seen-filter mode is read
        cfg = self.config
        self.seen_filter = D.SeenFilter(
            "cuckoo" if cfg.use_cuckoo else "bloom" if cfg.use_bloom else "exact",
            cfg.n_buckets,
            cfg.compact_every,
        )
        # default media to the warehouse file sink: bytes stream to files
        # INSIDE the fetch worker and never materialize in a plan column
        # (SURVEY §2 S6; VERDICT r02 wrong-item 3).  Only fetchers that
        # expose the knob and have it unset are defaulted — passing an
        # explicit sink (or a fetcher without one) is respected.
        if getattr(fetcher, "media_sink_dir", "absent") is None:
            fetcher.media_sink_dir = os.path.join(storage.warehouse, "_media")

    # ------------------------------------------------------------------
    def bootstrap(self, seeds: list[dict]) -> None:
        frontier = FR.dedup_frontier(FR.seeds_to_frontier(self.spark, seeds))
        self.storage.commit("frontier", frontier)
        if self.storage.latest_snapshot("seen") is None:
            self.storage.commit("seen", self.storage.empty("seen"))
        if self.storage.latest_snapshot("fetch_log") is None:
            self.storage.commit("fetch_log", self.storage.empty("fetch_log"))
        if self.storage.latest_snapshot("documents") is None:
            self.storage.commit("documents", self.storage.empty("documents"))
        if self.storage.latest_snapshot("media_meta") is None:
            self.storage.commit("media_meta", self.storage.empty("media_meta"))

    # ------------------------------------------------------------------
    def evict(self, urls: list[str]) -> None:
        """Re-crawl eviction: logically delete ``urls`` from the seen set and
        re-enqueue them for fetching (north_star: cuckoo deletions).

        Seen stays append-only — eviction writes TOMBSTONES to the tiny
        ``evicted`` table instead of rewriting the 10^10-row seen set; the
        round loop subtracts them from the effective seen set, deletes them
        from the cuckoo probe filter (``use_cuckoo``), and clears each
        tombstone the moment its URL is re-fetched (its hash re-enters
        seen), so the table stays O(pending evictions).  The frontier
        re-enqueue and the tombstone append flip in ONE atomic commit.
        """
        rows = FR.seeds_to_frontier(self.spark, [{"url": u} for u in urls])
        staged_evicted = self.storage.stage_append(
            "evicted", rows.select("url_hash")
        )
        frontier = self.storage.read("frontier")
        staged_frontier = self.storage.stage_overwrite(
            "frontier", FR.dedup_frontier(frontier.unionByName(rows))
        )
        staged = [staged_evicted, staged_frontier]
        filt = self.seen_filter
        if filt.deletes and self.storage.latest_snapshot(filt.table) is not None:
            # the persisted probe filter drops the fingerprints of the
            # still-live keys in the SAME flip as the tombstones — filter
            # and tombstone view of the live seen set can never diverge
            # across a crash
            filt.filters = self.storage.read(filt.table)
            staged.append(
                self.storage.stage_overwrite(
                    filt.table,
                    filt.delete(rows.select("url_hash"), self._live_seen()[0]),
                )
            )
        self.storage.commit_multi(staged)

    def _live_seen(self) -> tuple[DataFrame, DataFrame | None]:
        """(effective seen set, eviction tombstones or None).

        Effective seen = appended history minus eviction tombstones; the
        subtraction joins a 10^10-row table against an O(pending
        evictions) one — broadcast-cheap, and skipped entirely until the
        first evict() call."""
        seen = self.storage.read("seen")
        if self.storage.latest_snapshot("evicted") is None:
            return seen, None
        evicted = self.storage.read("evicted")
        return seen.join(F.broadcast(evicted), on="url_hash", how="left_anti"), evicted

    def next_round_no(self) -> int:
        log = self.storage.read("fetch_log")
        row = log.agg(F.max("round").alias("m")).collect()[0]
        return 0 if row["m"] is None else int(row["m"]) + 1

    # ------------------------------------------------------------------
    def run(self, seeds: list[dict] | None = None, max_rounds: int | None = None) -> CrawlStats:
        if seeds is not None:
            self.bootstrap(seeds)
        # a crash mid-round can orphan a scratch spill dir; committed rounds
        # always delete theirs, so anything here is dead weight
        shutil.rmtree(
            os.path.join(self.storage.warehouse, "_scratch"), ignore_errors=True
        )
        stats = CrawlStats()
        limit = max_rounds if max_rounds is not None else self.config.max_rounds
        round_no = self.next_round_no()
        for _ in range(limit):
            rs = self.run_round(round_no)
            stats.rounds.append(rs)
            if rs.scheduled == 0:
                break
            cap = self.config.total_doc_cap
            if cap is not None and rs.new_docs_total >= cap:
                break
            round_no += 1
        return stats

    # ------------------------------------------------------------------
    def run_round(self, round_no: int) -> RoundStats:
        # AQE is off for the round (restored after): every partitioning in
        # a round is explicit (politeness window hash(host), bucketed
        # merges, balanced fetch), so AQE's per-stage materialize ->
        # re-optimize barriers buy nothing and cost width-independent
        # driver time — 12-18% on the commit-inclusive round (PLANS.md
        # "Fixed per-round cost").
        # The round's scratch spill is removed however the round ends, so a
        # failed round leaves no spill behind.
        prev = self.spark.conf.get("spark.sql.adaptive.enabled")
        self.spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            return self._run_round(round_no)
        finally:
            self.spark.conf.set("spark.sql.adaptive.enabled", prev)
            shutil.rmtree(self._scratch_dir(round_no), ignore_errors=True)

    def _scratch_dir(self, round_no: int) -> str:
        return os.path.join(
            self.storage.warehouse, "_scratch", f"round-{round_no:06d}"
        )

    def _run_round(self, round_no: int) -> RoundStats:
        cfg = self.config
        storage = self.storage
        frontier = storage.read("frontier")
        seen, evicted = self._live_seen()

        # 1. J1 — seen anti-join (bloom/cuckoo prefilter + exact confirm at
        # scale; the cuckoo path applies eviction DELETIONS to the filter)
        filt = self.seen_filter
        if filt.table is not None:
            if storage.latest_snapshot(filt.table) is None:
                # first use: commit a segment built from the committed seen
                # set (consistent with round N-1, so it carries N-1), then
                # read it back like every later round — the build never
                # rides along into this round's jobs
                storage.commit(filt.table, filt.build(seen, round_no - 1))
            # every committed round appended its delta's segment (and
            # evict() already removed tombstoned cuckoo fingerprints) — no
            # O(|seen|) build on the hot path
            filt.filters = storage.read(filt.table)
        candidates = filt.probe(frontier, seen)

        # 2. robots gate (broadcast) + 3. politeness priority queue.
        # `candidates` (pre-gate) is reused below as the frontier remainder
        # base: it is the frontier MINUS the effective seen set, with
        # robots-blocked rows still present (they stay queued — robots can
        # change between rounds).
        gated = POL.robots_gate(candidates, self.robots)
        scheduled = POL.schedule_round(
            gated, self.host_budget, cfg.default_budget, cfg.salt_n
        ).drop("sched_rank")

        # 4-5. fetch (the Arrow-batched python stage) + parse (Catalyst),
        # one task chain, spilled ONCE to a columnar scratch snapshot: fetch
        # runs exactly once, and every downstream job (docs, seen delta, log,
        # frontier) re-reads only the columns it needs instead of
        # re-scanning wide in-memory rows (localCheckpoint of the full-width
        # frame measured 6.1 s vs ~2 s for the parquet spill at 250k rows —
        # and media bytes/body never enter the scratch at all).  The round's
        # counters ride the spill job as observe() metrics — no separate
        # counts job per round (VERDICT r03 item 4).
        from pyspark.sql import Observation

        parsed = P.parse_stage(self.fetcher.fetch(scheduled))
        scratch = self._scratch_dir(round_no)
        obs = Observation()
        last_attempt = F.col("attempt") + 1 >= cfg.max_attempts
        parsed.observe(
            obs,
            F.count(F.lit(1)).alias("sched"),
            F.sum(ok_cond().cast("int")).alias("ok"),
            F.sum((~ok_cond()).cast("int")).alias("failed"),
            F.sum((~ok_cond() & last_attempt).cast("int")).alias("dead"),
            F.sum(
                (ok_cond() & F.col("media_ref").isNotNull()).cast("int")
            ).alias("media"),
        ).write.mode("overwrite").parquet(scratch)
        counts = obs.get
        if not counts["sched"]:
            # nothing was scheduled (the last round of a finished crawl):
            # every table would commit the rows it already holds, so the
            # round stages, builds and commits nothing
            return RoundStats(round_no, 0, 0, 0, 0, self._docs_total())
        parsed = self.spark.read.parquet(scratch)

        ok = parsed.filter(ok_cond())
        failed = parsed.filter(~ok_cond())

        # 6. documents MERGE (K2 upsert semantics): merge-on-read — the
        # round appends ONE keyed delta dir (O(docs-this-round) I/O, zero
        # reads); readers resolve last-writer-wins and the periodic
        # compaction folds deltas into the bucketed base, touching only
        # the buckets the deltas hit.  (Copy-on-write per round measured
        # 17.5x slower once uniformly-hashed doc_ids touch all buckets —
        # VERDICT r02 item 1.)  create_at survives updates, update_at is
        # refreshed (F7 lineage).
        now = (
            F.lit(cfg.pinned_now).cast("timestamp")
            if cfg.pinned_now
            else F.current_timestamp()
        )
        docs = DOCS.docs_from_parsed(ok).withColumns(
            {"create_at": now, "update_at": now}
        )
        # staging jobs are all independent reads of the scratch snapshot —
        # they are SUBMITTED CONCURRENTLY below (one driver thread each, the
        # standard multi-job pattern a cluster scheduler interleaves), which
        # turns the old serial stage-after-stage walk into one overlapped
        # window (measured ~9.6 s serial -> ~4 s at 250k rows)
        stage_jobs: list = [
            lambda: storage.stage_merge(
                "documents", docs, key="doc_id", keep_on_match=["create_at"],
                strategy="mor",
            )
        ]

        # 7. successors + retries -> next frontier
        succ = FR.successors(ok, round_no + 1, cfg.max_depth)
        retries = FR.normalize_frontier(
            failed.filter(~last_attempt).withColumn("attempt", F.col("attempt") + 1)
        )

        # 8. seen += successfully fetched + dead-lettered (retries stay
        # unseen): ONE filter over the spill, so the seen job and every
        # consumer of the delta scan it once.  These rows survived the
        # anti-join, so they are disjoint from `seen` and unique (frontier
        # is url_hash-unique): the commit is a pure APPEND of
        # O(fetched-this-round) rows, never a rewrite of the full seen set.
        seen_delta = D.with_bucket(
            parsed.filter(ok_cond() | last_attempt).select("url_hash"),
            cfg.n_buckets,
        ).withColumn("round", F.lit(round_no))
        stage_jobs.append(lambda: storage.stage_append("seen", seen_delta))

        # 9. fetch_log lineage (A1 metrics, per partition) — append-only:
        # a crawl of R rounds writes O(rows-per-round), not O(R^2)
        # (VERDICT r01 item 2).
        log_rows = parsed.select(
            "url",
            "url_hash",
            F.lit(round_no).alias("round"),
            "status",
            "code",
            F.coalesce(
                F.col("error"),
                F.col("parse_error"),
                F.when(F.col("code") != 0, F.concat(F.lit("business_code_"), F.col("code"))),
            ).alias("error"),
            "attempt",
            "latency_ms",
            "partition_id",
            (~ok_cond() & last_attempt).alias("dead_letter"),
            "media_ref",
            "n_chunks",
            "bytes_fetched",
            "media_path",
        )
        stage_jobs.append(lambda: storage.stage_append("fetch_log", log_rows))

        # 10. next frontier: unscheduled remainder ∪ retries ∪
        # genuinely-new successors, one row per url_hash.  Each leg reads
        # the spill once: the remainder its url_hashes, the retries the
        # failed filter, the successors one posexplode of the ok rows and
        # the seen delta its one filter.  A filter round's probe copies the
        # successor leg into its definitely-new and confirmed branches,
        # which reuse the seen delta's exchange: 5 spill scans (4 in an
        # exact round).
        # Only the SUCCESSORS leg can contain already-seen hashes: the
        # committed frontier is disjoint from the effective seen set by
        # invariant (it is written from this very expression, whose every
        # leg is seen-filtered; evict() only re-enqueues tombstoned
        # hashes), and a retry hash never entered seen (only ok/dead do).
        # The remainder is the RAW frontier snapshot minus the spill's
        # url_hashes (fetch is 1:1, so parsed carries exactly the scheduled
        # hashes) — the simulator's frontier ∖ scheduled.  Neither
        # `scheduled` (it re-runs the politeness shuffle chain) nor
        # `candidates` (it re-runs the seen probe) is read again.  A
        # hand-injected frontier row that is already seen stays queued
        # (never scheduled — scheduling still anti-joins), matching the
        # simulator.
        remainder = frontier.join(
            parsed.select("url_hash"), on="url_hash", how="left_anti"
        )
        succ_new = succ.join(
            seen_delta.select("url_hash"), on="url_hash", how="left_anti"
        )
        # the "minus old seen" leg goes through the SAME prefilter as the
        # candidates anti-join: without it, this one join would still
        # shuffle the full 10^10-row seen set every round even with the
        # bloom/cuckoo paths on (the filters are row-identical to the exact
        # join, so the frontier is unchanged — golden-tested)
        succ_new = filt.probe(succ_new, seen)
        next_frontier = FR.dedup_frontier(
            remainder.unionByName(retries).unionByName(succ_new)
        )
        stage_jobs.append(
            lambda: storage.stage_overwrite("frontier", next_frontier)
        )

        # 6b. media metadata: the fetch worker sniffed every payload it
        # wrote to the sink, so the typed media_meta rows are a plain select
        # over the scratch spill (an empty payload gets a null size) — same
        # atomic flip as the rest of the round.
        # Staged only when the round actually fetched media (the count rode
        # the spill job's observe metrics): media-free rounds skip the whole
        # job instead of writing an empty delta dir every round.
        if int(counts["media"] or 0) > 0:
            media_meta = ok.filter(F.col("media_ref").isNotNull()).select(
                "url_hash",
                "media_ref",
                "media_path",
                F.lit(round_no).alias("round"),
                F.when(F.col("bytes_fetched") > 0, F.col("bytes_fetched")).alias(
                    "n_bytes"
                ),
                F.col("media_format").alias("format"),
                "media_kind",
            )
            stage_jobs.append(
                lambda: storage.stage_append("media_meta", media_meta)
            )
        if filt.table is not None:
            # append one segment built from the round's delta alone —
            # O(delta) bytes, committed in the same flip as the seen delta
            # itself so the filter and the set can never diverge
            stage_jobs.append(
                lambda: storage.stage_append(filt.table, filt.build(seen_delta, round_no))
            )
        if evicted is not None:
            # clear tombstones whose URL was re-fetched this round (its hash
            # re-entered seen); the evicted table stays O(pending evictions)
            stage_jobs.append(
                lambda: storage.stage_overwrite(
                    "evicted",
                    evicted.join(
                        seen_delta.select("url_hash"), on="url_hash", how="left_anti"
                    ),
                )
            )

        # 11. run every staging job concurrently (each is an independent
        # Spark job over the scratch snapshot — the driver submits them from
        # worker threads and the scheduler interleaves their tasks), then
        # ONE atomic catalog flip commits the whole round: a crash anywhere
        # above leaves every table at round N-1 — no partial round is ever
        # visible, so resume never loses successors or retry state.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=len(stage_jobs)) as ex:
            staged = list(ex.map(lambda job: job(), stage_jobs))
        storage.commit_multi(staged)
        # frontier is overwritten every round — expire superseded snapshots
        # now (pure os-level dir removal) instead of letting up to
        # compact_every full frontier copies pile up between maintenance
        # passes; the append tables expire in the maintenance block below
        if cfg.expire_keep_last:
            storage.expire_snapshots("frontier", keep_last=cfg.expire_keep_last)

        # maintenance: fold append/MoR deltas periodically (size-tiered for
        # the append tables, touched-buckets-only for documents) and expire
        # superseded snapshots so warehouse bytes stay O(live data)
        if cfg.compact_every and (round_no + 1) % cfg.compact_every == 0:
            storage.compact("seen")
            storage.compact("fetch_log")
            storage.compact("documents")
            storage.compact("media_meta")
            if filt.table is not None:
                # fold the segments: one segment per bucket, built from the
                # LIVE seen set (minus pending eviction tombstones), which
                # now holds every hash through this round
                storage.commit(filt.table, filt.build(self._live_seen()[0], round_no))
            if cfg.expire_keep_last:
                for t in ("seen", "fetch_log", "documents", "media_meta", "evicted", filt.table):
                    if t is not None and storage.latest_snapshot(t) is not None:
                        storage.expire_snapshots(t, keep_last=cfg.expire_keep_last)

        return RoundStats(
            round_no=round_no,
            scheduled=int(counts["sched"]),
            ok=int(counts["ok"] or 0),
            failed=int(counts["failed"] or 0),
            dead_lettered=int(counts["dead"] or 0),
            new_docs_total=self._docs_total(),
        )

    def _docs_total(self) -> int:
        # docs total only matters for the A2 cap check — avoid the extra job
        # otherwise (each driver-side action is a full Spark job per round)
        if self.config.total_doc_cap is None:
            return -1
        return self.storage.read("documents").count()
