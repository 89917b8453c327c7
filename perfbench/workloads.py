"""The benchmark's workloads.

``site_crawl`` and ``catalog_corpus`` are the workloads of BENCHMARK.json;
``frontier_round`` runs inside the catalog's traced run, or on its own.

Each workload makes its inputs from the seed, then exposes

- ``setup(rep)``: one complete set-up (timed by the runner, several times);
- ``warm()``: untimed work that lets caches fill before the window;
- ``unit()``: one measured unit of work (a round, a crawl, a catalog pass);
- ``traced()``: the same work again under the tracer, for per-layer numbers;
- ``check()``: failures found in the program's outputs;
- ``e2e()`` / ``layers()``: metric dicts.

Every unit appends to ``self.samples`` (wall seconds), ``self.cpu_samples``
(CPU seconds of the process tree) and ``self.items``; a unit that raises is
counted in ``self.failed`` and the loop goes on.  The gated metrics are
CPU-based: on a shared host, wall time follows the neighbours' load.
"""

from __future__ import annotations

import datetime
import math
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import functions as F

from tracing import SPARK_KEYS, attribute_jobs, inclusive, read_event_log


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def file_sizes(path: str) -> dict[str, int]:
    out = {}
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            p = os.path.join(dirpath, fn)
            try:
                out[p] = os.path.getsize(p)
            except OSError:  # expired between walk and stat
                pass
    return out


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    sizes = file_sizes(path)
    return sum(sizes.values()), len(sizes)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    unit_name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.seed = ctx.seed
        self.tiny = ctx.scale == "tiny"
        self.cpu_s = ctx.cpu_s
        self.samples: list[float] = []
        self.cpu_samples: list[float] = []
        self.items: list[int] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        # in the traced run: untraced units interleaved with the traced
        # ones, at the same warm-up state, for the tracing overhead
        self.baseline: list[float] = []
        self.traced_samples: list[float] = []
        self._log = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.ctx.work, *parts)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)

    def check(self) -> None:
        pass

    def items_per_s(self) -> float:
        return sum(self.items) / sum(self.samples) if self.samples else 0.0

    def e2e(self) -> dict:
        # means, not medians: a crawl has three rounds, one of them cold,
        # and the median of three is a single round's noise
        cpu = sum(self.cpu_samples)
        return {"unit_cpu_s": cpu / len(self.cpu_samples) if self.cpu_samples else 0.0,
                "items_per_cpu_s": sum(self.items) / cpu if cpu else 0.0}

    def overhead_pct(self) -> float:
        if not self.baseline or not self.traced_samples:
            return 0.0
        return 100.0 * (median(self.traced_samples) / median(self.baseline) - 1.0)

    def event_log(self) -> tuple[list[dict], dict[int, dict]]:
        """The session's jobs, and their metrics attributed to spans."""
        if self._log is None:
            jobs = read_event_log(self.ctx.event_dir)
            self._log = (jobs, attribute_jobs(jobs, self.tracer.spans))
        return self._log

    def spark_per_unit(self, roots: list[dict]) -> dict:
        """Event-log metrics of the jobs under ``roots``, per root."""
        total = inclusive(self.event_log()[1], self.tracer.spans, {s["id"] for s in roots})
        return {k: v / max(len(roots), 1) for k, v in total.items()}

    def spark_layers(self, roots: list[dict]) -> dict:
        per = self.spark_per_unit(roots)
        return {f"spark.{k}": per[k] for k in SPARK_KEYS if not k.startswith("py_")}


# ===========================================================================
# frontier_round


class FrontierRound(Workload):
    """One scheduled round over a parquet-snapshot synthetic frontier:
    exact seen anti-join -> politeness window -> ProceduralFetcher
    mapInPandas -> parse_stage -> explode docs, no commit."""

    name = "frontier_round"
    unit_name = "round"
    ITEMS_PER_PAGE = 2
    LEGS = ("dedup.probe", "politeness.schedule", "fetcher.fetch", "parse.parse", "documents.explode")

    def __init__(self, ctx):
        super().__init__(ctx)
        self.n = 4_000 if self.tiny else 100_000
        self.n_hosts = 64 if self.tiny else 1024
        self.budget = max(self.n // self.n_hosts, 1)
        self.snap = None
        self.expected = None
        self.ladder: dict[str, float] = {}
        self.ladder_build_s = 0.0
        self.counts: dict[str, float] = {}
        self.plan_build: list[float] = []
        self.plan_optimize = 0.0
        self.traced_roots: list[dict] = []

    def _frontier_rows(self) -> tuple[pa.Table, int]:
        """Seeded raw frontier: one hot host with ~12% of rows, ~30% seen.
        Returns (table, expected scheduled count)."""
        rng = np.random.default_rng(self.seed)
        hot = int(rng.integers(0, self.n_hosts))
        share = float(rng.uniform(0.11, 0.13))
        host = np.where(
            rng.random(self.n) < share, hot, rng.integers(0, self.n_hosts, self.n)
        )
        chain = rng.permutation(self.n)
        seen = rng.random(self.n) < 0.3
        urls = [
            f"https://h{h}.example.com/api/list?chain={c}&page=1&size=2"
            for h, c in zip(host.tolist(), chain.tolist())
        ]
        # independent expectation: per-host unseen rows capped at the budget
        unseen = np.bincount(host[~seen], minlength=self.n_hosts)
        expected = int(np.minimum(unseen, self.budget).sum())
        table = pa.table(
            {
                "url": pa.array(urls, pa.string()),
                "priority": pa.array(rng.integers(0, 3, self.n).astype(np.int32)),
                "seen": pa.array(seen),
            }
        )
        return table, expected

    def setup(self, rep: int) -> None:
        from spiders_for_all_spark.functions.urls import with_url_columns

        d = self.path(f"frontier-{rep}")
        table, self.expected = self._frontier_rows()
        os.makedirs(d, exist_ok=True)
        pq.write_table(table, os.path.join(d, "raw.parquet"))
        base = with_url_columns(
            self.spark.read.parquet(os.path.join(d, "raw.parquet")).select(
                "url",
                "priority",
                F.lit(0).alias("discovery_round"),
                F.lit(0).alias("depth"),
                F.lit(0).alias("attempt"),
                F.lit(None).cast("string").alias("cursor"),
                F.lit(1).alias("page_no"),
                F.lit("page").alias("kind"),
                "seen",
            )
        )
        # the snapshot keeps the seen flag; rounds read it without that
        # column, so parquet pruning leaves it unread
        base.write.mode("overwrite").parquet(os.path.join(d, "frontier"))
        self.spark.read.parquet(os.path.join(d, "frontier")).filter("seen").select(
            "url_hash"
        ).write.mode("overwrite").parquet(os.path.join(d, "seen"))
        if self.snap and self.snap != d:
            shutil.rmtree(self.snap, ignore_errors=True)
        self.snap = d

    def disk_mb(self) -> float:
        return sum(dir_bytes(os.path.join(self.snap, t))[0] for t in ("frontier", "seen")) / 1e6

    # -- the round -------------------------------------------------------
    def _legs(self):
        """The round as its chain of lazily built frames, one per leg."""
        from spiders_for_all_spark.operators.dedup import seen_anti_join
        from spiders_for_all_spark.operators.parse import parse_stage
        from spiders_for_all_spark.operators.politeness import schedule_round
        from spiders_for_all_spark.sources.fetcher import ProceduralFetcher

        frontier = self.spark.read.parquet(os.path.join(self.snap, "frontier")).drop("seen")
        seen = self.spark.read.parquet(os.path.join(self.snap, "seen"))
        tr = self.tracer
        with tr.span("dedup.plan"):
            candidates = seen_anti_join(frontier, seen)
        with tr.span("politeness.plan"):
            sched = schedule_round(candidates, default_budget=self.budget, salt_n=1)
        with tr.span("fetcher.plan"):
            fetched = ProceduralFetcher(
                items_per_page=self.ITEMS_PER_PAGE,
                partitions=2 * self.ctx.cpus,
                colocate_hosts=False,
            ).fetch(sched.drop("sched_rank"))
        with tr.span("parse.plan"):
            parsed = parse_stage(fetched)
        with tr.span("documents.plan"):
            docs = parsed.select(F.explode("docs").alias("d")).select("d.doc_id")
        return {"candidates": candidates, "sched": sched, "fetched": fetched,
                "parsed": parsed, "docs": docs}

    def _round(self) -> int:
        docs = self._legs()["docs"]
        with self.tracer.span("round.execute"):
            return docs.count()

    def _record(self, n_docs: int, dt: float, into: list[float]) -> bool:
        self.attempted += 1
        if n_docs != self.ITEMS_PER_PAGE * self.expected:
            self.fail(
                f"round {self.attempted}: {n_docs} docs, expected "
                f"{self.ITEMS_PER_PAGE * self.expected}"
            )
            return False
        into.append(dt)
        if into is self.samples:
            self.items.append(n_docs // self.ITEMS_PER_PAGE)
        return True

    def warm(self) -> None:
        self._round()

    def unit(self) -> None:
        t0, cpu0 = time.monotonic(), self.cpu_s()
        n_docs = self._round()
        dt, cpu = time.monotonic() - t0, self.cpu_s() - cpu0
        if self._record(n_docs, dt, self.samples):
            self.cpu_samples.append(cpu)

    def traced(self) -> None:
        from spiders_for_all_spark.engine import ok_cond

        tr = self.tracer

        def untraced() -> None:
            with tr.paused():
                t0 = time.monotonic()
                n_docs = self._round()
                self._record(n_docs, time.monotonic() - t0, self.baseline)

        def traced_round(i: int) -> None:
            with tr.span("frontier_round.round", trace=f"round-{i}") as root:
                t0 = time.monotonic()
                n_docs = self._round()
                dt = time.monotonic() - t0
            self.traced_roots.append(root)
            self._record(n_docs, dt, self.traced_samples)
            kids = [s for s in tr.spans if s["parent"] == root["id"] and s["name"].endswith(".plan")]
            self.plan_build.append(sum(s["end"] - s["start"] for s in kids))

        # untraced rounds bracket the traced ones, so warm-up drift does
        # not pass for tracing overhead
        untraced()
        traced_round(0)
        # leg ladder: noop-sink each prefix of the round; a leg's time is
        # its prefix minus the previous one, so with the time to build the
        # frames the legs sum to the round
        t0 = time.monotonic()
        f = self._legs()
        self.ladder_build_s = time.monotonic() - t0
        # each prefix keeps only the columns the next leg reads, so a noop
        # sink computes what the round computes and no more
        prefixes = (f["candidates"], f["sched"], f["fetched"], f["parsed"].select("docs"), f["docs"])
        prev = 0.0
        with tr.span("frontier_round.ladder", trace="ladder"):
            for leg, df in zip(self.LEGS, prefixes):
                with tr.span(f"{leg}.prefix", trace="ladder") as sp:
                    t0 = time.monotonic()
                    noop(df)
                    t = time.monotonic() - t0
                sp["attrs"]["prefix_s"] = t
                self.ladder[f"{leg}_s"] = t - prev
                prev = t
        traced_round(1)
        untraced()

        t0 = time.monotonic()
        f["docs"]._jdf.queryExecution().executedPlan()
        self.plan_optimize = time.monotonic() - t0

        candidates, sched, parsed, docs = f["candidates"], f["sched"], f["parsed"], f["docs"]
        n_cand = candidates.count()
        by_host = candidates.groupBy("host").count().agg(F.max("count")).first()[0]
        n_sched = sched.count()
        n_ok = parsed.filter(ok_cond()).count()
        self.counts = {
            "dedup.rows_in": float(self.n),
            "dedup.rows_out": float(n_cand),
            "dedup.pass_ratio": n_cand / self.n,
            "politeness.rows_out": float(n_sched),
            "politeness.hot_host_share": by_host / max(n_cand, 1),
            "parse.docs_out": float(docs.count()),
            "parse.ok_ratio": n_ok / max(n_sched, 1),
        }

    def named(self) -> dict:
        return {"urls_per_s": self.items_per_s(), "round_s_p50": median(self.samples),
                "rounds": len(self.samples), "expected_scheduled": self.expected}

    def layers(self) -> dict:
        out = {k: v for k, v in self.ladder.items()}
        if self.baseline:
            out["legs.sum_ratio"] = (self.ladder_build_s + sum(self.ladder.values())) / median(self.baseline)
        out["plan.build_s"] = median(self.plan_build)
        out["plan.optimize_s"] = self.plan_optimize
        out.update(self.counts)
        per_round = self.spark_per_unit(self.traced_roots)
        out["fetcher.py_bytes_sent"] = per_round["py_bytes_sent"]
        out["fetcher.py_bytes_returned"] = per_round["py_bytes_returned"]
        out.update(self.spark_layers(self.traced_roots))
        prev = 0.0
        for s in self.tracer.closed():
            if s["name"].endswith(".prefix"):
                t = self.spark_per_unit([s])["task_s"]
                out[f"spark.{s['name'][:-len('.prefix')]}.task_s"] = t - prev
                prev = t
        return out


# ===========================================================================
# site_crawl


def _fail_specs(rng: np.random.Generator, rows: list[dict]) -> dict:
    """Seeded failure injection over every kind: pages that fail once
    (http), cursor pages that fail once (business code), html pages that
    always fail to parse (dead letters).  Retries sit on the last page of
    a two-page chain, so no retry delays a successor and every seed's crawl
    takes three rounds."""
    last = {"page": "&page=2&", "cursor": "cursor=cur1", "html": "/note/"}
    specs = {}
    for kind, times, how, k in (("page", 1, "http", 3), ("cursor", 1, "code", 3), ("html", 99, "parse", 2)):
        urls = sorted(r["url"] for r in rows if r["kind"] == kind and last[kind] in r["url"])
        for i in rng.choice(len(urls), size=min(k, len(urls)), replace=False):
            specs[urls[int(i)]] = (times, how)
    return specs


class SiteCrawl(Workload):
    """``Crawler.run`` to completion over a ``fixtures.build_site`` world,
    checked for equality with ``simulator.simulate``."""

    name = "site_crawl"
    unit_name = "crawl"
    PINNED_NOW = "2024-01-01 00:00:00"
    # two attempts keep the crawl at three rounds plus the empty last one:
    # per-round cost is mostly fixed, so rounds set the run's length
    MAX_ATTEMPTS = 2
    STAGED = ("documents", "seen", "fetch_log", "frontier", "cuckoo", "media_meta")
    PLAN_FNS = (
        ("operators.parse", "parse_stage"),
        ("operators.politeness", "schedule_round"),
        ("operators.dedup", "seen_anti_join_cuckoo"),
        ("operators.frontier", "successors"),
        ("operators.documents", "docs_from_parsed"),
        ("operators.frontier", "dedup_frontier"),
    )

    def __init__(self, ctx):
        super().__init__(ctx)
        self.n_hosts = 4 if self.tiny else 128
        self.budget = 4
        self.crawler = None
        self.crawls: list[dict] = []  # one per finished crawl
        self.disk = 0.0
        self.traced_rounds: list[dict] = []
        self.state: dict[str, float] = {}
        self.write_volume = {"bytes": 0, "files": 0}
        self._traced_stats: list = []
        self._world()

    def _world(self) -> None:
        from spiders_for_all_spark import fixtures as FX
        from spiders_for_all_spark.simulator import simulate

        rng = np.random.default_rng(self.seed)
        shape = dict(n_hosts=self.n_hosts, page_chains=1, pages_per_chain=2,
                     cursor_chains=1, cursor_pages=2, notes_per_host=1,
                     seed=int(rng.integers(0, 2**31)))
        rows, _ = FX.build_site(**shape)
        rows, seeds = FX.build_site(**shape, fail_specs=_fail_specs(rng, rows))
        # one media seed whose primary always fails and whose backup serves
        media = sorted(r["url"] for r in rows if r["kind"] == "media")
        i = int(rng.integers(0, len(media) - 1))
        primary, backup = media[i], media[i + 1]
        for r in rows:
            if r["url"] == primary:
                r["fail_times"], r["fail_kind"] = 99, "http"
        seeds.append({"url": primary, "priority": 0, "kind": "media", "backup_urls": [backup]})
        self.rows, self.seeds = rows, seeds
        self.site_path = self.path("site", "pages.parquet")
        FX.write_site(rows, self.site_path)
        self.sim = simulate(FX.site_index(rows), seeds, max_rounds=40,
                            default_budget=self.budget, max_attempts=self.MAX_ATTEMPTS,
                            max_depth=3)

    def _new_crawler(self, wh: str):
        from spiders_for_all_spark.engine import Crawler, CrawlConfig
        from spiders_for_all_spark.sources.fetcher import SyntheticFetcher
        from spiders_for_all_spark.storage import SnapshotStorage

        shutil.rmtree(wh, ignore_errors=True)
        storage = SnapshotStorage(self.spark, wh)
        cfg = CrawlConfig(max_rounds=40, default_budget=self.budget, max_attempts=self.MAX_ATTEMPTS,
                          max_depth=3, use_cuckoo=True, pinned_now=self.PINNED_NOW)
        crawler = Crawler(self.spark, storage,
                          SyntheticFetcher(self.site_path, partitions=self.ctx.cpus), cfg)
        crawler.bootstrap(self.seeds)
        return crawler

    def setup(self, rep: int) -> None:
        if self.crawler is not None:
            shutil.rmtree(self.crawler.storage.warehouse, ignore_errors=True)
        self.crawler = self._new_crawler(self.path(f"wh-setup-{rep}"))

    def warm(self) -> None:
        # a warm-up crawl would double the run; the set-ups warm the write
        # path, and the cold first round is one of the crawl's samples
        pass

    def _crawl(self, crawler, rounds: list[dict]) -> None:
        run_round = crawler.run_round

        def timed_round(round_no):
            t0, cpu0 = time.monotonic(), self.cpu_s()
            rs = run_round(round_no)
            rounds.append({"round": round_no, "s": time.monotonic() - t0,
                           "cpu": self.cpu_s() - cpu0, "stats": rs})
            return rs

        crawler.run_round = timed_round
        try:
            crawler.run(max_rounds=self.sim.rounds)
        finally:
            crawler.run_round = run_round

    def unit(self) -> None:
        crawler = self.crawler or self._new_crawler(self.path(f"wh-{len(self.crawls)}"))
        self.crawler = None
        rounds: list[dict] = []
        self.attempted += 1
        try:
            self._crawl(crawler, rounds)
        except Exception as exc:  # keep running: the failure is counted
            self.fail(f"crawl {len(self.crawls)}: {type(exc).__name__}: {exc}")
            return
        finally:
            self.samples.extend(r["s"] for r in rounds)
            self.cpu_samples.extend(r["cpu"] for r in rounds)
            self.items.extend(r["stats"].scheduled for r in rounds)
        if not self.crawls:
            self.disk = dir_bytes(crawler.storage.warehouse)[0] / 1e6
        self.crawls.append({"storage": crawler.storage, "rounds": len(rounds)})

    def check(self) -> None:
        for i, c in enumerate(self.crawls):
            for problem in self._compare(c["storage"]):
                self.fail(f"crawl {i}: {problem}")

    def _compare(self, storage) -> list[str]:
        """The golden equalities: visits by round, seen set, doc spans and
        dead letters, engine against simulator."""
        from spiders_for_all_spark.functions.urls import canonicalize_url

        sim = self.sim
        problems = []
        log = storage.read("fetch_log").select(
            "round", "url_hash", "dead_letter", canonicalize_url(F.col("url")).alias("c")
        ).collect()
        seen_hashes = {r["url_hash"] for r in storage.read("seen").select("url_hash").collect()}
        seen = {r["c"] for r in log if r["url_hash"] in seen_hashes}
        if seen != sim.seen or len(seen_hashes) != len(sim.seen):
            problems.append(f"seen set: {len(seen_hashes)} hashes vs {len(sim.seen)}")
        visits = sorted((int(r["round"]), r["c"]) for r in log)
        if visits != sorted((rnd, c) for rnd, c, _ in sim.visits):
            problems.append(f"visits: {len(visits)} vs {len(sim.visits)}")
        dead = {r["c"] for r in log if r["dead_letter"]}
        if dead != set(sim.dead_letters):
            problems.append(f"dead letters: {len(dead)} vs {len(sim.dead_letters)}")
        docs = {r["doc_id"]: r["spans"] for r in storage.read("documents").collect()}

        def spans(ss):
            return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in ss]

        if set(docs) != set(sim.documents):
            problems.append(f"doc ids: {len(docs)} vs {len(sim.documents)}")
        else:
            bad = [d for d, ss in sim.documents.items() if spans(docs[d]) != spans(ss)]
            if bad:
                problems.append(f"spans differ in {len(bad)} docs, e.g. {bad[0]}")
        return problems

    def disk_mb(self) -> float:
        return self.disk

    # -- traced crawl ----------------------------------------------------
    def traced(self) -> None:
        """The traced crawl, then an untraced crawl as the overhead
        baseline.  A warm-up crawl before them would not fit the run's
        time limit, so the traced crawl runs colder than the baseline and
        this workload's ``trace.overhead_pct`` is an upper bound."""
        self._traced_crawl()
        n = len(self.samples)
        with self.tracer.paused():
            self.unit()
        self.baseline = self.samples[n:]

    def _traced_crawl(self) -> None:
        import importlib

        tr = self.tracer
        crawler = self._new_crawler(self.path("wh-traced"))
        storage = crawler.storage
        for mod, fn in self.PLAN_FNS:
            tr.wrap(importlib.import_module(f"spiders_for_all_spark.{mod}"), fn, f"engine.plan.{fn}")
        tr.wrap(crawler.fetcher, "fetch", "engine.plan.fetch")
        for method in ("stage_merge", "stage_append", "stage_overwrite"):
            tr.wrap(storage, method, lambda table, *_a, **_k: f"storage.stage.{table}")
        tr.wrap(storage, "commit_multi", "storage.commit_multi")
        tr.wrap(storage, "expire_snapshots", "storage.expire")

        run_round = crawler.run_round
        frontier_rows = []
        before = file_sizes(storage.warehouse)

        def traced_round(round_no):
            nonlocal before
            with tr.span("engine.round", trace=f"round-{round_no}") as sp:
                t0 = time.monotonic()
                rs = run_round(round_no)
                dt = time.monotonic() - t0
            self.traced_rounds.append(sp)
            self.traced_samples.append(dt)
            self._traced_stats.append(rs)
            after = file_sizes(storage.warehouse)
            new = {p: b for p, b in after.items() if p not in before and "/_scratch/" not in p}
            self.write_volume["bytes"] += sum(new.values())
            self.write_volume["files"] += len(new)
            before = after
            frontier_rows.append(storage.read("frontier").count())
            return rs

        crawler.run_round = traced_round
        self.attempted += 1
        try:
            with tr.span("site_crawl.crawl", trace="crawl-traced"):
                crawler.run(max_rounds=self.sim.rounds)
        except Exception as exc:
            self.fail(f"traced crawl: {type(exc).__name__}: {exc}")
        finally:
            crawler.run_round = run_round
            tr.restore()
        for problem in self._compare(storage):
            self.fail(f"traced crawl: {problem}")
        media_dir = os.path.join(storage.warehouse, "_media")
        self.state = {
            "frontier.rows": float(max(frontier_rows, default=0)),
            "seen.rows": float(storage.read("seen").count()),
            "fetcher.media_files": float(dir_bytes(media_dir)[1]),
        }

    def named(self) -> dict:
        q = statistics.quantiles(self.samples, n=10) if len(self.samples) > 1 else [0.0] * 9
        return {"urls_per_s": self.items_per_s(), "round_s_p50": median(self.samples),
                "round_s_p90": q[8], "round_samples": len(self.samples),
                "crawls": len(self.crawls), "warehouse_mb": self.disk,
                "sim_rounds": self.sim.rounds, "sim_visits": len(self.sim.visits)}

    def layers(self) -> dict:
        tr = self.tracer
        out: dict[str, float] = {}
        per_round: dict[str, list[float]] = {}
        jobs = self.event_log()[0]
        phase_task = {"pre_stage": [], "staging": [], "post_commit": []}
        for rd in self.traced_rounds:
            kids = [s for s in tr.closed() if rd["start"] <= s["start"] and s["end"] <= rd["end"]]
            stages = [s for s in kids if s["name"].startswith("storage.stage.")]
            plan = sum(s["end"] - s["start"] for s in kids if s["name"].startswith("engine.plan."))
            per_round.setdefault("engine.plan_build_s", []).append(plan)
            if not stages:
                continue
            first = min(s["start"] for s in stages)
            last = max(s["end"] for s in stages)
            window = last - first
            per_round.setdefault("engine.pre_stage_s", []).append(first - rd["start"])
            per_round.setdefault("engine.staging_window_s", []).append(window)
            per_round.setdefault("engine.post_commit_s", []).append(rd["end"] - last)
            busy = sum(s["end"] - s["start"] for s in stages)
            per_round.setdefault("storage.staging_overlap", []).append(busy / window if window > 0 else 1.0)
            for name in ("storage.commit_multi", "storage.expire"):
                per_round.setdefault(f"{name}_s", []).append(
                    sum(s["end"] - s["start"] for s in kids if s["name"] == name))
            for s in stages:
                per_round.setdefault(f"{s['name']}_s", []).append(s["end"] - s["start"])
            for job in jobs:
                if rd["start"] <= job["submit"] <= rd["end"]:
                    if job["submit"] < first:
                        phase_task["pre_stage"].append(job["task_s"])
                    elif job["submit"] <= last:
                        phase_task["staging"].append(job["task_s"])
                    else:
                        phase_task["post_commit"].append(job["task_s"])
        for key in ("engine.plan_build_s", "engine.pre_stage_s", "engine.staging_window_s",
                    "engine.post_commit_s", "storage.commit_multi_s", "storage.expire_s",
                    "storage.staging_overlap"):
            out[key] = median(per_round.get(key, []))
        for t in self.STAGED:
            out[f"storage.stage.{t}_s"] = median(per_round.get(f"storage.stage.{t}_s", []))
        out["storage.bytes_written"] = float(self.write_volume["bytes"])
        out["storage.files_written"] = float(self.write_volume["files"])
        out["engine.scheduled"] = float(sum(r.scheduled for r in self._traced_stats))
        out["engine.failed"] = float(sum(r.failed for r in self._traced_stats))
        out["engine.dead_lettered"] = float(sum(r.dead_lettered for r in self._traced_stats))
        out.update(self.state)
        out["engine.round_s_p90"] = self.named()["round_s_p90"]
        crawl = tr.closed("site_crawl.crawl")
        out.update(self.spark_layers(crawl))
        n = max(len(self.traced_rounds), 1)
        for ph, ts in phase_task.items():
            out[f"spark.engine.{ph}.task_s"] = sum(ts) / n
        return out


# ===========================================================================
# catalog_corpus


def _canon(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def canon_rows(cols: list[str], rows) -> list[str]:
    """Order-insensitive, column-order-insensitive form of a result."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_canon(r[i]) for i in order) for r in rows)


class CatalogCorpus(Workload):
    """One pass over a fixed list of corpus queries from ``plans.catalog``
    on a seeded corpus, each query's rows collected, with AQE on."""

    name = "catalog_corpus"
    unit_name = "pass"
    QUERIES = {
        "minhash_lsh": "dedup_minhash_lsh",
        "semdedup": "dedup_semantic_semdedup",
        "mixture_weights": "curation_mixture_weights",
        "passage_dedup": "clean_passage_dedup",
        "token_budget_sample": "export_token_budget_sample",
        "pagerank": "crawl_pagerank_priority",
    }
    TABLES = ("documents", "embeddings")

    def __init__(self, ctx):
        super().__init__(ctx)
        self.sizes = (150, 100) if self.tiny else (1_000, 500)
        self.corpus = None
        self.per_query: dict[str, list[float]] = {q: [] for q in self.QUERIES}
        self.rows: dict[str, int] = {}
        self.results: dict[str, tuple[list[str], list[tuple]]] = {}
        self.plan_s: dict[str, list[float]] = {q: [] for q in self.QUERIES}
        self.traced_roots: list[dict] = []

    def setup(self, rep: int) -> None:
        """Write the corpus and load each table into the session once."""
        from corpus import write_corpus

        d = self.path(f"corpus-{rep}")
        write_corpus(d, self.seed, *self.sizes)
        for t in self.TABLES:
            self.spark.read.parquet(f"{d}/{t}.parquet").count()
        if self.corpus and self.corpus != d:
            shutil.rmtree(self.corpus, ignore_errors=True)
        self.corpus = d

    def disk_mb(self) -> float:
        return dir_bytes(self.corpus)[0] / 1e6

    def _fn(self, short: str):
        from spiders_for_all_spark.plans import catalog

        return catalog.QUERIES[self.QUERIES[short]]

    def warm(self) -> None:
        """Nothing: the measured pass runs cold, as a batch job runs each of
        its queries once in a fresh session (the set-ups read the tables)."""

    def _pass(self, collect: bool) -> float | None:
        """One pass, each query to a noop sink or, with ``collect``, with its
        rows collected (the first such pass's rows are kept for ``check``)."""
        total, results = 0.0, {}
        for short in self.QUERIES:
            self.attempted += 1
            t0 = time.monotonic()
            try:
                df = self._fn(short)(self.spark, self.corpus)
                if collect:
                    results[short] = (df.columns, [tuple(r) for r in df.collect()])
                else:
                    noop(df)
            except Exception as exc:
                self.fail(f"{short}: {type(exc).__name__}: {exc}")
                return None
            dt = time.monotonic() - t0
            total += dt
            self.per_query[short].append(dt)
        if collect and not self.results:
            self.results = results
        return total

    def unit(self) -> None:
        cpu0 = self.cpu_s()
        total = self._pass(collect=True)
        if total is not None:
            self.samples.append(total)
            self.cpu_samples.append(self.cpu_s() - cpu0)
            self.items.append(len(self.QUERIES))

    def check(self) -> None:
        """Every query's rows against its DuckDB oracle."""
        import duckdb

        from spiders_for_all_spark.plans import catalog

        con = duckdb.connect()
        con.execute(f"SET temp_directory = '{self.path('duckdb')}'")
        for t in self.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.corpus}/{t}.parquet')")
        for short, (cols, got) in self.results.items():
            try:
                res = con.execute(catalog.ORACLES[self.QUERIES[short]])
                want_cols = [d[0] for d in res.description]
                want = res.fetchall()
            except Exception as exc:
                self.fail(f"{short} oracle: {type(exc).__name__}: {exc}")
                continue
            self.rows[short] = len(got)
            if sorted(cols) != sorted(want_cols):
                self.fail(f"{short}: columns {sorted(cols)} vs {sorted(want_cols)}")
            elif canon_rows(cols, got) != canon_rows(want_cols, want):
                self.fail(f"{short}: {len(got)} rows differ from the oracle's {len(want)}")
        con.close()

    def _untraced_pass(self) -> None:
        with self.tracer.paused():
            total = self._pass(collect=False)
        if total is not None:
            self.baseline.append(total)

    def traced(self) -> None:
        """The measured pass untraced, to warm the session and give the
        rows to check, then a traced pass between two untraced ones, the
        overhead baseline."""
        tr = self.tracer
        with tr.paused():
            self.unit()
        self._untraced_pass()
        with tr.span("catalog_corpus.pass", trace="pass") as root:
            t_pass = time.monotonic()
            for short in self.QUERIES:
                self.attempted += 1
                with tr.span(f"catalog.{short}", trace=f"pass/{short}"):
                    try:
                        with tr.span(f"catalog.{short}.plan"):
                            t0 = time.monotonic()
                            df = self._fn(short)(self.spark, self.corpus)
                            df._jdf.queryExecution().executedPlan()
                            self.plan_s[short].append(time.monotonic() - t0)
                        with tr.span(f"catalog.{short}.run"):
                            noop(df)
                    except Exception as exc:
                        self.fail(f"traced {short}: {type(exc).__name__}: {exc}")
            self.traced_samples.append(time.monotonic() - t_pass)
        self.traced_roots.append(root)
        self._untraced_pass()

    def named(self) -> dict:
        return {"catalog_pass_s": median(self.samples), "passes": len(self.samples),
                "queries": len(self.QUERIES), "rows": dict(self.rows),
                "query_s": {q: median(ts) for q, ts in self.per_query.items()}}

    def layers(self) -> dict:
        out: dict[str, float] = {}
        for short in self.QUERIES:
            # the untraced baseline passes, not the cold first pass
            out[f"catalog.{short}_s"] = median(self.per_query[short][1:])
            out[f"catalog.{short}.plan_s"] = median(self.plan_s[short])
            out[f"catalog.{short}.rows"] = float(self.rows.get(short, 0))
        out.update(self.spark_layers(self.traced_roots))
        return out


WORKLOADS = {w.name: w for w in (FrontierRound, SiteCrawl, CatalogCorpus)}
