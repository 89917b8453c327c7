"""Benchmark runner: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload site_crawl --seed 1 --seconds 4 --trace 0

Runs from the root of a checkout.  It starts one local Spark session sized
to this machine, sets the workload up three times (reporting the median),
warms it, then runs its unit of work back to back from a single thread
until ``--seconds`` have passed, and checks the outputs.  With
``--trace 1`` it sets up once and does the work under the tracer instead,
then traces the workload's companions (``COMPANIONS``) in the same
session, and reads the session's event log for the per-layer numbers;
spans are written to ``.perfbench_work/traces/``.  ``frontier_round`` runs
on its own as well, but is not a workload of BENCHMARK.json.

Stdout ends with one JSON line: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the ``end_to_end`` metrics of BENCHMARK.json, or with
``--trace 1`` its ``per_layer`` metrics).  The line before it holds the
settings, the hypervisor steal, the workload's named metrics and any
failures.  ``--scale tiny`` shrinks every input for the smoke test.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from types import SimpleNamespace

T_PROCESS = time.monotonic()
CLK_TCK = os.sysconf("SC_CLK_TCK")

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import spiders_for_all_spark  # noqa: E402,F401  (fails fast outside a checkout)

from tracing import Tracer  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SETUP_REPS = 3
# Workloads whose layers a host workload's traced run traces as well.  The
# frontier round is not a workload of BENCHMARK.json, which keeps the many
# repeated runs of a full benchmark session within their time budget, so
# the catalog's traced run carries its leg ladder and operator layers.
COMPANIONS = {"catalog_corpus": ("frontier_round",)}
# stop starting new units this long after process start, so a slow machine
# still ends well inside the runner's time limit
HARD_STOP_S = 110.0


def steal_ticks() -> int:
    """Hypervisor steal from /proc/stat, in USER_HZ ticks (0 if unreadable)."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return 0


def _start_time(pid: int) -> str | None:
    """The kernel's start time of ``pid``, which tells a reused pid apart."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return None
    return stat[stat.rindex(")") + 2:].split()[19]


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:  # the process ended since the listing
        pass
    return 0


class ProcessTree:
    """Samples the summed memory of every process this one started (the
    driver JVM and its Python workers), remembers those processes, and
    reads the CPU time of the whole tree.

    Memory is PSS (proportional set size): pages shared between processes,
    such as those of forked Python workers, count once in the sum."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.samples_kb: list[int] = []
        self.peak_kb = 0
        self.peak_by_name_kb: dict[str, int] = {}
        self.started: dict[int, str | None] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _tree() -> dict[int, str]:
        """pid -> name of every descendant of this process."""
        parent: dict[int, int] = {}
        name: dict[int, str] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/status") as fh:
                    fields = dict(line.split(":", 1) for line in fh if ":" in line)
            except OSError:
                continue
            parent[int(d)] = int(fields.get("PPid", "0"))
            name[int(d)] = fields.get("Name", "").strip()
        me = os.getpid()
        out = {}
        for pid in name:
            p = parent.get(pid)
            while p and p != me:
                p = parent.get(p)
            if p == me:
                out[pid] = name[pid]
        return out

    def _run(self) -> None:
        while not self._stop.is_set():
            tree = self._tree()
            for pid in tree:
                if pid not in self.started:
                    self.started[pid] = _start_time(pid)
            pss = {pid: _pss_kb(pid) for pid in tree}
            total = sum(pss.values())
            self.samples_kb.append(total)
            if total > self.peak_kb:
                self.peak_kb = total
                self.peak_by_name_kb = {}
                for pid, kb in pss.items():
                    self.peak_by_name_kb[tree[pid]] = self.peak_by_name_kb.get(tree[pid], 0) + kb
            self._stop.wait(self.interval)

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process and every process it
        started, ended ones included (a process that ends adds its time to
        the one that waits for it), less this sampler's own thread.

        On a shared host, time the hypervisor or other tenants take from
        the benchmark stretches wall time but not CPU time."""
        total = sum(os.times()[:4])
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    stat = fh.read()
            except OSError:  # ended since the listing
                continue
            total += sum(int(x) for x in stat[stat.rindex(")") + 2:].split()[11:15]) / CLK_TCK
        if self._thread.is_alive():
            total -= time.clock_gettime(time.pthread_getcpuclockid(self._thread.ident))
        return total

    def p90_mb(self) -> float:
        """The 90th percentile of the samples: near the peak, but not set
        by the moment a short-lived worker happened to be alive."""
        if len(self.samples_kb) < 10:
            return self.peak_kb / 1024.0
        return statistics.quantiles(self.samples_kb, n=10)[8] / 1024.0

    def alive(self) -> list[int]:
        """Processes seen by the sampler that are still running."""
        return [p for p, t in self.started.items() if t is not None and _start_time(p) == t]

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


def sql_settings(workload: str, cpus: int) -> dict:
    """The SQL settings that differ by workload; they can change within a
    session, so a companion workload sets its own."""
    return {
        # the frontier round keeps bench.py's 2x-cores shuffle width; the
        # commit round and the catalog use 1x (bench.py's commit-round note)
        "spark.sql.shuffle.partitions": str(2 * cpus if workload == "frontier_round" else cpus),
        "spark.sql.adaptive.enabled": "false" if workload == "frontier_round" else "true",
    }


def session_settings(workload: str, cpus: int, work: str, event_dir: str | None) -> dict:
    settings = {
        "spark.master": f"local[{cpus}]",
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.default.parallelism": str(cpus),
        **sql_settings(workload, cpus),
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4m",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "50000",
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/spark-warehouse",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        settings.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return settings


def run_companion(name: str, ctx, host_sql: dict):
    """Set up, warm and trace the workload ``name`` in the host's session,
    under its own SQL settings, then put the host's back."""
    wl = WORKLOADS[name](ctx)
    for k, v in sql_settings(name, ctx.cpus).items():
        ctx.spark.conf.set(k, v)
    try:
        wl.setup(0)
        with ctx.tracer.paused():
            wl.warm()
        try:
            wl.traced()
        except Exception as exc:  # counted like a failed unit of the host
            traceback.print_exc()
            wl.attempted += 1
            wl.fail(f"{name}: {type(exc).__name__}: {exc}")
        wl.check()
    finally:
        for k, v in host_sql.items():
            ctx.spark.conf.set(k, v)
    return wl


def stop_spark(spark, mem: ProcessTree) -> None:
    """Stop the session, shut the JVM down, and wait for every process it
    started (Python workers included) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 20
    while mem.alive() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in mem.alive():
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:  # ended since the check
            pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    args = ap.parse_args()
    t_start = time.monotonic()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]

    cpus = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    event_dir = os.path.join(work, "events") if args.trace else None
    for d in (work, f"{work}/tmp", f"{work}/spark-local") + ((event_dir,) if event_dir else ()):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ.pop("SPARK_LOCAL_DIRS", None)  # would override spark.local.dir
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )

    settings = session_settings(args.workload, cpus, work, event_dir)
    phases = {"start": time.monotonic() - T_PROCESS}
    mem = ProcessTree()
    mem.start()
    steal_run0 = steal_ticks()
    spark = None
    try:
        try:
            from pyspark.sql import SparkSession

            builder = SparkSession.builder.appName(f"perfbench-{args.workload}")
            for k, v in settings.items():
                builder = builder.config(k, v)
            t0 = time.monotonic()
            spark = builder.getOrCreate()
            session_s = time.monotonic() - t0
            spark.sparkContext.setLogLevel("ERROR")

            tracer = Tracer(enabled=bool(args.trace))
            ctx = SimpleNamespace(spark=spark, tracer=tracer, seed=args.seed, scale=args.scale,
                                  work=work, cpus=cpus, event_dir=event_dir, cpu_s=mem.cpu_s)
            wl = WORKLOADS[args.workload](ctx)

            # the traced run reports no set-up time, so it sets up once
            t_setup = time.monotonic()
            setup_times, setup_cpu = [], []
            for rep in range(1 if args.trace else SETUP_REPS):
                t0, cpu0 = time.monotonic(), mem.cpu_s()
                wl.setup(rep)
                setup_times.append(time.monotonic() - t0)
                setup_cpu.append(mem.cpu_s() - cpu0)
            t_warm = time.monotonic()
            with tracer.paused():
                wl.warm()
            phases["setup"] = t_warm - t_setup
            phases["warm"] = time.monotonic() - t_warm

            steal0 = steal_ticks()
            cpu0 = mem.cpu_s()
            t0 = time.monotonic()
            deadline = t0 + args.seconds
            while True:
                try:
                    wl.traced() if args.trace else wl.unit()
                except Exception as exc:  # count it and keep the loop going
                    traceback.print_exc()
                    wl.attempted += 1
                    wl.fail(f"{wl.unit_name}: {type(exc).__name__}: {exc}")
                now = time.monotonic()
                if args.trace or now >= deadline or now - t_start > HARD_STOP_S:
                    break
            window_s = time.monotonic() - t0
            window_cpu_s = mem.cpu_s() - cpu0
            steal_window = (steal_ticks() - steal0) / 100.0
            t_check = time.monotonic()
            wl.check()
            phases["check"] = time.monotonic() - t_check
            t_comp = time.monotonic()
            companions = [
                run_companion(name, ctx, sql_settings(args.workload, cpus))
                for name in (COMPANIONS.get(args.workload, ()) if args.trace else ())
            ]
            for c in companions:
                wl.attempted += c.attempted
                wl.failed += c.failed
                wl.failures += [f"{c.name}: {f}" for f in c.failures]
            phases["companions"] = time.monotonic() - t_comp
            e2e = {
                # CPU seconds, like the units' metrics; wall times are in
                # the detail line
                "setup_s": statistics.median(setup_cpu),
                **wl.e2e(),
                "disk_mb": wl.disk_mb(),
            }
        finally:
            t_stop = time.monotonic()
            if spark is not None:
                stop_spark(spark, mem)
            mem.stop()
            phases["stop"] = time.monotonic() - t_stop

        if args.trace:
            values = {m["name"]: 0.0 for m in declared}
            # the host's own numbers win where names are shared (spark.*)
            for c in companions:
                values.update(c.layers())
            values.update(wl.layers())
            values["trace.overhead_pct"] = wl.overhead_pct()
            tracer.write(
                os.path.join(base, "traces", f"{args.workload}-s{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed, "layers": values},
            )
        else:
            values = dict(e2e, mem_pss_mb_p90=mem.p90_mb())
    finally:
        # inputs, warehouses, Spark scratch and event log go; traces stay
        shutil.rmtree(work, ignore_errors=True)
    unknown = sorted(set(values) - {m["name"] for m in declared})
    if unknown:
        print(f"undeclared metrics: {unknown}", file=sys.stderr)

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "scale": args.scale,
        "nproc": cpus,
        "settings": settings,
        "session_start_s": session_s,
        "phases_s": phases,
        "setup_s_samples": setup_times,
        "setup_cpu_s_samples": setup_cpu,
        "window_s": window_s,
        "window_cpu_s": window_cpu_s,
        "units": len(wl.samples),
        "unit": wl.unit_name,
        "samples_s": wl.samples,
        "steal_s_window": steal_window,
        "peak_pss_mb": mem.peak_kb / 1024.0,
        "peak_pss_mb_by_process": {k: v / 1024.0 for k, v in mem.peak_by_name_kb.items()},
        "steal_s_run": (steal_ticks() - steal_run0) / 100.0,
        "named": wl.named(),
        "companions": {c.name: c.named() for c in companions},
        "error_rate": wl.failed / max(wl.attempted, 1),
        "failures": wl.failures[:20],
        "wall_s": time.monotonic() - t_start,
    }
    print(json.dumps(detail, default=str))
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in declared
    }
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": max(wl.attempted, 1),
        "failed": wl.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
