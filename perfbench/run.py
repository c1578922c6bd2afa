"""Repository benchmark: four CDC and query workloads on ``local[N]``.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload drain_mor --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/METRICS.md for why each exists and what each metric
means on it):

- ``drain_mor``   closed-loop backlog drain into a merge-on-read table;
- ``drain_cow``   the same feed, replayed sequentially into copy-on-write;
- ``serve_mor``   open loop: small batches fall due on a fixed schedule, the
                  maintenance policy is on, every commit is followed by a read;
- ``query_suite`` closed loop, one client: whole sweeps of 13 registry queries.

Inputs are generated from ``--seed`` before anything is timed.  The run sets
up once (JVM launch, session start and an untimed warm-up), measures for
``--seconds``, then checks every output against a DuckDB reference.  The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer metrics
with ``--trace 1``).  The gated end-to-end timings are CPU seconds of the
driver Python, the JVM and its Python workers (JIT compiler threads left
out): on a shared virtual machine they vary far less than wall-clock times.
The line before it holds diagnostics (host-noise probes, sample counts, tail
percentiles, input checksums, and the wall-clock end-to-end quantities under
their workload-specific names).  The traced run also writes its spans and
Spark jobs to ``.bench_out/``.  All work files stay under ``.bench_work/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.dirname(os.path.abspath(__file__))

CPUS = min(4, os.cpu_count() or 1)
SHUFFLE_PARTITIONS = 2 * CPUS
N_BUCKETS = 8

DRAIN_EVENTS, DRAIN_BATCHES, DRAIN_READS = 100_000, 5, 2
WARM_EVENTS = 8_000
SERVE_BASE_EVENTS, SERVE_BATCH_EVENTS, SERVE_MAX_BATCHES = 30_000, 3_000, 12
SERVE_CONVS, SERVE_INTERVAL_S = 1_000, 2.5
SUITE_SEED, SUITE_SCALE, SUITE_WARM_SCALE = 42, 1.0, 0.05
#: maintenance policy of BENCH/run_endurance.py
AUTO_COMPACT_RATIO, EXPIRE_KEEP = 0.3, 8

#: bench.py's 12 timed queries plus the schema-drift query
SUITE_QUERIES = [
    "w4_max_lsn_dedup", "cdc_replay_final_state", "dedup_exact",
    "dedup_minhash_lsh", "dedup_simhash", "ann_bruteforce_topk",
    "ann_ivf_topk", "text_quality_score", "text_lang_id",
    "magneto_get_matches_f4", "magneto_e2e_matches", "w_sessionize_gaps",
    "cdc_schema_drift",
]

def median(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def tail(xs) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, never
    below the median; returns (value, percentile)."""
    s = sorted(xs)
    n = len(s)
    if n < 20:
        return median(s), 50.0
    return s[n - 11], 100.0 * (n - 10) / n


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(map(math.log, xs)) / len(xs)) if xs else 0.0


def cpu_spin() -> float:
    """Host-noise probe: seconds for a fixed pure-Python loop."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc ^= i * 2654435761 & 0xFFFF
    return time.perf_counter() - t0


def steal_s() -> float:
    """Host-noise probe: CPU time the hypervisor gave to other guests."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def rss_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def proc_cpu_s(pid: int, task: str = "", reaped: bool = False) -> float:
    """User plus system CPU time of one process (all its threads), or of
    one of its threads; with ``reaped``, plus that of its children that have
    exited and been waited for."""
    try:
        with open(f"/proc/{pid}{task}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    ticks = sum(map(int, f[11:15] if reaped else f[11:13]))
    return ticks / os.sysconf("SC_CLK_TCK")


def jit_threads_cpu(pid: int) -> float:
    """CPU time of the JIT compiler threads of the JVM ``pid`` (HotSpot
    names them ``C1 CompilerThre...`` and ``C2 CompilerThre...``)."""
    total = 0.0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                if "CompilerThre" not in fh.read():
                    continue
        except OSError:
            continue
        total += proc_cpu_s(pid, f"/task/{tid}")
    return total


def dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs
    )


class Run:
    """State of one benchmark run: session, samples, counts, diagnostics."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        # wall-clock samples (diagnostics) and CPU samples (gated metrics)
        self.setup_wall = 0.0
        self.setup_cpu = 0.0
        self.work_samples: list[float] = []
        self.lat_samples: list[float] = []
        self.read_samples: list[float] = []
        self.op_cpu: list[float] = []
        self.write_cpu: list[float] = []
        self.read_cpu: list[float] = []
        self.traced_ops: list[float] = []
        self.untraced_ops: list[float] = []
        self.stored_bytes_per_row = 0.0
        self.diag: dict = {"host_spin_s": cpu_spin(), "cpus": CPUS, "phase_s": {}}
        self._t = time.perf_counter()
        self.layer: dict[str, float] = {}

    # ---------------- session ----------------

    def start_session(self):
        from magneto_matcher_spark.session import get_spark

        self.spark = get_spark(
            app_name=f"perfbench-{self.args.workload}",
            master=f"local[{CPUS}]",
            shuffle_partitions=SHUFFLE_PARTITIONS,
            extra_conf={
                "spark.driver.memory": "3g",
                "spark.local.dir": f"{self.work}/spark-local",
                "spark.sql.warehouse.dir": f"{self.work}/warehouse",
                # a fixed-size heap: with a growing one, the RSS peak and the
                # CPU time of garbage collection follow the collector's
                # sizing decisions, which vary from run to run.  A fixed set
                # of JIT compiler threads: cpu_s() leaves their CPU time
                # out, which it cannot do for a thread that starts and
                # exits between two of its readings
                "spark.driver.extraJavaOptions":
                    "-Xms3g -XX:-UseDynamicNumberOfCompilerThreads"
                    f" -Djava.io.tmpdir={self.work}/tmp",
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def setup(self, warm) -> None:
        """Launch the JVM, start the session and run the warm-up."""
        self.phase("inputs")
        t0, c0 = time.perf_counter(), self.cpu_s()
        warm(self.start_session())
        self.setup_wall = time.perf_counter() - t0
        self.setup_cpu = self.cpu_s() - c0
        self.phase("setup")

    def phase(self, name: str) -> None:
        """Close the current phase of the run (for the diagnostics line)."""
        now = time.perf_counter()
        self.diag["phase_s"][name] = now - self._t
        self._t = now

    def op(self, fn, n: int = 1):
        """Run one operation (or ``n`` batches of one), counting failures."""
        self.attempted += n
        try:
            return fn()
        except Exception:  # noqa: BLE001 — a failed op is counted, run goes on
            traceback.print_exc(file=sys.stderr)
            self.failed += n
            return None

    def check(self, label: str, got: str, want: str) -> None:
        self.attempted += 1
        self.diag.setdefault("checks", {})[label] = got == want
        if got != want:
            self.failed += 1
            print(f"perfbench: check {label} failed: {got} != {want}", file=sys.stderr)

    def job_group(self, group: str, phase: str) -> None:
        """Tag the Spark jobs of the next call (traced operations only)."""
        if self.tracer is None:
            return
        sc = self.spark.sparkContext
        if self.tracer.active:
            self.tracer.trace_id = group
            sc.setJobGroup(f"{self.args.workload}:{group}", phase)
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def traced(self, i: int) -> bool:
        """In a traced run, every other operation runs with tracing on, so
        the difference of the two medians is the tracing overhead."""
        if self.tracer is None:
            return False
        on = i % 2 == 0
        self.tracer.install() if on else self.tracer.uninstall()
        return on

    # ---------------- JVM probes ----------------

    def jvm_gc_s(self) -> float:
        beans = self.spark._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(max(beans.get(i).getCollectionTime(), 0)
                   for i in range(beans.size())) / 1000.0

    def heap_pools(self):
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        pools = mf.getMemoryPoolMXBeans()
        return [pools.get(i) for i in range(pools.size())
                if pools.get(i).getType().name() == "HEAP"]

    def cpu_s(self) -> float:
        """CPU time of the driver Python, the JVM and the JVM's Python
        workers (a worker that exits moves its CPU time to the parent that
        waits for it), JIT compiler threads left out."""
        from pyspark import SparkContext

        own = proc_cpu_s(os.getpid())
        gateway = SparkContext._gateway
        if gateway is None:
            return own
        jvm = gateway.proc.pid
        tree = sum(proc_cpu_s(p, reaped=True) for p in [jvm] + _descendants(jvm))
        return own + tree - jit_threads_cpu(jvm)

    def peak_rss_mb(self) -> float:
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return (rss_hwm_kb("self") + rss_hwm_kb(jvm_pid)) / 1024.0

    def window(self, body) -> None:
        """Measure ``body``, which loops while ``more()`` says another
        operation fits in ``--seconds`` (always at least one; in a traced
        run at least two, one traced and one not)."""
        if self.tracer is not None:
            gc0 = self.jvm_gc_s()
            for p in self.heap_pools():
                p.resetPeakUsage()
        steal0 = steal_s()
        deadline = time.perf_counter() + self.args.seconds
        last = {"t": time.perf_counter(), "n": 0}
        least = 1 if self.tracer is None else 2

        def more() -> bool:
            now = time.perf_counter()
            fits = last["n"] < least or now + (now - last["t"]) <= deadline
            last["t"], last["n"] = now, last["n"] + 1
            return fits

        body(more)
        self.phase("window")
        self.diag["window_steal_s"] = steal_s() - steal0
        self.diag["peak_rss_mb"] = self.peak_rss_mb()
        if self.tracer is not None:
            self.tracer.uninstall(everything=True)
            self.layer["jvm.gc_s"] = self.jvm_gc_s() - gc0
            self.layer["jvm.heap_peak_mb"] = sum(
                p.getPeakUsage().getUsed() for p in self.heap_pools()
            ) / 2**20

    # ---------------- result ----------------

    def named_metrics(self, lat_tail: float, read_tail: float) -> dict:
        """The wall-clock end-to-end quantities under their workload-specific
        names (``commit_lag_p50_s``, ``query_suite_s``, ...), only on the
        workloads where each is defined."""
        w = self.args.workload
        out = {
            "setup_wall_s": (self.setup_wall, "s"),
            "peak_rss_mb": (self.diag["peak_rss_mb"], "MB"),
            "ops_failed_frac": (self.failed / max(self.attempted, 1), "fraction"),
        }
        if w != "query_suite":
            out["ingest_events_per_s"] = (self.diag.get("ingest_events_per_s", 0.0), "1/s")
            out["stored_bytes_per_live_row"] = (self.stored_bytes_per_row, "B/row")
        if w == "serve_mor":
            out.update(
                commit_lag_p50_s=(median(self.lat_samples), "s"),
                commit_lag_tail_s=(lat_tail, "s"),
                read_latency_p50_s=(median(self.read_samples), "s"),
                read_latency_tail_s=(read_tail, "s"),
            )
        if w == "query_suite":
            out.update(
                query_suite_s=(self.diag["query_suite_s"], "s"),
                query_geomean_s=(self.diag["query_geomean_s"], "s"),
            )
        return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}

    def result(self) -> dict:
        lat_tail, lat_pct = tail(self.lat_samples)
        read_tail, read_pct = tail(self.read_samples)
        # a tail needs >= 20 samples to sit above the median; the run
        # lengths the budget allows give fewer, so tails are diagnostics
        self.diag.update(
            setup_cpu_s=self.setup_cpu,
            op_cpu_s=[round(x, 3) for x in self.op_cpu],
            write_cpu_s=mean(self.write_cpu),
            read_cpu_s=mean(self.read_cpu),
            work_samples=len(self.work_samples),
            latency_samples=len(self.lat_samples),
            latency_tail_s=lat_tail, latency_tail_pct=lat_pct,
            latency_max_s=max(self.lat_samples, default=0.0),
            read_samples=len(self.read_samples),
            read_latency_tail_s=read_tail, read_tail_pct=read_pct,
            read_latency_max_s=max(self.read_samples, default=0.0),
            named_metrics=self.named_metrics(lat_tail, read_tail),
        )
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)["per_layer" if self.args.trace else "end_to_end"]
        if self.args.trace:
            if self.traced_ops and self.untraced_ops:
                self.layer["trace.overhead_s"] = (
                    median(self.traced_ops) - median(self.untraced_ops)
                )
            # a layer the workload never reaches reads 0
            values = {m["name"]: self.layer.get(m["name"], 0.0) for m in spec}
        else:
            values = {
                "setup_s": self.setup_cpu,
                "cpu_per_op_s": mean(self.op_cpu),
                "cpu_geomean_s": geomean(self.op_cpu),
                "peak_rss_mb": self.diag["peak_rss_mb"],
                "stored_bytes_per_row": self.stored_bytes_per_row,
                "ops_ok_frac": 1.0 - self.failed / max(self.attempted, 1),
            }
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {
                m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec
            },
        }


# --------------------------------------------------------------------------
# CDC workloads
# --------------------------------------------------------------------------


def _cdc_schema():
    from pyspark.sql import types as T

    from magneto_matcher_spark.schemas import CHANGE_FEED_SCHEMA

    return T.StructType([f for f in CHANGE_FEED_SCHEMA.fields if f.name != "op"])


def _new_table(run: Run, name: str, mode: str):
    from magneto_matcher_spark.schemas import TRANSCRIPT_KEY
    from magneto_matcher_spark.sources.lake import LakeTable

    return LakeTable.create(
        run.spark, f"{run.work}/lake/{name}", _cdc_schema(), key=TRANSCRIPT_KEY,
        n_buckets=N_BUCKETS, write_mode=mode,
    )


def _engine(table, maintenance: bool):
    from magneto_matcher_spark.streaming.engine import CdcEngine

    if maintenance:
        return CdcEngine(table, dedup_strategy="agg", n_salts=32,
                         auto_compact_ratio=AUTO_COMPACT_RATIO,
                         expire_keep=EXPIRE_KEEP)
    return CdcEngine(table, dedup_strategy="agg", n_salts=32)


def _commit_clock(table) -> list[float]:
    """Record the time each batch commit returns (MoR staged commits go
    through ``commit_delta``, sequential merges through ``merge``)."""
    stamps: list[float] = []
    for attr in ("merge", "commit_delta"):
        def timed(*a, _attr=attr, **kw):
            # looked up per call: the tracer may wrap the class method later
            out = getattr(type(table), _attr)(table, *a, **kw)
            stamps.append(time.perf_counter())
            return out

        setattr(table, attr, timed)
    return stamps


def _read(run: Run, table, label: str) -> None:
    """One resolved read of the whole table into a noop sink."""
    def go():
        run.job_group(label, "read")
        t0, c0 = time.perf_counter(), run.cpu_s()
        if run.tracer is not None:
            with run.tracer.span("read.total"):
                df = table.read()
                with run.tracer.span("read.exec"):
                    df.write.format("noop").mode("overwrite").save()
        else:
            table.read().write.format("noop").mode("overwrite").save()
        run.read_samples.append(time.perf_counter() - t0)
        run.read_cpu.append(run.cpu_s() - c0)

    run.op(go)


def _state(run: Run, table) -> str:
    import duckdb

    from perfbench.inputs import STATE_HASH, checksum

    con = duckdb.connect()
    try:
        con.register("state", table.read().toArrow())
        return checksum(con, "state", STATE_HASH)
    finally:
        con.close()


def _warm_cdc(run: Run, mode: str, maintenance: bool):
    from perfbench.inputs import make_feed, write_batches

    paths = write_batches(
        make_feed(run.args.seed + 7919, WARM_EVENTS), f"{run.work}/warm_feed", 1
    )

    def warm(spark):
        table = _new_table(run, "warm", mode)
        _engine(table, maintenance).replay(paths, concurrency=4)
        table.read().write.format("noop").mode("overwrite").save()

    return warm


def _files_checksum(paths: list[str]) -> str:
    import duckdb

    from perfbench.inputs import FEED_HASH, checksum, parquet_glob

    con = duckdb.connect()
    try:
        return checksum(con, parquet_glob(paths), FEED_HASH)
    finally:
        con.close()


def _feed_checksum(feed) -> str:
    import duckdb

    from perfbench.inputs import FEED_HASH, checksum

    con = duckdb.connect()
    try:
        con.register("feed", feed)
        return checksum(con, "feed", FEED_HASH)
    finally:
        con.close()


def _pin_feed(run: Run, label: str, paths: list[str], feed, make) -> str:
    """Record the checksum of ``feed`` (generated by ``make(seed)``) and
    check the written files against it.  It is also checked against
    ``pinned.json``: for a pinned seed (0-31) the feed itself; for any other
    seed the feed ``make`` generates for seed 0, so that a change in the
    generator's output fails a check whatever the seed."""
    want = _feed_checksum(feed)
    run.diag.setdefault("feed_checksums", {})[label] = want
    run.check(f"feed_{label}_written", _files_checksum(paths), want)
    pins = _pins().get("feeds", {}).get(label, {})
    seed = run.args.seed if str(run.args.seed) in pins else 0
    run.diag.setdefault("feed_pin_seed", {})[label] = seed
    got = want if seed == run.args.seed else _feed_checksum(make(seed))
    run.check(f"feed_{label}_pinned", got, pins.get(str(seed), "unpinned"))
    return want


def _pins() -> dict:
    path = os.path.join(HERE, "pinned.json")
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        return json.load(fh)


def drain(run: Run, mode: str) -> None:
    import duckdb

    from perfbench.inputs import make_feed, reference_state, write_batches

    def make(seed):
        return make_feed(seed, DRAIN_EVENTS)

    feed = make(run.args.seed)
    paths = write_batches(feed, f"{run.work}/feed", DRAIN_BATCHES)
    feed_sum = _pin_feed(run, "drain", paths, feed, make)
    del feed
    run.setup(_warm_cdc(run, mode, maintenance=False))

    tables = []
    rates = []

    def body(more):
        i = 0
        while more():
            traced = run.traced(i)
            table = _new_table(run, f"drain{i}", mode)
            engine = _engine(table, maintenance=False)
            stamps = _commit_clock(table)
            run.job_group(f"drain{i}", "replay")
            t0, c0 = time.perf_counter(), run.cpu_s()
            run.op(lambda: engine.replay(paths, concurrency=4 if mode == "mor" else 1),
                   n=DRAIN_BATCHES)
            run.write_cpu.append(run.cpu_s() - c0)
            if len(stamps) == DRAIN_BATCHES:
                run.work_samples.append(stamps[-1] - t0)
                (run.traced_ops if traced else run.untraced_ops).append(stamps[-1] - t0)
                run.lat_samples += [s - t0 for s in stamps]
                rates.append(DRAIN_EVENTS / (stamps[-1] - t0))
            for r in range(DRAIN_READS):
                _read(run, table, f"drain{i}")
            run.op_cpu.append(run.cpu_s() - c0)
            tables.append(table)
            i += 1

    run.window(body)
    run.diag["ingest_events_per_s"] = median(rates)
    run.diag["events"] = DRAIN_EVENTS
    con = duckdb.connect()
    want = reference_state(con, paths)
    con.close()
    for i, table in enumerate(tables):
        run.check(f"state_drain{i}", _state(run, table), want)
    run.stored_bytes_per_row = dir_bytes(tables[-1].root) / int(want.split(":")[0])
    run.check("feed_drain_unchanged", _files_checksum(paths), feed_sum)


def serve(run: Run) -> None:
    import duckdb

    from perfbench.inputs import make_feed, reference_state, write_batches

    def make(seed):
        return make_feed(seed, SERVE_BASE_EVENTS + SERVE_BATCH_EVENTS * SERVE_MAX_BATCHES,
                         n_convs=SERVE_CONVS)

    feed = make(run.args.seed)
    base_paths = write_batches(feed.slice(0, SERVE_BASE_EVENTS), f"{run.work}/base", 2)
    serve_paths = write_batches(
        feed.slice(SERVE_BASE_EVENTS), f"{run.work}/serve", SERVE_MAX_BATCHES, 1
    )
    feed_sum = _pin_feed(run, "serve", base_paths + serve_paths, feed, make)
    del feed
    run.setup(_warm_cdc(run, "mor", maintenance=True))

    table = _new_table(run, "serve", "mor")
    engine = _engine(table, maintenance=True)
    # table state before the schedule: the base load, compacted, so every
    # run's window starts from the same kind of table, whatever the seed
    engine.replay(base_paths, concurrency=4)
    table.compact()
    run.phase("base_load")
    stamps = _commit_clock(table)
    n_due = min(SERVE_MAX_BATCHES, max(1, int(run.args.seconds / SERVE_INTERVAL_S)))
    late = []
    compactions = []

    def body(more):
        t_start = time.perf_counter() + 0.05
        due = [t_start + k * SERVE_INTERVAL_S for k in range(n_due)]
        nxt, tick = 0, 0
        first = None
        while nxt < n_due:
            now = time.perf_counter()
            if now < due[nxt]:
                time.sleep(due[nxt] - now)
                now = time.perf_counter()
            k = nxt
            while k < n_due and due[k] <= now:
                k += 1
            late.append(now - due[nxt])
            traced = run.traced(tick)
            first = first if first is not None else now
            before = len(stamps)
            run.job_group(f"tick{tick}", "replay")
            c0 = run.cpu_s()
            metrics = run.op(
                lambda: engine.replay(serve_paths[nxt:k], concurrency=4), n=k - nxt
            )
            run.write_cpu += [(run.cpu_s() - c0) / (k - nxt)] * (k - nxt)
            compactions.extend(bool(m.get("compacted")) for m in metrics or [])
            for j, s in enumerate(stamps[before:]):
                run.lat_samples.append(s - due[nxt + j])
            _read(run, table, f"tick{tick}")
            busy = time.perf_counter() - now
            run.op_cpu += [(run.cpu_s() - c0) / (k - nxt)] * (k - nxt)
            run.work_samples.append(busy)
            (run.traced_ops if traced else run.untraced_ops).append(busy)
            nxt, tick = k, tick + 1
        run.diag["ingest_events_per_s"] = (
            n_due * SERVE_BATCH_EVENTS / (stamps[-1] - first) if stamps else 0.0
        )

    run.window(body)
    run.diag.update(generator_late_max_s=max(late), ticks=len(late),
                    batches=n_due, compactions=sum(compactions),
                    commit_lags_s=[round(x, 3) for x in run.lat_samples])
    con = duckdb.connect()
    want = reference_state(con, base_paths + serve_paths[:n_due])
    con.close()
    run.check("state_last_read", _state(run, table), want)
    run.stored_bytes_per_row = dir_bytes(table.root) / int(want.split(":")[0])
    run.check("feed_serve_unchanged", _files_checksum(base_paths + serve_paths), feed_sum)


# --------------------------------------------------------------------------
# query suite
# --------------------------------------------------------------------------


def fingerprint(pdf) -> str:
    """Row count and order-independent hash of a pandas frame (columns by
    name; floats by repr, so 1 and 1.0 differ; NaN reads as null)."""
    import hashlib

    cells = []
    for c in sorted(pdf.columns):
        col = pdf[c]
        if col.dtype.kind == "f":
            col = col + 0.0  # -0.0 → 0.0
        cells.append(col.astype(str).where(col.notna(), "\\N"))
    lines = cells[0].str.cat(cells[1:], sep="\x01") if len(cells) > 1 else cells[0]
    h = hashlib.sha256("\n".join(sorted(lines)).encode()).hexdigest()[:16]
    return f"{len(pdf)}:{h}"


def _timed_query(run: Run, fn, name: str, sf_dir: str, tag: str, traced: bool):
    """build (call the query function) → plan (traced only: Catalyst phases
    of the built frame) → exec (collect the result as Arrow, so every timed
    output is checked afterwards).  Returns (wall, exec wall, build CPU,
    exec CPU, result)."""
    tr = run.tracer if traced else None
    run.job_group(tag, "build")
    t0, c0 = time.perf_counter(), run.cpu_s()
    if tr:
        with tr.span(f"query.{name}", query=name):
            # the benchmark's own calls sit inside the child spans, so that
            # build + plan + exec covers the query's span
            with tr.span("query.build"):
                df = fn(run.spark, sf_dir)
                build_cpu = run.cpu_s() - c0
            with tr.span("query.plan") as plan:
                qe = df._jdf.queryExecution()
                qe.executedPlan()
                phases = qe.tracker().phases()
                it = phases.values().iterator()
                ms = 0
                while it.hasNext():
                    ms += it.next().durationMs()
            tr.spans[plan.idx].attrs["catalyst_s"] = ms / 1000.0
            with tr.span("query.exec"):
                run.job_group(tag, "exec")
                t1, c1 = time.perf_counter(), run.cpu_s()
                out = df.toArrow()
    else:
        df = fn(run.spark, sf_dir)
        t1, c1 = time.perf_counter(), run.cpu_s()
        build_cpu = c1 - c0
        out = df.toArrow()
    t2, c2 = time.perf_counter(), run.cpu_s()
    return t2 - t0, t2 - t1, build_cpu, c2 - c1, out


def _oracle_fingerprints(con, oracles: dict, input_sums: dict) -> dict[str, str]:
    """Fingerprint of each suite query's ``oracle_sql()`` result in DuckDB.
    Two of the oracles take seconds, so results are kept in the checkout's
    work dir, keyed by the oracle text and the input checksums: a changed
    oracle or input is evaluated again."""
    import hashlib

    path = os.path.join(ROOT, ".bench_work", "oracle_fingerprints.json")
    try:
        with open(path) as fh:
            cache = json.load(fh)
    except (OSError, ValueError):
        cache = {}
    out = {}
    for name in SUITE_QUERIES:
        if name not in oracles:
            continue
        key = hashlib.sha256(
            json.dumps([oracles[name], input_sums], sort_keys=True).encode()
        ).hexdigest()
        if key not in cache:
            cache[key] = fingerprint(con.execute(oracles[name]).df())
        out[name] = cache[key]
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(cache, fh)
    os.replace(tmp, path)
    return out


def query_suite(run: Run) -> None:
    import duckdb

    from magneto_matcher_spark.queries import build_oracles, build_queries
    from perfbench.inputs import suite_checksum, suite_tables, write_suite

    sf_dir = f"{run.work}/suite"
    warm_dir = f"{run.work}/suite_warm"
    tables = suite_tables(SUITE_SEED, SUITE_SCALE)
    n_rows = sum(t.num_rows for t in tables.values())
    sums = write_suite(tables, sf_dir)
    del tables
    write_suite(suite_tables(SUITE_SEED + 1, SUITE_WARM_SCALE), warm_dir)
    run.diag["suite_checksums"] = sums
    pins = _pins()
    for name, want in pins.get("suite_inputs", {}).items():
        run.check(f"suite_input_{name}", sums.get(name, ""), want)
    queries = build_queries()

    def warm(spark):
        # the queries share no session state, so the warm-up runs them
        # side by side: it loads and compiles the same code in less time
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=CPUS) as pool:
            futures = [pool.submit(lambda q=name: queries[q](spark, warm_dir).toArrow())
                       for name in reversed(SUITE_QUERIES)]
            for f in futures:
                f.result()

    run.setup(warm)
    walls: dict[str, list[float]] = {q: [] for q in SUITE_QUERIES}
    outputs: dict[str, list[str]] = {q: [] for q in SUITE_QUERIES}  # fingerprints
    sweeps = []

    def body(more):
        sweep = 0
        while more():
            traced = run.traced(sweep)
            total = 0.0
            # bench.py's order, the same in every run: what the JVM has
            # compiled and collected before a query depends on the queries
            # run before it
            for name in SUITE_QUERIES:
                out = run.op(lambda: _timed_query(
                    run, queries[name], name, sf_dir, f"{name}#{sweep}", traced))
                if out is None:
                    continue
                wall, exec_s, build_cpu, exec_cpu, result = out
                run.write_cpu.append(build_cpu)
                run.read_cpu.append(exec_cpu)
                run.op_cpu.append(build_cpu + exec_cpu)
                outputs[name].append(fingerprint(result.to_pandas()))
                del result
                walls[name].append(wall)
                run.lat_samples.append(wall)
                run.read_samples.append(exec_s)
                total += wall
            (run.traced_ops if traced else run.untraced_ops).append(total)
            sweeps.append(total)
            sweep += 1

    run.window(body)
    per_query = {q: median(w) for q, w in walls.items() if w}
    run.work_samples = [sum(per_query.values())]
    run.diag.update(query_suite_s=sum(per_query.values()),
                    query_geomean_s=geomean(list(per_query.values())),
                    sweeps=len(sweeps), per_query_s=per_query)
    run.stored_bytes_per_row = sum(
        os.path.getsize(f"{sf_dir}/{t}.parquet") for t in sums) / n_rows

    oracles = build_oracles()
    con = duckdb.connect()
    for t in sums:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    expected = _oracle_fingerprints(con, oracles, sums)
    rows_only = pins.get("rows_only", {})
    got_pins = {}
    for name in SUITE_QUERIES:
        want = expected.get(name) or rows_only.get(name, "unpinned")
        for i, got in enumerate(outputs[name]):
            got_pins[name] = got
            run.check(f"{name}#{i}", got, want)
    run.diag["output_fingerprints"] = got_pins
    for name, want in sums.items():
        run.check(f"suite_input_{name}_unchanged",
                  suite_checksum(con, f"{sf_dir}/{name}.parquet"), want)
    con.close()


# --------------------------------------------------------------------------
# per-layer metrics from the traced operations
# --------------------------------------------------------------------------


def layer_metrics(run: Run, jobs: list[dict]) -> None:
    from perfbench.tracing import union_length

    spans = run.tracer.spans
    by = {}
    for s in spans:
        by.setdefault(s.name, []).append(s)

    def total(name):
        return sum(s.dur for s in by.get(name, []))

    def jobs_in(span_list):
        return [j for j in jobs
                if any(s.start <= j["start"] <= s.end for s in span_list)]

    def stage_sum(js, key, pred=lambda st: True):
        return sum(st[key] for j in js for st in j["stages"] if pred(st))

    L = run.layer
    # one batch is one staged commit (MoR) or one merge (CoW); on query_suite
    # the merges are those of cdc_schema_drift's CdcEngine.apply_batch calls
    merges = by.get("lake.merge", [])
    batches = len(by.get("lake.commit_delta", [])) + len(merges)
    if run.args.workload == "query_suite":
        events = sum(s.attrs.get("events", 0) for s in by.get("engine.apply_batch", []))
    else:
        events = batches * (SERVE_BATCH_EVENTS if run.args.workload == "serve_mor"
                            else DRAIN_EVENTS // DRAIN_BATCHES)
    if batches:
        # ingest writes of the traced batches; compaction is counted apart
        writes = by.get("lake.stage_delta", []) + merges
        L["lake.write_task_s"] = stage_sum(
            jobs_in(writes), "run_s", lambda st: st["shuffle_write"] == 0) / batches
        L["lake.files_written_per_batch"] = sum(
            s.attrs.get("files", 0) for s in writes) / batches
        L["lake.bytes_written_per_event"] = sum(
            s.attrs.get("bytes", 0) for s in writes) / max(events, 1)
        for name, key in (("lake.stage_delta", "lake.stage_delta_s"),
                          ("lake.commit_delta", "lake.commit_delta_s"),
                          ("lake.merge", "lake.merge_s")):
            L[key] = total(name) / batches
        L["lake.rewrite_rows_per_batch"] = sum(
            s.attrs.get("rewrite_rows", 0) for s in merges) / batches
    # the engine calls: replay on the CDC workloads, apply_batch on query_suite
    applies = by.get("engine.replay") or by.get("engine.apply_batch", [])
    if applies and batches:
        rjobs = jobs_in(applies)
        busy = sum(union_length([(j["start"], j["end"]) for j in rjobs], s.start, s.end)
                   for s in applies)
        work = sum(union_length([(j["start"], j["end"])], s.start, s.end)
                   for s in applies for j in rjobs)
        L["engine.driver_idle_s"] = (sum(s.dur for s in applies) - busy) / len(applies)
        L["engine.job_overlap"] = work / busy if busy else 0.0
        L["engine.jobs_per_batch"] = len(rjobs) / batches
        L["apply.build_s"] = (total("apply.normalize_payload")
                              + total("apply.dedup_max_lsn")) / batches
        L["apply.map_task_s"] = stage_sum(
            rjobs, "run_s", lambda st: st["shuffle_write"] > 0) / batches
        L["apply.shuffle_bytes_per_event"] = stage_sum(rjobs, "shuffle_write") / max(events, 1)
        L["apply.spill_bytes"] = stage_sum(rjobs, "spill") / batches
    if by.get("engine.replay") and batches:
        # maintenance is traced on every batch of the window (see tracing.py)
        window_batches = run.diag.get("batches") or batches
        L["lake.compact_s"] = total("lake.compact") / window_batches
        L["lake.expire_s"] = total("lake.expire_snapshots") / window_batches
        L["lake.compactions"] = len(by.get("lake.compact", []))
    reads = by.get("read.total", [])
    if reads:
        execs = by.get("read.exec", [])
        L["lake.read_build_s"] = total("lake.read") / len(reads)
        L["lake.read_exec_s"] = total("read.exec") / len(reads)
        L["lake.read_shuffle_bytes"] = stage_sum(jobs_in(execs), "shuffle_read") / len(reads)
        L["lake.delta_files_at_read"] = sum(
            s.attrs.get("delta_files", 0) for s in by.get("lake.read", [])
            if any(r.start <= s.start <= r.end for r in reads)) / len(reads)

    sweeps = max(1, len(run.traced_ops)) if run.args.workload == "query_suite" else 1
    matcher = by.get("matcher.get_matches", []) + by.get("matcher.drift_resolve", [])
    if run.args.workload == "query_suite":
        L["matcher.get_matches_s"] = total("matcher.get_matches") / sweeps
        L["matcher.drift_resolve_s"] = total("matcher.drift_resolve") / sweeps
        L["profile.profile_rows_multi_s"] = total("profile.profile_rows_multi") / sweeps
        L["matcher.jobs"] = len(jobs_in(matcher)) / sweeps
    children: dict[int, list] = {}
    for s in spans:
        children.setdefault(s.parent, []).append(s)
    for i, s in enumerate(spans):
        if not s.name.startswith("query.") or "query" not in s.attrs:
            continue
        q = s.attrs["query"]
        kids = {c.name: c for c in children.get(i, [])}
        tag = [j for j in jobs if j["group"] and j["group"].split(":", 1)[1].startswith(f"{q}#")]
        n = len([x for x in spans if x.name == f"query.{q}"])
        acc = {
            "build_s": kids["query.build"].dur,
            "plan_s": kids["query.plan"].attrs.get("catalyst_s", 0.0),
            "exec_s": kids["query.exec"].dur,
        }
        for m, v in acc.items():
            L[f"query.{q}.{m}"] = L.get(f"query.{q}.{m}", 0.0) + v / n
        L[f"query.{q}.build_jobs"] = len([j for j in tag if j["phase"] == "build"]) / n
        L[f"query.{q}.exec_jobs"] = len([j for j in tag if j["phase"] == "exec"]) / n
        coverage = run.diag.setdefault("query_phase_coverage", {})
        coverage[q] = (acc["build_s"] + acc["plan_s"] + acc["exec_s"]) / s.dur
    run.diag["self_s"] = run.tracer.self_times()


# --------------------------------------------------------------------------


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/task/{p}/children") as fh:
                kids = [int(k) for k in fh.read().split()]
        except OSError:
            continue
        out += kids
        todo += kids
    return out


def stop_jvm(timeout_s: float = 60.0) -> None:
    """Shut down the JVM that PySpark launched (and the Python workers it
    started) and wait until each of those processes has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    pids = [proc.pid] + _descendants(proc.pid)
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + timeout_s
    for pid in pids[1:]:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
    SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["drain_mor", "drain_cow", "serve_mor", "query_suite"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "magneto_matcher_spark")):
        print(f"perfbench: no magneto_matcher_spark/ package under {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(f"{work}/tmp")
    os.environ["TMPDIR"] = tempfile.tempdir = f"{work}/tmp"
    run = Run(args, work)
    try:
        if args.trace:
            from perfbench.tracing import Tracer

            run.tracer = Tracer()
        {
            "drain_mor": lambda: drain(run, "mor"),
            "drain_cow": lambda: drain(run, "cow"),
            "serve_mor": lambda: serve(run),
            "query_suite": lambda: query_suite(run),
        }[args.workload]()
        if run.tracer is not None:
            from perfbench.tracing import spark_jobs

            jobs = spark_jobs(run.spark)
            layer_metrics(run, jobs)
            run.tracer.write(
                os.path.join(ROOT, ".bench_out",
                             f"trace-{args.workload}-seed{args.seed}.jsonl"), jobs)
        run.phase("checks")
        result = run.result()
    finally:
        if run.spark is not None:
            run.spark.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"diagnostics": run.diag}, default=str))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
