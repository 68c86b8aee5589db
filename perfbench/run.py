"""The engine's benchmark: seeded workloads timed end to end, plus a traced
run that splits every query into engine layers.

    python3 perfbench/run.py --workload tape --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout.  Workloads (names frozen in
``workloads.py``; why each exists is in ``NOTES.md``):

- ``tape``       events-only headline queries on the balanced tape;
- ``corpus``     documents / embeddings / star-schema headline queries;
- ``tape_skew``  the skew queries on a tape with one 90 % symbol;
- ``stream``     checkpointed ``availableNow`` streams into a noop sink.

One client drives each workload as a closed loop at ``local[nproc]``.
Every run builds its inputs in ``.perfbench_work/`` (wiped before and
after), sets up seven times (the first starts the JVM, the rest restart the
session in it; ``setup_s`` is the median), runs two unbilled warm passes
whose first run of each query also checks its result against the DuckDB
oracle, then runs whole passes in a seeded order for ``--seconds``.
``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` does the same,
then sets up again in a new JVM with the Spark event log on, warms, runs
traced passes for ``--seconds``, prints the per-layer metrics and writes
the spans, one record per query and a per-query table to
``.perfbench_out/``.  The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from datetime import datetime

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import spans  # noqa: E402
import workloads as wl  # noqa: E402

DATA_SEED = 42  # the fixed fixture; the run seed picks order, skew and split
SCALE = 0.01
SETUPS = 7  # the first starts the JVM; setup_s is the median of all seven
WARM_PASSES = 2  # the first run of a query in a new JVM is 5-8 s slower
DRIVER_MEMORY = "2g"
# C1 only: with C2 a pass kept getting faster for over a minute, so the
# figure depended on how many passes the host fitted in.  Every query loads
# new generated classes, which filled C1's default 48 MB code cache about
# 45 s into a run; the sweeper then flushed it and C1 recompiled for ~10 s.
# A fixed heap under the parallel collector: G1 started a concurrent cycle
# on most large allocations and grew the heap mid-run.
JVM_OPTS = (f"-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=1g "
            f"-XX:-UseCodeCacheFlushing -XX:+UseParallelGC -Xms{DRIVER_MEMORY}")
VALUE_ROWS = 5000  # larger results are value-checked on a canonical sample
STREAM_FILES = 16
STREAM_FILES_PER_TRIGGER = 4
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")

END_TO_END = {"setup_s": "s", "suite_s": "s", "query_p50_s": "s", "rows_per_s": "1/s"}
PER_LAYER = {
    "mem.peak_rss_mb": "MB",
    "session.jvm_start_s": "s", "session.start_s": "s", "tables.warm_s": "s", "inputs.derive_s": "s",
    "scan.bytes": "B", "scan.rows": "count",
    "construct.s": "s", "construct.jobs": "count", "construct.jobs_s": "s",
    "plan.s": "s", "plan.exchanges": "count", "plan.sorts": "count",
    "plan.broadcasts": "count", "aqe.replans": "count",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_s": "s", "exec.cpu_s": "s",
    "exec.gc_s": "s", "exec.core_idle_s": "s", "exec.max_task_share": "1",
    "shuffle.write_bytes": "B", "shuffle.read_bytes": "B", "spill.bytes": "B",
    "skew.gauge_s": "s", "skew.hot_share": "1", "skew.sliced_chosen": "count",
    "pyworker.cpu_s": "s",
    "stream.batches": "count", "stream.batch_p50_ms": "ms",
    "stream.add_batch_ms": "ms", "stream.planning_ms": "ms",
    "stream.wal_ms": "ms", "state.commit_ms": "ms",
    "state.rows_updated": "count", "state.rows_final": "count",
    "state.bytes_final": "B", "local_dir.bytes_after": "B",
    "trace.overhead_s": "s", "trace.unreconciled": "count",
}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work: str, event_log: bool) -> None:
    """Task slots, driver heap, every scratch directory and the event log,
    for the next JVM the session starts."""
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "local"), os.path.join(work, "eventlog")):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = tmp
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no JVM perf-counter file in the system temp directory; JIT and heap
        # pinned so the driver reaches a steady speed within the warm passes
        "spark.driver.extraJavaOptions":
            f"{JVM_OPTS} -XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={work}",
        "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
        "spark.eventLog.compress": "false",
        "spark.eventLog.enabled": str(event_log).lower(),
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()) + " pyspark-shell"


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            try:
                total += os.path.getsize(os.path.join(root, fn))
            except OSError:
                pass
    return total


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _proc_field(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak RSS of this process, the driver JVM and its Python workers."""
    pids = [os.getpid()] + descendants(os.getpid())
    return sum(_proc_field(p, "VmHWM:") for p in pids) / 1024.0


def cpu_s(match: bytes) -> float:
    """CPU seconds used so far by the processes below this one whose command
    line contains ``match`` (b"pyspark.daemon": the JVM's Python workers),
    including children they already reaped."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                if match not in f.read():
                    continue
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime stime cutime cstime; a forked worker's own ticks are not
        # also in its daemon's cutime until it exits, so nothing is doubled
        total += sum(int(x) for x in fields[11:15])
    return total / tick


def host_steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine, all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def versions() -> dict:
    import pyspark

    try:
        java = subprocess.run(["java", "-version"], capture_output=True,
                              text=True, timeout=30).stderr.splitlines()[0]
    except (OSError, subprocess.SubprocessError, IndexError):
        java = "unknown"
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {"nproc": cores(), "mem_mb": mem_kb // 1024, "pyspark": pyspark.__version__,
            "java": java, "python": sys.version.split()[0],
            "driver_memory": DRIVER_MEMORY}


def canonical_sample(df):
    """Every k-th row of ``df`` in a canonical order, at most ``VALUE_ROWS``
    rows: both engines' results sort alike once floats are rounded the way
    the oracle comparison rounds them, so equal results give equal samples."""
    cols = sorted(df.columns)
    key = df[cols].copy()
    for c in cols:
        if key[c].dtype.kind == "f":
            key[c] = key[c].round(6) + 0.0  # -0.0 sorts as 0.0
    order = key.sort_values(cols, kind="stable", na_position="first").index
    step = -(-len(df) // VALUE_ROWS)
    return df.loc[order[::step]].reset_index(drop=True)


class Failure(Exception):
    """A result that does not match its oracle or expectation."""


class Run:
    """One benchmark invocation: the session, the workload and its samples."""

    def __init__(self, args, program):
        self.args = args
        self.entry, self.co = program
        self.name = args.workload
        self.kind = "stream" if self.name == "stream" else "batch"
        self.items = list(wl.FULL[self.name] if args.full else wl.WORKLOADS[self.name])
        self.rng = random.Random(args.seed)
        self.data = os.path.join(WORK, "data")
        self.spark = None
        self.tracing = False
        self.attempted = 0
        self.failed = 0
        self.setups: list[dict] = []
        self.expected_rows: dict[str, int] = {}
        self.input_rows: dict[str, int] = {}
        self.stream_out: dict[str, int] = {}
        self.gauges: list[tuple[float, float, float]] = []

    # --- session and inputs ---------------------------------------------

    def setup(self, new_jvm: bool = False, event_log: bool = False) -> None:
        """Start the session (in a new JVM, or restart it in the current
        one), warm the table footers, derive inputs."""
        from bitcoin_datapipeline_spark.session import get_spark
        from bitcoin_datapipeline_spark.tables import table

        if new_jvm:
            self.close()
            pin_environment(WORK, event_log)
        else:
            self.spark.stop()
        t0 = time.time()
        self.spark = get_spark(f"perfbench-{self.name}")
        t1 = time.time()
        for t in self.tables():
            table(self.spark, self.data, t).schema
        t2 = time.time()
        self.derive()
        t3 = time.time()
        self.setups.append({"start": t1 - t0, "warm": t2 - t1, "derive": t3 - t2,
                            "total": t3 - t0, "t0": t0, "t3": t3, "new_jvm": new_jvm})

    def tables(self) -> list[str]:
        if self.name == "corpus":
            return [t for t in datagen.TABLES if t != "events"]
        return ["events"]

    def derive(self) -> None:
        seed = self.args.seed
        if self.name == "tape_skew":
            hot = sorted(random.Random(seed).sample(range(100), 90))
            self.sf_dir = os.path.join(WORK, "skew")
            datagen.skew_events(self.data, self.sf_dir, hot)
        elif self.name == "stream":
            self.tapes = self.write_stream_tapes(random.Random(seed))
        else:
            self.sf_dir = self.data

    def write_stream_tapes(self, rng: random.Random) -> dict:
        """The trade and merged quote+trade tapes, in event-time order, cut
        into ``STREAM_FILES`` files at seeded points; file mtimes fix the
        order the stream source reads them in."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from bitcoin_datapipeline_spark.functions.normalize import bba, valid_trades
        from bitcoin_datapipeline_spark.tables import table

        ev = table(self.spark, self.data, "events")
        trades = valid_trades(ev)
        quotes = bba(ev).select(
            "symbol", F.lit(0).alias("kind"), "event_ts", "ingest_ts",
            "bid_px", "ask_px", "bid_sz", "ask_sz",
            F.lit(None).cast("double").alias("price"),
            F.lit(None).cast("boolean").alias("is_buyer_maker"))
        merged = quotes.unionByName(
            trades.select("symbol", F.lit(1).alias("kind"), "event_ts",
                          "ingest_ts", "price", "is_buyer_maker"),
            allowMissingColumns=True)
        tapes = {}
        for kind, df, order in (("trades", trades, ["event_ts", "trade_id"]),
                                ("merged", merged, ["event_ts", "kind", "symbol"])):
            tab = pa.Table.from_pandas(
                df.toPandas().sort_values(order, kind="stable"), preserve_index=False)
            d = os.path.join(WORK, "tapes", kind)
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
            cuts = sorted(rng.sample(range(1, tab.num_rows), STREAM_FILES - 1))
            bounds = [0] + cuts + [tab.num_rows]
            for i in range(STREAM_FILES):
                p = os.path.join(d, f"part-{i:05d}.parquet")
                pq.write_table(tab.slice(bounds[i], bounds[i + 1] - bounds[i]), p)
                os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
            tapes[kind] = {"dir": d, "rows": tab.num_rows,
                           "schema": self.spark.read.parquet(d).schema}
        return tapes

    # --- one item ---------------------------------------------------------

    def tag(self, item: str, phase: str) -> None:
        if self.tracing:
            self.spark.sparkContext.setJobGroup(f"{self.name}:{item}:{phase}", phase)

    def run_query(self, name: str) -> dict:
        """Construct, plan and run one query.  The action is a count, except
        on the query's first run in an invocation, which collects the rows
        and checks them against the oracle."""
        check = name not in self.expected_rows
        t0 = time.time()
        self.tag(name, "construct")
        df = self.entry.queries()[name](self.spark, self.sf_dir)
        t1 = time.time()
        self.tag(name, "plan")
        act = df if check else df.groupBy().count()
        act._jdf.queryExecution().executedPlan()
        t2 = time.time()
        self.tag(name, "action")
        pdf = act.toPandas() if check else None
        n = len(pdf) if check else act.collect()[0][0]
        t3 = time.time()
        s = {"item": name, "t": (t0, t1, t2, t3), "rows": n, "df": df}
        if check:
            self.check_values(name, df, pdf)
            s["check_s"] = time.time() - t3
        return s

    def check_values(self, name: str, df, sdf) -> None:
        """Compare the query's rows ``sdf`` with its DuckDB twin using the
        canonical forms of ``tools/check_oracle.py``; remember the oracle's
        row count and the rows of the tables the query reads."""
        ddf = self.duck.sql(self.oracles[name]).df()
        self.expected_rows[name] = len(ddf)
        if len(sdf) != len(ddf) or sorted(sdf.columns) != sorted(ddf.columns):
            raise Failure(f"{name}: spark {len(sdf)} rows {sorted(sdf.columns)}, "
                          f"duckdb {len(ddf)} rows {sorted(ddf.columns)}")
        if len(sdf) > VALUE_ROWS:
            sdf, ddf = canonical_sample(sdf), canonical_sample(ddf)
        co = self.co
        fast = co._fast_capable(sdf) and co._fast_capable(ddf)
        norm = co.normalize_frame_fast if fast else co.normalize_frame
        if norm(sdf) != norm(ddf):
            raise Failure(f"{name}: values differ from the oracle")
        tables = {os.path.basename(f).removesuffix(".parquet") for f in df.inputFiles()}
        self.input_rows[name] = sum(self.table_rows.get(t, 0) for t in tables)

    def run_stream(self, name: str) -> dict:
        import importlib

        module, kind = wl.STREAM_PROCESSORS[name]
        builder = getattr(importlib.import_module(
            f"bitcoin_datapipeline_spark.streaming.{module}"), name)
        tape = self.tapes[kind]
        ckpt = os.path.join(WORK, "ckpt", name)
        shutil.rmtree(ckpt, ignore_errors=True)
        src = (self.spark.readStream.schema(tape["schema"])
               .option("maxFilesPerTrigger", STREAM_FILES_PER_TRIGGER)
               .parquet(tape["dir"]))
        t0 = time.time()
        q = (builder(src).writeStream.format("noop")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        t1 = time.time()
        prog = q.recentProgress
        shutil.rmtree(ckpt, ignore_errors=True)
        rows_in = sum(int(p["numInputRows"]) for p in prog)
        rows_out = sum(int((p.get("sink") or {}).get("numOutputRows", 0) or 0)
                       for p in prog)
        return {"item": name, "t": (t0, t0, t0, t1), "rows_in": rows_in,
                "rows_out": rows_out, "progress": prog, "run_id": str(q.runId),
                "tape_rows": tape["rows"]}

    def check_stream(self, s: dict) -> None:
        """Every tape row drained; as many rows emitted as the first drive of
        this invocation, which must match the recorded expectation."""
        name = s["item"]
        if s["rows_in"] != s["tape_rows"]:
            raise Failure(f"{name}: drained {s['rows_in']} of {s['tape_rows']} rows")
        if name not in self.stream_out:
            self.stream_out[name] = wl.STREAM_ROWS_OUT.get(
                self.args.scale, {}).get(name, s["rows_out"])
        if s["rows_out"] != self.stream_out[name]:
            raise Failure(f"{name}: emitted {s['rows_out']} rows, "
                          f"expected {self.stream_out[name]}")

    def run_item(self, name: str) -> dict | None:
        """Run and check one item; a failure is counted, never skipped.  The
        first run of a query in an invocation also checks its values."""
        from bitcoin_datapipeline_spark.operators.text import (
            release_components,
            release_lsh_sigs,
        )

        self.attempted += 1
        try:
            if self.kind == "stream":
                s = self.run_stream(name)
                self.check_stream(s)
                return s
            s = self.run_query(name)
            df = s.pop("df")
            try:
                if s["rows"] != self.expected_rows[name]:
                    raise Failure(f"{name}: {s['rows']} rows, oracle has "
                                  f"{self.expected_rows[name]}")
            finally:
                release_components(df)
                release_lsh_sigs(df)
            return s
        except Exception:
            self.failed += 1
            print(f"perfbench: {self.name}/{name} failed\n{traceback.format_exc()}",
                  file=sys.stderr)
            return None

    # --- passes -----------------------------------------------------------

    def clear_caches(self) -> None:
        from bitcoin_datapipeline_spark.operators import similarity, skew

        similarity.clear_quantizer_cache()
        skew.clear_gauge_cache()

    def one_pass(self) -> dict:
        order = list(self.items)
        self.rng.shuffle(order)
        self.clear_caches()
        py0 = cpu_s(b"pyspark.daemon")
        st0 = host_steal_s()
        t0 = time.time()
        samples = [s for s in (self.run_item(n) for n in order) if s]
        t1 = time.time()
        steal = host_steal_s() - st0
        print(f"perfbench: pass {t1 - t0:.2f}s steal {steal:.2f}s " + " ".join(
            f"{x['item']}={x['t'][1] - x['t'][0]:.2f}/{x['t'][2] - x['t'][1]:.2f}/"
            f"{x['t'][3] - x['t'][2]:.2f}" + (f"/out={x['rows_out']}" if "rows_out" in x else "")
            + (f"/check={x['check_s']:.2f}" if "check_s" in x else "")
            for x in samples), file=sys.stderr)
        return {"t0": t0, "t1": t1, "samples": samples, "steal_s": steal,
                "pyworker_cpu_s": cpu_s(b"pyspark.daemon") - py0}

    def timed_passes(self) -> list[dict]:
        """Whole passes for about ``--seconds``: a pass starts only if it
        should end no later than half a pass after the deadline."""
        passes = []
        deadline = time.time() + self.args.seconds
        while not passes or time.time() + statistics.median(
                p["t1"] - p["t0"] for p in passes) / 2 < deadline:
            passes.append(self.one_pass())
        return passes

    def warm(self, passes: int) -> None:
        """Unbilled passes; the first run of each item in an invocation also
        checks its result."""
        if self.kind == "batch" and not self.expected_rows:
            self.duck = self.co.connect_oracle(self.sf_dir)
            self.duck.sql("SET memory_limit='2GB'")
            self.duck.sql(f"SET temp_directory='{os.path.join(WORK, 'duckdb')}'")
            self.oracles = self.entry.oracle_sql()
        for _ in range(passes):
            self.one_pass()

    # --- the whole run ----------------------------------------------------

    def log(self, what: str) -> None:
        print(f"perfbench: {time.time() - self.started:.1f}s {what}", file=sys.stderr)

    def run(self) -> dict:
        self.started = time.time()
        self.table_rows = datagen.build(self.data, self.args.scale, DATA_SEED)
        self.log("inputs built")
        for i in range(SETUPS):
            self.setup(new_jvm=i == 0)
            self.log(f"set-up {i + 1} done")
        self.warm(WARM_PASSES)
        self.log("warm passes done")
        passes = self.timed_passes()
        self.e2e = end_to_end(self, passes)
        self.steal_s = sum(p["steal_s"] for p in passes)
        self.log("timed passes done")
        self.peak_rss_mb = peak_rss_mb()
        metrics = self.e2e
        if self.args.trace:
            metrics = self.traced(self.e2e["suite_s"]["value"])
        return {"correct": self.failed == 0, "attempted": self.attempted,
                "failed": self.failed, "metrics": metrics}

    def traced(self, untraced_suite_s: float) -> dict:
        """Restart with the event log on, run traced passes, and split them
        into layers."""
        from bitcoin_datapipeline_spark.operators import skew

        self.setup(new_jvm=True, event_log=True)
        self.warm(WARM_PASSES)
        self.tracing = True
        real = skew.hot_key_share_cached

        def gauged(*a, **kw):
            t0 = time.time()
            share = real(*a, **kw)
            self.gauges.append((t0, time.time(), share))
            return share

        skew.hot_key_share_cached = gauged
        try:
            passes = self.timed_passes()
        finally:
            skew.hot_key_share_cached = real
        leftover = sum(dir_bytes(os.path.join(WORK, d)) for d in ("local", "ckpt", "tmp"))
        self.close()  # flushes and closes the event log
        log = spans.EventLog(spans.read_event_log(os.path.join(WORK, "eventlog")))
        return layer_metrics(self, passes, log, untraced_suite_s, leftover)

    def close(self) -> None:
        """Stop the session and the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(run: Run, passes: list[dict]) -> dict:
    """Medians over the timed passes: pass wall time, the median over items
    of each item's median wall time, and input rows per wall second of a
    pass."""
    walls: dict[str, list[float]] = {}
    for p in passes:
        for s in p["samples"]:
            walls.setdefault(s["item"], []).append(s["t"][3] - s["t"][0])
    if not walls:
        raise RuntimeError("no item completed in the timed passes")

    def rows(s):
        return s["rows_in"] if run.kind == "stream" else run.input_rows.get(s["item"], 0)

    m = {
        "setup_s": statistics.median(s["total"] for s in run.setups),
        "suite_s": statistics.median(p["t1"] - p["t0"] for p in passes),
        "query_p50_s": statistics.median(statistics.median(w) for w in walls.values()),
        "rows_per_s": statistics.median(
            sum(rows(s) for s in p["samples"]) / (p["t1"] - p["t0"]) for p in passes),
    }
    return {k: metric(m[k], unit) for k, unit in END_TO_END.items()}


def query_record(run: Run, s: dict, log: spans.EventLog) -> dict:
    """Layer split of one traced query: self times of construction, planning
    and the action, the Spark jobs under each, and the job time that falls
    outside the phase that started it."""
    t0, t1, t2, t3 = s["t"]
    phases = {"construct": (t0, t1), "plan": (t1, t2), "action": (t2, t3)}
    rec = {"item": s["item"], "t": s["t"], "wall_s": t3 - t0}
    all_jobs, unaccounted = [], 0.0
    for phase, (a, b) in phases.items():
        group = f"{run.name}:{s['item']}:{phase}"
        jobs = [j for j in log.jobs_in({group}) if a - 0.05 <= j.start <= b + 0.05]
        iv = [(j.start, j.end) for j in jobs]
        inside = spans.covered(a, b, iv)
        unaccounted += spans.covered(min([a] + [x for x, _ in iv]),
                                     max([b] + [y for _, y in iv]), iv) - inside
        rec[phase] = {"s": b - a, "self_s": spans.self_time(a, b, iv),
                      "jobs_s": inside, **spans.job_metrics(log, jobs),
                      "job_spans": job_spans(log, jobs)}
        all_jobs += jobs
    rec["total"] = spans.job_metrics(log, all_jobs)
    gauges = [g for g in run.gauges if t0 <= g[0] <= t1]
    rec["skew"] = {"gauge_s": sum(b - a for a, b, _ in gauges),
                   "shares": [g[2] for g in gauges]}
    rec["unaccounted_s"] = unaccounted
    return rec


def job_spans(log: spans.EventLog, jobs: list[spans.Job]) -> list[dict]:
    return [{"job": j.job_id, "start": j.start, "end": j.end,
             **{k: v for k, v in spans.job_metrics(log, [j]).items()
                if k in ("stages", "tasks", "task_s")}} for j in jobs]


def stream_record(run: Run, s: dict, log: spans.EventLog) -> dict:
    """Layer split of one traced stream run: its jobs (grouped by the
    stream's run id) and the micro-batch durations from its progress."""
    t0, t3 = s["t"][0], s["t"][3]
    jobs = [j for j in log.jobs.values() if j.group == s["run_id"]]
    iv = [(j.start, j.end) for j in jobs]
    prog = s["progress"]
    batches = [p for p in prog if int(p["numInputRows"]) > 0]
    last_state = prog[-1].get("stateOperators", []) if prog else []

    def dur(key):
        return sum(int(p["durationMs"].get(key, 0)) for p in prog)

    inside = spans.covered(t0, t3, iv)
    return {
        "item": s["item"], "t": s["t"], "wall_s": t3 - t0, "action": {
            "s": t3 - t0, "self_s": spans.self_time(t0, t3, iv), "jobs_s": inside,
            **spans.job_metrics(log, jobs), "job_spans": job_spans(log, jobs)},
        "stream": {
            "batches": len(batches),
            "batch_ms": [int(p["durationMs"]["triggerExecution"]) for p in batches],
            "batch_spans": [(p["timestamp"], int(p["durationMs"]["triggerExecution"]))
                            for p in prog],
            "add_batch_ms": dur("addBatch"), "planning_ms": dur("queryPlanning"),
            "wal_ms": dur("walCommit"),
            "state_commit_ms": sum(int(o.get("commitTimeMs", 0))
                                   for p in prog for o in p.get("stateOperators", [])),
            "state_rows_updated": sum(int(o.get("numRowsUpdated", 0))
                                      for p in prog for o in p.get("stateOperators", [])),
            "state_rows_final": sum(int(o.get("numRowsTotal", 0)) for o in last_state),
            "state_bytes_final": sum(int(o.get("memoryUsedBytes", 0)) for o in last_state),
        },
        "unaccounted_s": spans.covered(min([t0] + [a for a, _ in iv]),
                                       max([t3] + [b for _, b in iv]), iv) - inside,
    }


def layer_metrics(run: Run, passes: list[dict], log: spans.EventLog,
                  untraced_suite_s: float, leftover: int) -> dict:
    from bitcoin_datapipeline_spark.operators.skew import HOT_KEY_SHARE_THRESHOLD

    n_cores = cores()
    per_pass = []
    records = []
    for i, p in enumerate(passes):
        recs = [(stream_record if run.kind == "stream" else query_record)(run, s, log)
                for s in p["samples"]]
        for r in recs:
            # the phases tile the wall time, so the layers reconcile with it
            # when no job ran outside the phase that started it
            r["pass"] = i
            r["reconciles"] = r["unaccounted_s"] <= max(0.01, 0.02 * r["wall_s"])
        records += recs
        per_pass.append(pass_layers(recs, p, n_cores, HOT_KEY_SHARE_THRESHOLD))
    batch_ms = [b for r in records for b in r.get("stream", {}).get("batch_ms", [])]
    new = [s for s in run.setups if s["new_jvm"]]
    restarts = [s for s in run.setups if not s["new_jvm"]]
    m = {k: statistics.median(pp[k] for pp in per_pass) for k in per_pass[0]}
    m.update({
        "mem.peak_rss_mb": run.peak_rss_mb,
        "session.jvm_start_s": statistics.median(s["start"] for s in new),
        "session.start_s": statistics.median(s["start"] for s in restarts),
        "tables.warm_s": statistics.median(s["warm"] for s in restarts),
        "inputs.derive_s": statistics.median(s["derive"] for s in restarts),
        "stream.batch_p50_ms": spans.percentile(batch_ms, 50) if batch_ms else 0.0,
        "local_dir.bytes_after": leftover,
        "trace.overhead_s": m["suite_s"] - untraced_suite_s,
        "trace.unreconciled": sum(not r["reconciles"] for r in records),
    })
    write_trace(run, records, m)
    return {k: metric(m[k], unit) for k, unit in PER_LAYER.items()}


def pass_layers(recs: list[dict], p: dict, n_cores: int, threshold: float) -> dict:
    """Per-layer totals of one traced pass; ``threshold`` is the gauge share
    at which the engine picks the sliced plans."""
    def tot(phase, key):
        return sum(r.get(phase, {}).get(key, 0) for r in recs)

    exec_s, task_s = tot("action", "jobs_s"), tot("action", "task_s")
    every = [r.get("total") or r["action"] for r in recs]
    shares = [sh for r in recs for sh in r.get("skew", {}).get("shares", [])]
    st = [r.get("stream", {}) for r in recs]
    return {
        "suite_s": p["t1"] - p["t0"],
        "scan.bytes": sum(e["scan_bytes"] for e in every),
        "scan.rows": sum(e["scan_rows"] for e in every),
        "construct.s": tot("construct", "self_s"),
        "construct.jobs": tot("construct", "jobs"),
        "construct.jobs_s": tot("construct", "jobs_s"),
        "plan.s": tot("plan", "self_s"),
        "plan.exchanges": tot("action", "exchanges"),
        "plan.sorts": tot("action", "sorts"),
        "plan.broadcasts": tot("action", "broadcasts"),
        "aqe.replans": tot("action", "replans"),
        "exec.s": exec_s,
        "exec.jobs": tot("action", "jobs"),
        "exec.stages": tot("action", "stages"),
        "exec.tasks": tot("action", "tasks"),
        "exec.task_s": task_s,
        "exec.cpu_s": tot("action", "cpu_s"),
        "exec.gc_s": tot("action", "gc_s"),
        "exec.core_idle_s": spans.core_idle_s(exec_s, n_cores, task_s),
        "exec.max_task_share": tot("action", "max_task_s") / task_s if task_s else 0.0,
        "shuffle.write_bytes": sum(e["shuffle_write"] for e in every),
        "shuffle.read_bytes": sum(e["shuffle_read"] for e in every),
        "spill.bytes": sum(e["spill"] for e in every),
        "skew.gauge_s": sum(r.get("skew", {}).get("gauge_s", 0) for r in recs),
        "skew.hot_share": max(shares, default=0.0),
        "skew.sliced_chosen": sum(sh >= threshold for sh in shares),
        "pyworker.cpu_s": p["pyworker_cpu_s"],
        "stream.batches": sum(s.get("batches", 0) for s in st),
        "stream.add_batch_ms": sum(s.get("add_batch_ms", 0) for s in st),
        "stream.planning_ms": sum(s.get("planning_ms", 0) for s in st),
        "stream.wal_ms": sum(s.get("wal_ms", 0) for s in st),
        "state.commit_ms": sum(s.get("state_commit_ms", 0) for s in st),
        "state.rows_updated": sum(s.get("state_rows_updated", 0) for s in st),
        "state.rows_final": sum(s.get("state_rows_final", 0) for s in st),
        "state.bytes_final": sum(s.get("state_bytes_final", 0) for s in st),
    }


def trace_spans(run: Run, records: list[dict]) -> spans.Tracer:
    """Every span of the traced run: set-ups, then per query its phases and
    the Spark jobs under each phase (per stream, its micro-batches)."""
    tr = spans.Tracer()
    for s in run.setups:
        top = tr.add("setup", s["t0"], s["t3"])
        a = s["t0"]
        for name, key in (("session.start", "start"), ("tables.warm", "warm"),
                          ("inputs.derive", "derive")):
            tr.add(name, a, a + s[key], top)
            a += s[key]
    for r in records:
        a = r["t"][0]
        top = tr.add(r["item"], a, r["t"][3], **{"pass": r["pass"]})
        for phase in ("construct", "plan", "action"):
            if phase not in r:
                continue
            b = a + r[phase]["s"]
            ph = tr.add(phase, a, b, top, self_s=r[phase]["self_s"])
            for j in r[phase]["job_spans"]:
                tr.add("job", j["start"], j["end"], ph, job=j["job"], stages=j["stages"],
                       tasks=j["tasks"], task_s=j["task_s"])
            a = b
        for ts, ms in r.get("stream", {}).get("batch_spans", []):
            start = datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()
            tr.add("micro-batch", start, start + ms / 1000.0, top)
    return tr


def write_trace(run: Run, records: list[dict], layers: dict) -> None:
    """Spans and per-query records of the traced run, in ``.perfbench_out``."""
    os.makedirs(OUT, exist_ok=True)
    stem = os.path.join(OUT, f"{run.name}{'-full' if run.args.full else ''}"
                             f"-seed{run.args.seed}")
    with open(stem + "-queries.json", "w") as f:
        json.dump({"workload": run.name, "seed": run.args.seed,
                   "scale": run.args.scale, "env": versions(), "layers": layers,
                   "records": records}, f, indent=1, default=str)
    trace_spans(run, records).write(stem + "-spans.jsonl")
    write_table(records, stem + "-table.tsv")


TABLE_COLUMNS = [
    ("wall_s", lambda r: r["wall_s"]),
    ("construct_self_s", lambda r: r.get("construct", {}).get("self_s", 0.0)),
    ("construct_jobs", lambda r: r.get("construct", {}).get("jobs", 0)),
    ("construct_jobs_s", lambda r: r.get("construct", {}).get("jobs_s", 0.0)),
    ("plan_self_s", lambda r: r.get("plan", {}).get("self_s", 0.0)),
    ("action_self_s", lambda r: r["action"]["self_s"]),
    ("exec_s", lambda r: r["action"]["jobs_s"]),
    ("exec_jobs", lambda r: r["action"]["jobs"]),
    ("stages", lambda r: r["action"]["stages"]),
    ("tasks", lambda r: r["action"]["tasks"]),
    ("task_s", lambda r: r["action"]["task_s"]),
    ("exchanges", lambda r: r["action"]["exchanges"]),
    ("sorts", lambda r: r["action"]["sorts"]),
    ("broadcasts", lambda r: r["action"]["broadcasts"]),
    ("aqe_replans", lambda r: r["action"]["replans"]),
    ("scan_rows", lambda r: (r.get("total") or r["action"])["scan_rows"]),
    ("shuffle_write_bytes", lambda r: (r.get("total") or r["action"])["shuffle_write"]),
    ("gauge_s", lambda r: r.get("skew", {}).get("gauge_s", 0.0)),
    ("unaccounted_s", lambda r: r["unaccounted_s"]),
    ("reconciles", lambda r: r["reconciles"]),
]


def write_table(records: list[dict], path: str) -> None:
    """One row per item: the median of each column over traced passes
    (``reconciles`` must hold in every pass)."""
    by_item: dict[str, list[dict]] = {}
    for r in records:
        by_item.setdefault(r["item"], []).append(r)
    with open(path, "w") as f:
        f.write("\t".join(["item"] + [c for c, _ in TABLE_COLUMNS]) + "\n")
        for item, rs in by_item.items():
            cells = [item]
            for col, get in TABLE_COLUMNS:
                vals = [get(r) for r in rs]
                v = all(vals) if col == "reconciles" else statistics.median(vals)
                cells.append(str(v) if isinstance(v, (bool, int)) else f"{v:.4f}")
            f.write("\t".join(cells) + "\n")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=SCALE,
                    help="input size; 0.01 is the engine's sf0.01 fixture size")
    ap.add_argument("--full", action="store_true",
                    help="run the workload's whole query or processor list")
    return ap.parse_args(argv)


def load_program():
    """The engine and its oracle checker, from the checkout root."""
    sys.path.insert(0, ROOT)
    import __spark_entry__ as entry
    from tools import check_oracle

    return entry, check_oracle


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        program = load_program()
    except ImportError as e:
        print(f"perfbench: the engine is not in {ROOT}: {e}", file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    run = Run(args, program)
    try:
        result = run.run()
    finally:
        run.close()
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({"env": versions(), "workload": args.workload, "seed": args.seed,
                      "timed_host_steal_s": run.steal_s, "end_to_end": run.e2e}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
