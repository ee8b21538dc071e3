"""One benchmark run in one fresh process (started by ``run.py``).

Phases, in order:

1. set-up (timed as ``setup_s``): imports, ``get_spark``, a first
   action (a one-row job) and a warm pass that warms the JVM and
   codegen, so the timed window starts warm on both workloads.
   ``batch_session``'s warm pass runs every distinct step once and
   collects it; ``stream_refresh`` starts its three drains, which run
   until the end of the window, and feeds them the first arrival file
   at once;
2. warm-pass check (not timed): each collected batch step is compared
   with its DuckDB ``oracle_sql()`` twin;
3. timed window: whole passes until ``--seconds`` have gone by; a batch
   step materializes its full result with a ``noop`` write, so column
   pruning cannot hide work; a stream pass feeds the next arrival file
   to each drain in turn. Steps and passes are timed in wall-clock
   seconds, less the share of CPU time the host stole meanwhile;
4. stream checks (untimed): each drain's output is compared with its
   batch twin over the files fed;
5. the result line: the end-to-end metrics, or with ``--trace 1`` the
   per-layer ones.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Steps of ``batch_session``: one query per operator module of the
# reporting core (fixed per-query cost) and one per module of the
# curation chain (executor-bound kernels, persisted frames, trained
# index memos). Each pass runs every step once, in a seeded order.
REPORT_QUERIES = [
    "monthly_series",  # operators.timeseries
    "freshness_cadence",  # operators.freshness
    "schema_audit",  # operators.profiling
    "q5_region_volume",  # operators.relational
]
CURATION_STEPS = [
    "dedup_minhash",  # operators.dedup
    "ann_topk_ivf",  # operators.similarity, trains IVF centroids
    "gopher_quality_rules",  # operators.textops
    "pii_scrub",  # operators.curation
]
BATCH_STEPS = REPORT_QUERIES + CURATION_STEPS
# Seeded step orders, used by successive passes in turn. At sf0.1 one
# pass takes longer than the default seconds, so an untraced run times
# one pass and a slower or faster moment does not change how many.
ROUNDS_DRAWN = 16
INPUTS = {
    "batch_session": [
        "region", "nation", "customer", "supplier", "orders", "lineitem",
        "events", "documents", "embeddings",
    ],
    "stream_refresh": ["events"],
}
CLK_TCK = os.sysconf("SC_CLK_TCK")
GC_ROUNDS = 8  # most collections ``memory`` makes before it reads the heap
# A stateful micro-batch runs one state-store task per shuffle
# partition; drains use bench.py's per-stream setting, not the batch 32.
STREAM_SHUFFLE_PARTITIONS = "8"
# The drains poll their source directories this often. Spark's default
# (a new trigger as soon as the last ends, 10 ms apart when idle) keeps
# the two idle drains listing their directories all the time: about
# half a core in one trial, taken from the drain at work.
STREAM_TRIGGER = "100 milliseconds"


# Float cells match within this relative distance. A twin that sums
# doubles in another order can land on the other side of a rounding
# boundary: q5's revenue is round(sum(price * (1 - discount)), 2), and a
# nation whose exact sum ends in half a cent rounds to either cent.
FLOAT_REL_TOL = 1e-8


def _cell_eq(a, b) -> bool:
    """Equal cells; floats (or ``canon``'s float strings, which always
    hold a '.' or an 'e') within ``FLOAT_REL_TOL``."""
    if a == b:
        return True
    if isinstance(a, str) and isinstance(b, str):
        if not ({".", "e"} & set(a) and {".", "e"} & set(b)):
            return False
        try:
            a, b = float(a), float(b)
        except ValueError:
            return False
    return (
        isinstance(a, float) and isinstance(b, float)
        and math.isclose(a, b, rel_tol=FLOAT_REL_TOL)
    )


def _rows_eq(got: list, want: list) -> bool:
    return len(got) == len(want) and all(
        len(g) == len(w) and all(map(_cell_eq, g, w)) for g, w in zip(got, want)
    )


def _mb(b: float) -> float:
    return b / 1e6


def _vm_status_mb(pid, field: str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    raise KeyError(field)


def host_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks of all CPUs so far (``/proc/stat``).
    Stolen ticks are those a virtual CPU had work to run but the host
    ran something else."""
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(
            int, fh.readline().split()[1:9]
        )
    return user + nice + system + irq + softirq + steal, steal


def stolen_share(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """Share of the busy CPU time between two ``host_ticks`` readings
    that the host stole."""
    busy = t1[0] - t0[0]
    return (t1[1] - t0[1]) / busy if busy > 0 else 0.0


class CpuClock:
    """CPU seconds (user + system) used so far by the run's processes:
    this one, the driver JVM and the Python workers it forks, which all
    share this process's session, plus the children they have reaped.
    The JVM's JIT compiler threads are counted apart: compiling is JVM
    warm-up, and how much of it lands in the timed window varies from
    run to run (a third to a half of the first timed pass's CPU)."""

    def __init__(self, jvm_pid: int):
        self.jvm = jvm_pid
        self.jit: dict[str, int] = {}  # compiler thread -> last ticks read

    def jit_s(self) -> float:
        """CPU seconds of the JIT compiler threads; a thread that has
        ended keeps the ticks last read."""
        for tid in os.listdir(f"/proc/{self.jvm}/task"):
            try:
                with open(f"/proc/{self.jvm}/task/{tid}/stat") as fh:
                    head, tail = fh.read().rsplit(")", 1)
            except OSError:
                continue
            if head.split("(", 1)[1].startswith(("C1 Compiler", "C2 Compiler")):
                self.jit[tid] = sum(map(int, tail.split()[11:13]))
        return sum(self.jit.values()) / CLK_TCK

    def read(self) -> tuple[float, float]:
        """(CPU seconds of the run without the JIT compiler, of the JIT
        compiler)."""
        jit = self.jit_s()
        sid, total = os.getsid(0), 0
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(f[3]) == sid:
                total += sum(map(int, f[11:15]))  # utime stime cutime cstime
        return total / CLK_TCK - jit, jit


def unstolen(rec: dict) -> float:
    """A step's or pass's wall-clock seconds less the share the host
    stole over them: the time it would have taken had every virtual CPU
    run whenever it had work."""
    return rec["s" if "s" in rec else "wall"] * (1.0 - rec["stolen"])


def _utc_seconds(stamp: str) -> float:
    """Epoch seconds of a streaming progress timestamp (UTC, ``...Z``)."""
    return datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()


class Run:
    def __init__(self, args):
        self.ticks0 = host_ticks()
        self.a = args
        self.data = args.data
        self.steps: list[dict] = []  # timed steps
        self.passes: list[dict] = []  # timed passes
        self.failures: list[str] = []
        self.attempted = 0
        self.layer: dict[str, float] = {}
        self.corrupt_pending = args.corrupt
        self.progress: list[dict] = []  # StreamingQuery.recentProgress per drain
        # micro-batch jobs carry their query's run id as job group
        self.group_alias: dict[str, str] = {}

    # -- set-up -----------------------------------------------------------
    def setup(self) -> None:
        from layers import Tracer, install

        # spans are recorded only inside traced passes (``timed``)
        self.tracer = Tracer(f"{self.a.workload}-{self.a.seed}", False)
        if self.a.trace:
            install(self.tracer)
        from forest_open_data_pipelines_spark import session
        from forest_open_data_pipelines_spark.operators import dedup, similarity
        from forest_open_data_pipelines_spark.plans import catalog
        from forest_open_data_pipelines_spark.sources import tables

        self.dedup, self.similarity = dedup, similarity
        self.catalog, self.tables = catalog, tables
        t0 = time.time()
        self.spark = session.get_spark("perfbench")
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        t1 = time.time()
        # the session's first job: one row, so it measures the session's
        # readiness to run jobs; the warm pass warms the rest
        self.spark.range(1).write.format("noop").mode("overwrite").save()
        t2 = time.time()
        self.cpu = CpuClock(self.sc._jvm.ProcessHandle.current().pid())
        self.layer["session.get_spark_s"] = t1 - t0
        self.layer["session.first_action_s"] = t2 - t1
        self.warm_start = t2

    def ready(self) -> None:
        """Set-up ends with the warm pass: the first timed step can run
        next (after the warm pass's output checks, which are not set-up)."""
        self.setup_s = (time.time() - self.a.spawn) * (
            1.0 - stolen_share(self.ticks0, host_ticks())
        )
        print(f"# setup {self.setup_s:.2f}s (get_spark "
              f"{self.layer['session.get_spark_s']:.2f}s, first action "
              f"{self.layer['session.first_action_s']:.2f}s, warm pass "
              f"{time.time() - self.warm_start:.2f}s)", file=sys.stderr, flush=True)

    # -- helpers ------------------------------------------------------------
    def fail(self, what: str, err: str) -> None:
        self.failures.append(what)
        print(f"# FAILED {what}: {err}", file=sys.stderr, flush=True)

    def group(self, tag: str | None) -> None:
        if self.a.trace:
            self.sc.setJobGroup(tag or "untraced", tag or "untraced")

    def compare(self, what: str, got, want) -> None:
        """Record a failure unless ``got`` matches ``want`` row by row
        (after corruption, when ``--corrupt`` asks for one)."""
        if self.corrupt_pending and len(got):
            got = got[:-1]
            self.corrupt_pending = False
        if not _rows_eq(got, want):
            diff = [(a, b) for a, b in zip(got, want) if not _rows_eq([a], [b])][:2]
            self.fail(what, f"mismatch rows={len(got)}/{len(want)} first_diffs={diff}")

    def persisted_mb(self) -> float:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return _mb(sum(i.memSize() + i.diskSize() for i in infos))

    # -- batch workloads ------------------------------------------------------
    def batch_rounds(self) -> list[list[str]]:
        rng = random.Random(self.a.seed)
        return [rng.sample(BATCH_STEPS, len(BATCH_STEPS)) for _ in range(ROUNDS_DRAWN)]

    def before_round(self) -> None:
        # every round pays the index training a daily run pays
        self.layer["persist.memo_entries"] = max(
            self.layer.get("persist.memo_entries", 0),
            self.similarity.clear_centroid_cache(),
        )
        self.dedup.release_persisted()

    def check_pass(self, names: list[str]) -> None:
        """The warm pass: every step once, collected, then compared with
        its DuckDB twin. Set-up ends when the Spark side is done; the
        comparison is not set-up."""
        self.before_round()
        # The steps run all at once: the cold first executions overlap
        # instead of queueing. Persisted frames are released once all of
        # them are done.
        with ThreadPoolExecutor(max_workers=len(names)) as pool:
            pending = {
                n: pool.submit(lambda n: self.catalog.QUERIES[n](self.spark, self.data).toPandas(), n)
                for n in names
            }
        self.dedup.release_persisted()
        self.ready()
        t0 = time.time()
        import duckdb

        sys.path.insert(0, os.path.join(ROOT, "tools"))
        import __spark_entry__
        from frame_compare import pandas_signature

        oracles = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        for t in self.tables.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        for name in names:
            self.attempted += 1
            try:
                got = pending[name].result()
            except Exception as e:  # a raising step is a failed step
                self.fail(name, f"spark {type(e).__name__}: {str(e)[:300]}")
                continue
            if name not in oracles:
                self.fail(name, "no oracle twin")
                continue
            try:
                want = con.execute(oracles[name]).df()
            except Exception as e:
                self.fail(name, f"oracle {type(e).__name__}: {str(e)[:300]}")
                continue
            got_cols, got_rows = pandas_signature(got)
            want_cols, want_rows = pandas_signature(want)
            if got_cols != want_cols:
                self.fail(name, f"columns {got_cols} != {want_cols}")
            else:
                self.compare(name, got_rows, want_rows)
        con.close()
        print(f"# check pass {time.time() - t0:.2f}s", file=sys.stderr, flush=True)

    def batch_step(self, name: str, tag: str | None) -> dict:
        t = self.tracer
        rec = {"step": name, "traced": tag is not None, "ok": True,
               "group": tag and f"{tag}|exec"}
        k0, t0 = host_ticks(), time.perf_counter()
        try:
            with t.span("step", step=name):
                self.group(tag and f"{tag}|build")
                with t.attribute_to() as attr, t.span("plans.build"):
                    df = self.catalog.QUERIES[name](self.spark, self.data)
                self.group(tag and f"{tag}|exec")
                if tag is not None:
                    with t.span("plans.optimize"):
                        df._jdf.queryExecution().executedPlan()
                rec["exec_start"] = time.time()
                with t.span("exec"):
                    df.write.format("noop").mode("overwrite").save()
                rec["exec_end"] = time.time()
                if tag is not None:
                    self.layer["persist.peak_mb"] = max(
                        self.layer.get("persist.peak_mb", 0.0), self.persisted_mb()
                    )
                self.dedup.release_persisted()
                if tag is not None:
                    self.layer["persist.leaked_rdds"] = max(
                        self.layer.get("persist.leaked_rdds", 0),
                        self.sc._jsc.getPersistentRDDs().size(),
                    )
            rec["module"] = attr.modules[0] if attr.modules else None
        except Exception as e:
            rec["ok"] = False
            self.fail(name, f"{type(e).__name__}: {str(e)[:300]}")
        rec["s"] = time.perf_counter() - t0
        rec["stolen"] = stolen_share(k0, host_ticks())
        return rec

    def run_batch(self) -> None:
        self.rounds = self.batch_rounds()
        self.check_pass(self.rounds[0])
        self.timed(self._batch_pass, math.inf)

    def _batch_pass(self, i: int, tag: str | None) -> list[dict]:
        self.before_round()
        names = self.rounds[i % len(self.rounds)]
        return [self.batch_step(n, tag and f"{tag}:{k}:{n}") for k, n in enumerate(names)]

    # -- stream workload ----------------------------------------------------------
    def stream_setup(self) -> None:
        """Start the three drains; they run for the whole run, each fed
        one arrival file per step."""
        from forest_open_data_pipelines_spark.streaming import heavy_hitters, sessions, windowed

        self.arrivals = sorted(
            os.path.join(self.data, "arrivals", f)
            for f in os.listdir(os.path.join(self.data, "arrivals"))
        )
        schema = self.spark.read.parquet(self.arrivals[0]).schema
        self.fed = 0  # arrival files every drain has processed
        self.drains: dict[str, dict] = {}
        base = os.path.join(self.a.work, "stream")
        for drain, build, mode in [
            ("sessionize", sessions.sessionize_stream, "append"),
            ("heavy_hitters", heavy_hitters.heavy_hitters_stream, "update"),
            ("year_cache", None, None),
        ]:
            src = os.path.join(base, drain, "src")
            os.makedirs(src)
            ckpt = os.path.join(base, drain, "ckpt")
            stream = windowed.stream_events_from_parquet(
                self.spark, src, schema=schema, glob="*.parquet"
            )
            if build is None:
                out = os.path.join(base, drain, "out")
                writer = windowed.stream_to_incremental_year_cache(stream, out, ckpt)
            else:
                out = f"perfbench_{drain}"
                writer = (
                    build(stream)
                    .writeStream.format("memory")
                    .queryName(out)
                    .outputMode(mode)
                    .option("checkpointLocation", ckpt)
                )
            q = writer.trigger(processingTime=STREAM_TRIGGER).start()
            self.drains[drain] = {"q": q, "src": src, "out": out}

    def stop_streams(self) -> None:
        for d in getattr(self, "drains", {}).values():
            d["q"].stop()

    def _feed(self, drain: str, i: int, tag: str | None) -> dict:
        """One step: arrival file ``i`` lands in ``drain``'s source
        directory and the drain processes it."""
        d = self.drains[drain]
        q, path = d["q"], self.arrivals[i]
        name = f"{drain}:{i}"
        tmp = os.path.join(d["src"], f".{i}.tmp")
        shutil.copyfile(path, tmp)
        k0, t0, w0 = host_ticks(), time.perf_counter(), time.time()
        ok = True
        try:
            with self.tracer.span("step", step=name):
                os.rename(tmp, os.path.join(d["src"], os.path.basename(path)))
                q.processAllAvailable()
        except Exception as e:
            ok = False
            self.fail(name, f"{type(e).__name__}: {str(e)[:300]}")
        rec = {"step": name, "ok": ok, "s": time.perf_counter() - t0,
               "stolen": stolen_share(k0, host_ticks()),
               "traced": tag is not None, "group": tag and f"{tag}:{drain}",
               "exec_start": w0, "exec_end": time.time()}
        if tag is not None:
            # the micro-batches this file triggered (an idle query also
            # reports progress, with no input rows; a trigger stamped just
            # before the file landed can still list it)
            batches = [
                p for p in q.recentProgress
                if p["numInputRows"] and _utc_seconds(p["timestamp"]) >= w0 - 0.5
            ]
            self.progress.append({"drain": drain, "p": batches})
            for p in batches:
                self.group_alias[f"{q.runId}#{p['batchId']}"] = rec["group"]
            if drain == "year_cache":
                # dynamic overwrite: the year partitions now hold exactly
                # the files this batch wrote
                self.layer["sinks.files_written"] = self.layer.get(
                    "sinks.files_written", 0
                ) + sum(
                    f.endswith(".parquet") for _, _, fs in os.walk(d["out"]) for f in fs
                )
        return rec

    def _warm_pass(self) -> list[dict]:
        """Set-up's warm pass: the first arrival file through the three
        drains at once (their cold first micro-batches overlap instead
        of queueing). A raise is a failed step; the outputs are checked
        with the timed passes'."""
        with ThreadPoolExecutor(max_workers=len(self.drains)) as pool:
            recs = list(pool.map(lambda d: self._feed(d, 0, None), self.drains))
        self.dedup.release_persisted()
        self.fed = 1
        return recs

    def _stream_pass(self, p: int, tag: str | None) -> list[dict]:
        """The next arrival file through each drain in turn."""
        i = self.fed
        recs = [self._feed(drain, i, tag) for drain in self.drains]
        self.dedup.release_persisted()
        self.fed += 1
        return recs

    def run_stream(self) -> None:
        old = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", STREAM_SHUFFLE_PARTITIONS)
        try:
            self.stream_setup()
            self.attempted += len(self._warm_pass())
            self.ready()
            self.timed(self._stream_pass, len(self.arrivals) - self.fed)
        finally:
            self.stop_streams()
            self.spark.conf.set("spark.sql.shuffle.partitions", old)
        self.group(None)
        self.check_streams()

    def check_streams(self) -> None:
        """Compare each drain's output with its batch twin over the
        arrival files fed."""
        t0 = time.time()
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from forest_open_data_pipelines_spark.operators.sessionize import events_sessionize
        from forest_open_data_pipelines_spark.operators.sketches import spacesaving_topk

        spark = self.spark
        fed = self.arrivals[: self.fed]
        # arrival files are consecutive days and event ids follow time
        last_id = pq.read_table(fed[-1], columns=["event_id"])["event_id"].to_numpy().max()
        ev = self.tables.load_table(spark, self.data, "events").where(
            F.col("event_id") <= int(last_id)
        )
        sess_cols = ["session_start", "session_end", "n_events", "total_value", "duration_minutes"]
        hh_cols = ["est_count", "max_error", "is_exact", "rank", "n_processed"]

        def sess_twin():
            batch = ev.transform(events_sessionize).collect()
            last = {}
            for r in batch:
                last[r["user_id"]] = max(last.get(r["user_id"], -1), r["session_seq"])
            return sorted(
                (r["user_id"], r["session_seq"], *[r[c] for c in sess_cols])
                for r in batch
                if r["session_seq"] != last[r["user_id"]]
            )

        def hh_twin():
            return sorted(
                (r["shard"], r["user_id"], *[r[c] for c in hh_cols])
                for r in spacesaving_topk(ev.select("event_id", "ts", "user_id")).collect()
            )

        # the three twins are independent jobs, so they run at once
        with ThreadPoolExecutor(max_workers=3) as pool:
            twins = [pool.submit(f) for f in (sess_twin, hh_twin, lambda: self.year_cache_twin(fed))]
        want_sess, want_hh, want_cache = (f.result() for f in twins)
        outs = {k: d["out"] for k, d in self.drains.items()}
        got = sorted(
            (r["user_id"], r["session_seq"], *[r[c] for c in sess_cols])
            for r in spark.sql(f"SELECT * FROM {outs['sessionize']}").collect()
        )
        self.compare("sessionize", got, want_sess)
        got = sorted(
            (r["shard"], r["user_id"], *[r[c] for c in hh_cols])
            for r in spark.sql(
                f"""SELECT * FROM (SELECT *, max(n_processed) OVER
                (PARTITION BY shard) AS mx FROM {outs['heavy_hitters']})
                WHERE n_processed = mx"""
            ).collect()
        )
        self.compare("heavy_hitters", got, want_hh)
        got = sorted(
            tuple(r) for r in spark.read.parquet(outs["year_cache"]).drop("year").collect()
        )
        self.compare("year_cache", got, want_cache)
        for drain in ("sessionize", "heavy_hitters"):
            spark.catalog.dropTempView(outs[drain])
        self.attempted += 3
        print(f"# stream checks over {self.fed} files {time.time() - t0:.2f}s",
              file=sys.stderr, flush=True)

    def year_cache_twin(self, files: list[str]) -> list[tuple]:
        """The sink replaces each year partition a micro-batch touches
        with that batch's rows (dynamic overwrite), so after the drain a
        year holds the rows of the last arrival file that has it."""
        from functools import reduce

        from pyspark.sql import Window
        from pyspark.sql import functions as F

        frames = [
            self.spark.read.parquet(path)
            .withColumn("ts", self.tables.ntz_as_utc_instant(self.spark, F.col("ts")))
            .withColumn("_file", F.lit(i))
            for i, path in enumerate(files)
        ]
        rows = reduce(lambda x, y: x.unionByName(y), frames).withColumn(
            "_year", F.year("ts")
        )
        want = (
            rows.withColumn("_last", F.max("_file").over(Window.partitionBy("_year")))
            .where(F.col("_file") == F.col("_last"))
            .drop("_file", "_year", "_last")
        )
        return sorted(tuple(r) for r in want.collect())

    # -- the timed window ---------------------------------------------------------
    def timed(self, run_pass, max_passes: int) -> None:
        """Run whole passes until ``--seconds`` are used (or
        ``max_passes`` are done). A traced run
        alternates untraced and traced passes (at least untraced,
        traced, untraced), so the tracing overhead is measured inside the
        same process."""
        # start every run's window from a collected heap, so garbage
        # from the warm pass is not collected inside the first steps
        self.sc._jvm.System.gc()
        gc.collect()
        deadline = time.perf_counter() + self.a.seconds
        i = 0
        while True:
            traced = bool(self.a.trace) and i % 2 == 1
            tag = f"p{i}" if traced else None
            self.group(None)
            self.tracer.enabled = traced
            (c0, j0), k0, w0 = self.cpu.read(), host_ticks(), time.time()
            recs = run_pass(i, tag)
            wall, stolen = time.time() - w0, stolen_share(k0, host_ticks())
            cpu, jit = (b - a for a, b in zip((c0, j0), self.cpu.read()))
            self.tracer.enabled = False
            self.passes.append({"i": i, "traced": traced, "wall": wall, "stolen": stolen,
                                "cpu": cpu, "jit": jit,
                                "tag": tag, "start": w0})
            self.steps.extend(recs)
            print(f"# pass {i} {wall:.2f}s stolen {stolen:.3f} cpu {cpu:.2f}s jit {jit:.2f}s: "
                  + " ".join(f"{r['step']}={r['s']:.2f}" for r in recs), file=sys.stderr, flush=True)
            self.attempted += len(recs)
            i += 1
            if i >= max_passes or (
                time.perf_counter() >= deadline and (not self.a.trace or i >= 3)
            ):
                break
        self.group(None)
        self.memory()

    # -- metrics ------------------------------------------------------------------
    def memory(self) -> None:
        """Sample memory right after the timed window: the driver's
        retained memory (JVM heap in use after a full GC plus the Python
        driver's resident set) and the kernel's peak resident sets."""
        jvm = self.sc._jvm
        rt = jvm.Runtime.getRuntime()
        # Each collection lets Spark's ContextCleaner drop what the one
        # before it found unreachable; a broadcast join's relation can
        # take two or three rounds. So collect until two rounds in a row
        # free nothing. Python first lets go of its py4j proxies.
        gc.collect()
        heap, idle = float("inf"), 0
        for _ in range(GC_ROUNDS):
            jvm.System.gc()
            time.sleep(0.5)
            now = (rt.totalMemory() - rt.freeMemory()) / 2**20
            if now < heap - 1.0:
                heap, idle = now, 0
            else:
                idle += 1
                if idle == 2:
                    break
        # hand freed memory back to the kernel, so the resident set counts
        # what the driver holds, not what its allocators keep in reserve
        # (glibc keeps one arena per thread that has allocated)
        import ctypes

        import pyarrow as pa

        pa.default_memory_pool().release_unused()
        ctypes.CDLL("libc.so.6").malloc_trim(0)
        py_rss = _vm_status_mb("self", "VmRSS")
        py_hwm = _vm_status_mb("self", "VmHWM")
        jvm_hwm = _vm_status_mb(jvm.ProcessHandle.current().pid(), "VmHWM")
        self.retained_mb = heap + py_rss
        self.layer["session.peak_rss_mb"] = py_hwm + jvm_hwm
        print(f"# memory: jvm heap after gc {heap:.1f} MB, python rss {py_rss:.1f} MB; "
              f"peak rss python {py_hwm:.1f} MB, jvm {jvm_hwm:.1f} MB", file=sys.stderr)

    def end_to_end(self) -> dict:
        """Set-up time, pass and step times, memory. Times are wall-clock
        seconds with the share the host stole over them taken out
        (``unstolen``): on a virtual machine whose host is shared, the
        host at times takes a third of the CPU time."""
        lat = [unstolen(s) for s in self.steps if s["ok"]]
        return {
            "setup_s": (self.setup_s, "s"),
            "wall_s": (statistics.median(unstolen(p) for p in self.passes), "s"),
            "step_p50_s": (statistics.median(lat) if lat else float("nan"), "s"),
            "retained_mb": (self.retained_mb, "MB"),
        }

    def per_layer(self) -> dict:
        from layers import OPERATOR_MODULES, fold_event_log, uncovered

        traced = [p for p in self.passes if p["traced"]]
        plain = [p for p in self.passes if not p["traced"]]
        n = len(traced)
        m = {k: (self.layer[k], "s") for k in ("session.get_spark_s", "session.first_action_s")}
        # CPU seconds of an untraced pass: the run's processes without and
        # with the JIT compiler threads, and the share the host stole
        m["cpu.pass_s"] = (statistics.median(p["cpu"] for p in plain), "s")
        m["session.jit_cpu_s"] = (statistics.median(p["jit"] for p in plain), "s")
        m["host.stolen_share"] = (statistics.median(p["stolen"] for p in plain), "ratio")
        m["session.peak_rss_mb"] = (self.layer["session.peak_rss_mb"], "MB")
        # Passes still speed up as the JIT compiles (the second timed
        # pass runs ~20 % faster than the first), so the traced passes
        # are set against the mean of the untraced ones around them.
        m["trace.overhead_s"] = (
            statistics.fmean(p["wall"] for p in traced)
            - statistics.fmean(p["wall"] for p in plain),
            "s",
        )
        # sources.scan_s: a warm noop scan of each input table
        t0 = time.time()
        for name in INPUTS[self.a.workload]:
            self.tables.load_table(self.spark, self.data, name).write.format(
                "noop"
            ).mode("overwrite").save()
        m["sources.scan_s"] = (time.time() - t0, "s")
        self.sc.stop()  # flushes the event log
        selft = self.tracer.layer_self_times()
        for key, span in [
            ("sources.load_table_s", "sources.load_table"),
            ("plans.build_s", "plans.build"),
            ("plans.optimize_s", "plans.optimize"),
            ("persist.release_s", "persist.release"),
            ("sinks.write_s", "sinks.write"),
        ]:
            m[key] = (selft.get(span, 0.0) / n, "s")
        log_dir = self.a.event_log
        groups = fold_event_log(os.path.join(log_dir, os.listdir(log_dir)[0]))
        merged: dict[str, dict] = {}
        for g, rec in groups.items():
            into = merged.setdefault(self.group_alias.get(g, g), {"stage_spans": []})
            for k, v in rec.items():
                into[k] = into[k] + v if k in into else v
        groups = merged
        agg: dict[str, float] = {}
        tags = {p["tag"] for p in traced}
        for g, rec in groups.items():
            if g.split(":")[0] not in tags:
                continue
            phase = "build" if g.endswith("|build") else "exec"
            agg[f"{phase}.jobs"] = agg.get(f"{phase}.jobs", 0) + rec["jobs"]
            for k in ("stages", "tasks", "run_s", "cpu_s", "gc_s", "shuffle_write_b",
                      "shuffle_read_b", "spill_b", "python_s", "output_b"):
                agg[k] = agg.get(k, 0.0) + rec[k]
        gap = sum(
            uncovered((s["exec_start"], s["exec_end"]), groups[s["group"]]["stage_spans"]
                      if s["group"] in groups else [])
            for s in self.steps
            if s["traced"] and "exec_start" in s
        )
        m["plans.build_jobs"] = (agg.get("build.jobs", 0) / n, "count")
        m["exec.jobs"] = (agg.get("exec.jobs", 0) / n, "count")
        m["exec.stages"] = (agg.get("stages", 0) / n, "count")
        m["exec.tasks"] = (agg.get("tasks", 0) / n, "count")
        m["exec.driver_gap_s"] = (gap / n, "s")
        for name, k, unit, scale in [
            ("exec.run_s", "run_s", "s", 1),
            ("exec.cpu_s", "cpu_s", "s", 1),
            ("exec.gc_s", "gc_s", "s", 1),
            ("exec.python_s", "python_s", "s", 1),
            ("exec.shuffle_write_mb", "shuffle_write_b", "MB", 1e-6),
            ("exec.shuffle_read_mb", "shuffle_read_b", "MB", 1e-6),
            ("exec.spill_mb", "spill_b", "MB", 1e-6),
        ]:
            m[name] = (agg.get(k, 0.0) * scale / n, unit)
        m["sinks.bytes_written_mb"] = (agg.get("output_b", 0.0) * 1e-6 / n, "MB")
        m["sinks.files_written"] = (self.layer.get("sinks.files_written", 0) / n, "count")
        per_mod = {k: 0.0 for k in OPERATOR_MODULES}
        for s in self.steps:
            if s["traced"] and s.get("module") in per_mod:
                per_mod[s["module"]] += s["s"]
        for k, v in per_mod.items():
            m[f"operators.{k}.s"] = (v / n, "s")
        m["persist.peak_mb"] = (self.layer.get("persist.peak_mb", 0.0), "MB")
        m["persist.leaked_rdds"] = (self.layer.get("persist.leaked_rdds", 0), "count")
        m["persist.memo_entries"] = (self.layer.get("persist.memo_entries", 0), "count")
        m.update(self.stream_layers(n))
        # a stream's Catalyst planning runs once per micro-batch
        m["plans.optimize_s"] = (m["plans.optimize_s"][0] + self.stream_planning_s / n, "s")
        m["check.failed_frac"] = (len(self.failures) / max(1, self.attempted), "ratio")
        return m

    def stream_layers(self, n: int) -> dict:
        durs = {k: [] for k in ("triggerExecution", "addBatch", "getBatch", "queryPlanning", "walCommit")}
        state_rows = state_b = batches = 0
        for d in self.progress:
            last_state = None
            for pr in d["p"]:
                if not pr.get("numInputRows"):
                    continue
                batches += 1
                for k in durs:
                    durs[k].append(pr.get("durationMs", {}).get(k, 0))
                last_state = pr.get("stateOperators") or []
            if last_state:
                state_rows += sum(s.get("numRowsTotal", 0) for s in last_state)
                state_b += sum(s.get("memoryUsedBytes", 0) for s in last_state)

        self.stream_planning_s = sum(durs["queryPlanning"]) / 1e3

        def med(v):
            return statistics.median(v) if v else 0.0

        return {
            "streaming.trigger_ms": (med(durs["triggerExecution"]), "ms"),
            "streaming.add_batch_ms": (med(durs["addBatch"]), "ms"),
            "streaming.get_batch_ms": (med(durs["getBatch"]), "ms"),
            "streaming.query_planning_ms": (med(durs["queryPlanning"]), "ms"),
            "streaming.wal_commit_ms": (med(durs["walCommit"]), "ms"),
            "streaming.state_rows": (state_rows / n, "count"),
            "streaming.state_mb": (_mb(state_b) / n, "MB"),
            "streaming.batches": (batches / n, "count"),
        }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--spawn", type=float, required=True)
    ap.add_argument("--event-log", default="")
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--corrupt", action="store_true")
    a = ap.parse_args()
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    run = Run(a)
    run.setup()
    try:
        if a.workload == "stream_refresh":
            run.run_stream()
        else:
            run.run_batch()
        metrics = run.end_to_end() if not a.trace else run.per_layer()
        if a.trace:
            with open(a.inputs) as fh:
                inputs = json.load(fh)
            run.tracer.dump(os.path.join(ROOT, ".bench_work", "traces",
                                         f"{a.workload}-seed{a.seed}.json"), inputs=inputs)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        t0 = time.time()
        try:
            run.spark.stop()
        except Exception:
            pass
        print(f"# stop {time.time() - t0:.2f}s", file=sys.stderr, flush=True)
    result = {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
