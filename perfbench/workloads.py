"""The two workloads. Each is a closed loop with one client.

``query_mix`` runs registry specs (``plans.all_specs``) through ``fn()`` and
the noop sink, in a seeded order per pass.
``cdc_pipeline`` lands Debezium envelope files one at a time, applies each
micro-batch with ``streaming.cdc.apply_cdc_batch_ooo`` under a running
``readStream`` → ``foreachBatch``, and runs the bonus query over
``read_cdc_state`` after every batch.

Every workload returns its samples; ``run.py`` turns them into metrics.
"""

from __future__ import annotations

import os
import queue
import random
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import datagen
import oracle

#: Seven of the BENCH_CORE specs (``bench.py``), one per family: short,
#: read-heavy queries whose cost is mostly the per-query fixed floor.
#: ``multimodal_phash_neardup`` exercises the mapInPandas worker path and one
#: checkpoint. An odd count puts the median on one spec's samples instead of
#: between two specs.
QUERY_MIX = (
    "tpch_q1_pricing", "flagship_bonus", "groupby_count_avg",
    "window_running_sum", "cdc_envelope_parse", "text_stats",
    "multimodal_phash_neardup",
)


@dataclass
class Ctx:
    spark: object
    tracer: object
    seed: int
    seconds: float
    work: str
    tiny: bool
    corrupt: bool
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)
        print(f"perfbench FAIL: {what}", flush=True)


_CLK_TCK = os.sysconf("SC_CLK_TCK")
#: JVM threads that compile bytecode. Their CPU is JIT warm-up, which goes on
#: for minutes of queries and varies from JVM to JVM, so it is left out.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")


def _stat(path: str) -> tuple[str, list[str]]:
    """(command name, fields after it) of a /proc stat file."""
    with open(path) as f:
        text = f.read()
    head, _, tail = text.rpartition(")")
    return head.partition("(")[2], tail.split()


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all its
    descendants, the JVM and the Python workers it forks, less the JVM's JIT
    compiler threads. A child already reaped counts through its parent's
    ``cutime``/``cstime``.

    Unlike wall time this does not grow while the host deschedules the VM's
    cores (steal time), which on a shared host stretches wall time up to
    2.5x for tens of seconds at a time."""
    ticks, kids = {}, defaultdict(list)
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            _, fields = _stat(f"/proc/{entry.name}/stat")
        except OSError:  # the process ended meanwhile
            continue
        pid = int(entry.name)
        kids[int(fields[1])].append(pid)
        ticks[pid] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(kids.get(pid, ()))
        try:
            tasks = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tasks:
            try:
                name, fields = _stat(f"/proc/{pid}/task/{tid}/stat")
            except OSError:
                continue
            if name in JIT_THREADS:
                total -= int(fields[11]) + int(fields[12])
    return total / _CLK_TCK


def release_cached_blocks(spark) -> None:
    """Drop cached tables and persisted RDD blocks between queries, as
    ``bench.py`` does, so each query starts from the same storage state."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(False)


# --------------------------------------------------------------------------
# query mix


class QueryWorkload:
    #: The first set-up launches the JVM and is the slowest; the median of
    #: three is the slower of two warm ones.
    SETUP_REPS = 3
    WARM_PASSES = 1
    names = QUERY_MIX

    def prepare(self, ctx: Ctx) -> None:
        self.data_dir = os.path.join(ctx.work, "data")
        datagen.write_tables(self.data_dir, ctx.seed, 0.001 if ctx.tiny else 0.01)

    def setup(self, ctx: Ctx) -> dict:
        """Program-side set-up after the session start: register the star
        schema's tables (``load_star``), which resolves each table's schema."""
        from projet_data_infrastructure_spark.sources.readers import load_star

        load_star(ctx.spark, self.data_dir)
        return {}

    def run(self, ctx: Ctx) -> dict:
        from projet_data_infrastructure_spark.plans import all_specs

        specs = {s.name: s for s in all_specs() if s.name in self.names}
        ctx.tracer.install()
        rng = random.Random(ctx.seed)
        t_check = time.perf_counter()
        self._check_pass(ctx, specs, rng)
        check_s = time.perf_counter() - t_check
        # The pass after the check pass still costs ~10 % more CPU than the
        # ones after it, so it is not timed either.
        for _ in range(self.WARM_PASSES):
            self._pass(ctx, specs, rng, None)
        latencies: list[tuple[str, float, bool]] = []
        passes: list[float] = []
        cpu_per_query: list[float] = []
        t_start = time.perf_counter()
        while True:
            first_span = len(ctx.tracer.spans)
            t_pass, cpu = time.perf_counter(), tree_cpu_s()
            done = self._pass(ctx, specs, rng, len(passes))
            cpu_per_query.append((tree_cpu_s() - cpu) / max(len(done), 1))
            passes.append(time.perf_counter() - t_pass)
            latencies += done
            if ctx.tracer.enabled:
                ctx.tracer.resolve_groups(ctx.tracer.spans[first_span:])
            # Whole passes, at least two, while the next one still ends in
            # time; a traced run needs an even count.
            n, elapsed = len(passes), time.perf_counter() - t_start
            if n >= 2 and elapsed * (n + 1) / n > ctx.seconds and not (ctx.tracer.enabled and n % 2):
                break
        return {"latencies": latencies, "elapsed_s": time.perf_counter() - t_start,
                "pass_s": passes, "cpu_per_query_s": cpu_per_query, "check_s": check_s,
                "spans": ctx.tracer.spans}

    def _pass(self, ctx: Ctx, specs: dict, rng: random.Random, p: int | None) -> list:
        """One pass in seeded order: ``fn()`` then the noop sink per spec.

        A traced run traces every other spec in pass ``p`` and the others in
        pass ``p + 1``, so each pair of passes traces every spec once."""
        out = []
        for name in rng.sample(self.names, len(self.names)):
            traced = p is not None and ctx.tracer.enabled and (self.names.index(name) + p) % 2 == 1
            release_cached_blocks(ctx.spark)
            ctx.attempted += 1
            req = f"{p}:{name}"
            ctx.tracer.active = traced
            t0 = time.perf_counter()
            try:
                with ctx.tracer.span("plans.build", req=req, jobs=True):
                    df = specs[name].fn(ctx.spark, self.data_dir)
                with ctx.tracer.span("exec.run", req=req, jobs=True):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # one failed query must not end the run
                ctx.fail(f"{name} raised {type(e).__name__}: {str(e)[:200]}")
                continue
            finally:
                ctx.tracer.active = False
            out.append((name, time.perf_counter() - t0, traced))
        return out

    def _check_pass(self, ctx: Ctx, specs: dict, rng: random.Random) -> None:
        """Untimed warm-up pass that also checks every spec against DuckDB."""
        sql = oracle.SqlOracle(self.data_dir)
        try:
            for i, name in enumerate(rng.sample(self.names, len(self.names))):
                release_cached_blocks(ctx.spark)
                ctx.attempted += 1
                spec = specs.get(name)
                try:
                    if spec is None or spec.oracle is None:
                        raise LookupError("no registry spec with oracle SQL")
                    df = spec.fn(ctx.spark, self.data_dir)
                    rows = [tuple(r) for r in df.collect()]
                    if ctx.corrupt and i == 0:
                        rows = rows[1:]
                    why = sql.mismatch(spec.oracle, rows, df.columns)
                except Exception as e:  # counted as a failed check
                    why = f"raised {type(e).__name__}: {str(e)[:200]}"
                if why:
                    ctx.fail(f"{name}: {why}")
        finally:
            sql.close()


# --------------------------------------------------------------------------
# CDC pipeline


@dataclass
class Batch:
    k: int
    rows: int
    bytes: int
    traced: bool
    landed: float
    apply_start: float = 0.0
    apply_end: float = 0.0
    result: float = 0.0
    cpu: float = 0.0  # tree_cpu_s() when the bonus result returned
    cpu_s: float = 0.0  # CPU seconds since the previous batch's result
    spans: list = field(default_factory=list)


#: Trigger interval of the CDC stream.
TRIGGER_MS = 250


class CdcWorkload:
    """Generated activities → envelopes → streaming apply → bonus query."""

    SETUP_REPS = 3
    WARM_BATCHES = 4

    def prepare(self, ctx: Ctx) -> None:
        self.n_employees, self.n_days, self.batch_rows = (
            (20, 120, 30) if ctx.tiny else (100, 731, 200)
        )
        self.staff = datagen.employees(ctx.seed, self.n_employees)
        self.dir = os.path.join(ctx.work, "cdc")

    def setup(self, ctx: Ctx) -> dict:
        """Program-side set-up: the seeded activities from the generator."""
        from projet_data_infrastructure_spark.sources.generator import generate_activities

        t0 = time.perf_counter()
        rows = generate_activities(
            ctx.spark, n_employees=self.n_employees, n_days=self.n_days, seed=ctx.seed
        ).collect()
        gen_s = time.perf_counter() - t0
        epoch = datetime(1970, 1, 1)
        self.activities = [
            dict(r.asDict(), start_datetime=(r.start_datetime - epoch) // _US) for r in rows
        ]
        return {"generate_rows_per_s": len(rows) / gen_s}

    def run(self, ctx: Ctx) -> dict:
        from pyspark.sql import functions as F

        from projet_data_infrastructure_spark.streaming import versioned
        from projet_data_infrastructure_spark.streaming.cdc import (
            apply_cdc_batch_ooo,
            parse_envelope,
            read_cdc_state,
        )
        from projet_data_infrastructure_spark.streaming.monitor import attach_monitor, reconcile

        spark, tracer = ctx.spark, ctx.tracer
        tracer.install()
        log = datagen.change_log(self.activities, self.staff, ctx.seed)
        batches = datagen.deliveries(log, ctx.seed, self.batch_rows)
        src, staging, lake = (os.path.join(self.dir, d) for d in ("in", "staging", "lake"))
        for d in (src, staging):
            os.makedirs(d, exist_ok=True)
        emp = spark.createDataFrame(
            [(e["id_employee"], e["gross_salary"]) for e in self.staff],
            "id_employee INT, gross_salary DOUBLE",
        )
        monitor = attach_monitor(spark)
        applied: queue.Queue = queue.Queue()

        def apply_batch(batch_df, batch_id):
            t0 = time.perf_counter()
            try:
                with tracer.span("streaming.cdc.apply", req=f"b{batch_id}", jobs=True):
                    apply_cdc_batch_ooo(lake, parse_envelope(batch_df))
            except Exception as e:
                applied.put((batch_id, t0, time.perf_counter(), e))
                raise
            applied.put((batch_id, t0, time.perf_counter(), None))

        stream = (
            spark.readStream.format("text").option("maxFilesPerTrigger", 1).load(src)
            .writeStream.foreachBatch(apply_batch)
            # A processing-time trigger, as the reference's sink: the
            # default one lists the source directory every 10 ms while idle.
            .trigger(processingTime=f"{TRIGGER_MS} milliseconds")
            .option("checkpointLocation", os.path.join(self.dir, "checkpoint"))
            .start()
        )
        landed: queue.Queue = queue.Queue()
        ack: queue.Queue = queue.Queue()
        stop = threading.Event()

        def writer():
            """Lands one envelope file, then waits for its bonus result."""
            for k, changes in enumerate(batches):
                if stop.is_set():
                    break
                text = "".join(ch.envelope() + "\n" for ch in changes)
                tmp = os.path.join(staging, f"batch-{k:05d}.json")
                with open(tmp, "w") as f:
                    f.write(text)
                traced = tracer.enabled and k >= self.WARM_BATCHES and k % 2 == 1
                tracer.active = traced
                t = time.perf_counter()
                os.replace(tmp, os.path.join(src, os.path.basename(tmp)))
                landed.put(Batch(k, len(changes), len(text), traced, t))
                ack.get()
            landed.put(None)

        wt = threading.Thread(target=writer, name="cdc-writer", daemon=True)
        wt.start()
        done: list[Batch] = []
        delivered: list[datagen.Change] = []
        bonus: list = []
        t_measure = None
        try:
            while True:
                b = landed.get(timeout=60)
                if b is None:
                    break
                ctx.attempted += 1
                try:
                    bid, b.apply_start, b.apply_end, err = _wait_applied(applied, stream)
                    if err is not None or bid != b.k:
                        raise RuntimeError(f"batch {b.k} applied as {bid}: {err}")
                    delivered.extend(batches[b.k])
                    with tracer.span("bonus.query", req=f"b{b.k}", jobs=True):
                        bonus = bonus_query(spark, lake, emp).collect()
                    b.result, b.cpu = time.perf_counter(), tree_cpu_s()
                except Exception as e:
                    ctx.fail(f"cdc batch {b.k}: {type(e).__name__}: {str(e)[:200]}")
                    stop.set()
                    ack.put(1)
                    break
                done.append(b)
                if b.k == self.WARM_BATCHES:
                    t_measure = b.landed
                enough = not tracer.enabled or b.k > self.WARM_BATCHES  # one of each kind
                if t_measure is not None and b.result - t_measure >= ctx.seconds and enough:
                    stop.set()
                ack.put(1)
        finally:
            tracer.active = False
            stop.set()
            ack.put(1)
            wt.join(timeout=30)
            progress = list(stream.recentProgress)
            stream.stop()
        for prev, b in zip(done, done[1:]):
            b.cpu_s = b.cpu - prev.cpu
        measured = [b for b in done if b.k >= self.WARM_BATCHES]
        if not measured:
            raise RuntimeError("no measured CDC batch (too few batches for the time given)")
        traced_spans = [sp for sp in tracer.spans if sp.req is not None]
        tracer.resolve_groups(traced_spans)
        for b in measured:
            b.spans = [sp for sp in traced_spans if sp.req == f"b{b.k}"]

        # -- correctness, untimed ------------------------------------------
        deadline = time.perf_counter() + 10
        while monitor.stats.batches < len(done) and time.perf_counter() < deadline:
            time.sleep(0.05)
        lag = reconcile(len(delivered), monitor.stats.total_rows)["lag"]
        ctx.attempted += 3
        if lag != 0:
            ctx.fail(f"ProgressMonitor saw {monitor.stats.total_rows} rows, {len(delivered)} delivered")
        state = read_cdc_state(spark, lake).withColumn(
            "start_datetime", F.unix_micros("start_datetime")
        )
        rows = [r.asDict() for r in state.collect()]
        if ctx.corrupt:
            rows = rows[1:]
        why = oracle.state_mismatch(delivered, rows)
        if why:
            ctx.fail(f"cdc final state: {why}")
        why = oracle.bonus_mismatch(delivered, self.staff, [r.asDict() for r in bonus])
        if why:
            ctx.fail(f"cdc last bonus result: {why}")
        state_rows = versioned.read_snapshot(spark, lake).count()
        return {"batches": measured, "progress": progress, "reconcile_lag": lag,
                "state_rows": state_rows}


_US = timedelta(microseconds=1)


def bonus_query(spark, lake, emp):
    """Flagship-style bonus: 5 % of salary for 15 or more activities."""
    from pyspark.sql import functions as F

    from projet_data_infrastructure_spark.operators.aggregates import activity_stats
    from projet_data_infrastructure_spark.operators.joins import enrich
    from projet_data_infrastructure_spark.streaming.cdc import read_cdc_state

    stats = activity_stats(read_cdc_state(spark, lake), "id_employee", "activity_duration")
    return enrich(stats, emp, "id_employee").select(
        "id_employee",
        "count_activity",
        "mean_duration",
        F.when(F.col("count_activity") >= 15, F.col("gross_salary") * 0.05)
        .otherwise(0.0)
        .alias("bonus"),
    )


def _wait_applied(applied: queue.Queue, stream, limit: float = 60.0):
    """Next foreachBatch completion; raises if the stream died or stalled."""
    deadline = time.perf_counter() + limit
    while time.perf_counter() < deadline:
        try:
            return applied.get(timeout=0.5)
        except queue.Empty:
            if not stream.isActive:
                raise RuntimeError(f"stream stopped: {stream.exception()}") from None
    raise TimeoutError("no micro-batch completed in time")
