"""Benchmark of the engine on ``local[4]``: the query suite and the CDC path.

Run from the root of a checkout:

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 12 --trace 0

Workloads (closed loops with one client; inputs are generated from the seed
into ``.perfbench/`` under the checkout):

* ``query_mix`` — registry specs over sf0.01-shaped tables in a seeded
  order per pass. Cost is mostly the per-query fixed floor: table reads,
  plan building and job scheduling.
* ``cdc_pipeline`` — generated activities become Debezium envelope files; a
  running stream applies each file with ``apply_cdc_batch_ooo`` into the
  versioned snapshot, and the bonus query runs after every batch.

Each run sets up the session several times (median reported), makes one
untimed pass that checks every output against an independent oracle and
warms the JVM (plus one more untimed pass, or four untimed batches on
``cdc_pipeline``), then measures for ``--seconds``: on ``query_mix`` in
whole passes, at least two, while the next pass still ends in time. The
last stdout line is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the ``end_to_end`` metrics of ``BENCHMARK.json`` for ``--trace 0`` and
its ``per_layer`` metrics for ``--trace 1``. The line before it is a report
with the workload's own metrics and units (``query_p50_s``,
``query_p90_s``, ``queries_per_s``, ``freshness_p50_s``, ``cdc_rows_per_s``,
``error_ratio``, ...), sample counts, phase times, the share of the VM's
CPU time the host took (steal) while measuring, and the CPU and
memory-bandwidth calibration probes. The run exits 1 when any output is
wrong.

End-to-end metrics, one meaning on every workload:

* ``setup_s`` — median of several set-ups (on ``query_mix`` session start
  plus ``load_star`` of the ten tables, 3 times; on ``cdc_pipeline`` session
  start plus the activity generator, 3 times). The first includes the JVM
  launch.
* ``cpu_s_per_op`` — CPU seconds the driver, the JVM and its Python workers
  spend per client operation (JIT compiler threads left out), median over
  the run: per query (``fn()`` plus noop-sink action, taken per pass) on
  ``query_mix``; per micro-batch cycle (file landing, apply, bonus query)
  on ``cdc_pipeline``. Wall-clock latency and throughput are in the report
  line but not gated: on the shared 4-core host the VM's cores are
  descheduled for tens of seconds at a time (5-18 % steal), which stretches
  a run's wall times up to 2.4x while its CPU time moves 10-35 %.
* ``peak_rss_mb`` — high-water RSS of the Python driver plus the JVM.

A traced run (``--trace 1``) alternates untraced and traced queries (batches
on ``cdc_pipeline``), records spans around the calls into each layer, and
reports per-layer numbers from the traced ones: per pass on ``query_mix``
(every other spec is traced, so each pair of passes traces each spec once),
per batch (median) on ``cdc_pipeline``; 0 where a workload does not touch a
layer. ``trace.overhead_ratio`` compares the traced and untraced halves.
Spans are written to ``.perfbench/trace-<workload>-seed<n>.json``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: Units of the workload-specific metrics in the report line.
REPORT_UNITS = {
    "query_p50_s": "s", "query_p90_s": "s", "queries_per_s": "1/s",
    "freshness_p50_s": "s", "freshness_p90_s": "s", "cdc_rows_per_s": "rows/s",
    "setup_s": "s", "peak_rss_mb": "MB", "error_ratio": "ratio", "cpu_s_per_op": "s",
    "steal_share": "ratio",
}


def pct(values: list[float], q: int) -> float:
    if not values:
        return 0.0
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


# -- calibration probes (the same two workloads as bench.py) ----------------
def calib_cpu_s() -> float:
    """md5 over 160 MB: wall time inflates when the cores are descheduled."""
    block = b"\xa5" * 65536
    t0 = time.perf_counter()
    h = hashlib.md5()
    for _ in range(2500):
        h.update(block)
    h.hexdigest()
    return time.perf_counter() - t0


def calib_membw_s() -> float:
    """Four copies of a 128 MB buffer: bound by memory bandwidth."""
    buf = bytearray(128 * 1024 * 1024)
    t0 = time.perf_counter()
    for _ in range(4):
        copy = bytes(buf)
    del copy
    return time.perf_counter() - t0


def cpu_jiffies() -> tuple[int, int]:
    """(steal, all) jiffies of the VM's cores so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def rss_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


# -- environment --------------------------------------------------------------
def configure_env(work: str) -> dict[str, str]:
    """Pin the engine to local[4] and keep every file inside ``work``.

    Also puts the checkout on the PYTHONPATH the JVM hands to executor
    Python workers, so mapInPandas/UDF specs import the package from any
    working directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(paths),
        # every JVM, the spark-submit launcher's too: no /tmp perf data
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_GRAFT_MASTER": "local[4]",
        "SPARK_GRAFT_CPUS": "4",
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_GRAFT_UI": "false",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "TZ": "UTC",
    })
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    time.tzset()
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # A fixed-size heap: its high-water RSS then tracks the heap the
        # engine touches, not how far G1 chose to grow it in this run.
        # C1-compiled code only: with the C2 tier the per-query cost keeps
        # falling for minutes of queries (0.87 -> 0.53 CPU s over passes
        # 3-11 of query_mix on a 4-vCPU VM), so a run would measure how far
        # the JIT got; with C1 it stays within 10 % from the third pass. A
        # fixed set of JIT compiler threads: workloads.tree_cpu_s leaves
        # their CPU out, which it cannot do for one that has ended.
        "spark.driver.extraJavaOptions": (
            "-Xms2g -XX:TieredStopAtLevel=1 -XX:-UseDynamicNumberOfCompilerThreads"
        ),
    }


def stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM process to end."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# -- metrics ------------------------------------------------------------------
def query_metrics(res: dict) -> tuple[dict, dict, dict, dict]:
    lat = [t for _, t, _ in res["latencies"]]
    e2e = {"cpu_s_per_op": median(res["cpu_per_query_s"])}
    report = {"query_p50_s": median(lat), "query_p90_s": pct(lat, 90),
              "queries_per_s": len(lat) / res["elapsed_s"]}
    by_spec = defaultdict(list)
    for name, t, _ in res["latencies"]:
        by_spec[name].append(t)
    samples = {"queries": len(lat), "pass_s": res["pass_s"], "check_s": res["check_s"],
               "cpu_per_query_s": res["cpu_per_query_s"],
               "spec_p50_s": {name: median(ts) for name, ts in sorted(by_spec.items())}}
    layers = {}
    if res["spans"]:
        # Each pair of passes traces every spec once: report per pass.
        pairs = len(res["pass_s"]) / 2
        layers = {k: v / pairs for k, v in pass_layers(res["spans"]).items()}
        layers["trace.overhead_ratio"] = overhead(res["latencies"])
    return e2e, layers, report, samples


def overhead(latencies: list[tuple[str, float, bool]]) -> float:
    """Geometric mean over specs of traced / untraced latency, minus 1.

    A spec is traced in every other pass, alternating with its neighbour, so
    a pass-to-pass warm-up trend cancels out of the mean of the logs."""
    by = defaultdict(lambda: ([], []))
    for name, t, traced in latencies:
        by[name][traced].append(t)
    logs = [math.log(median(tr) / median(un)) for un, tr in by.values() if un and tr]
    return math.exp(sum(logs) / len(logs)) - 1 if logs else 0.0


def pass_layers(spans: list) -> dict:
    by = defaultdict(list)
    for sp in spans:
        by[sp.name].append(sp)

    def total(name, key):
        return sum(sp.attrs.get(key, 0) for sp in by[name])

    return {
        "sources.read_table_calls": len(by["sources.read_table"]),
        "sources.read_table_s": sum(sp.duration for sp in by["sources.read_table"]),
        "sources.read_table_jobs": total("sources.read_table", "jobs"),
        "plans.build_s": sum(sp.self_s for sp in by["plans.build"]),
        "plans.build_jobs": total("plans.build", "jobs"),
        "plans.build_tasks": total("plans.build", "tasks"),
        "operators.checkpoint_calls": sum(sp.attrs.get("checkpoints", 0) for sp in spans),
        "exec.run_s": sum(sp.duration for sp in by["exec.run"]),
        "exec.jobs": total("exec.run", "jobs"),
        "exec.tasks": total("exec.run", "tasks"),
        "exec.shuffle_write_bytes": total("exec.run", "shuffle_write_bytes"),
    }


def cdc_metrics(res: dict) -> tuple[dict, dict, dict, dict]:
    batches = res["batches"]
    fresh = [b.result - b.landed for b in batches]
    rows = sum(b.rows for b in batches)
    e2e = {"cpu_s_per_op": median(b.cpu_s for b in batches)}
    bonus_s = [b.result - b.apply_end for b in batches]
    report = {"freshness_p50_s": median(fresh), "freshness_p90_s": pct(fresh, 90),
              "cdc_rows_per_s": rows / (batches[-1].result - batches[0].landed),
              "query_p50_s": median(bonus_s),
              "query_p90_s": pct(bonus_s, 90),
              "queries_per_s": len(batches) / (batches[-1].result - batches[0].landed)}
    samples = {"batches": len(batches), "change_rows": rows, "freshness_s": fresh,
               "apply_s": [b.apply_end - b.apply_start for b in batches],
               "cpu_s": [b.cpu_s for b in batches]}

    traced = [b for b in batches if b.traced]

    def per_batch(name, value):
        return [sum(value(sp) for sp in b.spans if sp.name == name) for b in traced]

    apply_s = [b.apply_end - b.apply_start for b in traced]
    traced_rows = sum(b.rows for b in traced) or 1
    progress = [p for p in res["progress"]
                if p.get("numInputRows") and p["batchId"] >= batches[0].k]

    def stream_ms(key):
        return median(p["durationMs"].get(key, 0) for p in progress)

    bonus_reads = [sp for b in traced for sp in b.spans
                   if sp.name == "streaming.versioned.read" and sp.parent.name == "bonus.query"]
    layers = {
        "streaming.cdc.apply_p50_s": median(apply_s),
        "streaming.cdc.apply_p90_s": pct(apply_s, 90),
        "streaming.cdc.apply_jobs": median(per_batch("streaming.cdc.apply", lambda s: s.attrs["jobs"])),
        "streaming.cdc.state_rows": res["state_rows"],
        "streaming.cdc.state_rows_read_per_change_row": (
            sum(per_batch("streaming.cdc.apply", lambda s: s.attrs["input_records"])) - traced_rows
        ) / traced_rows,
        "streaming.versioned.write_s": median(per_batch("streaming.versioned.write", lambda s: s.duration)),
        "streaming.versioned.bytes_written_per_input_byte": sum(
            per_batch("streaming.versioned.write", lambda s: s.attrs["bytes"])
        ) / (sum(b.bytes for b in traced) or 1),
        "streaming.versioned.read_s": median(per_batch("streaming.versioned.read", lambda s: s.duration)),
        "streaming.versioned.files_per_snapshot": median(sp.attrs["files"] for sp in bonus_reads),
        "stream.trigger_wait_s": median(b.apply_start - b.landed for b in batches),
        "stream.latest_offset_ms": stream_ms("latestOffset"),
        "stream.wal_commit_ms": stream_ms("walCommit"),
        "stream.add_batch_ms": stream_ms("addBatch"),
        "bonus.query_s": median(per_batch("bonus.query", lambda s: s.duration)),
        "bonus.jobs": median(per_batch("bonus.query", lambda s: s.attrs["jobs"])),
        "streaming.monitor.reconcile_lag": res["reconcile_lag"],
    }
    if traced:
        untraced = [f for f, b in zip(fresh, batches) if not b.traced]
        layers["trace.overhead_ratio"] = median(f for f, b in zip(fresh, batches) if b.traced) / median(untraced) - 1
    return e2e, layers, report, samples


# -- main ---------------------------------------------------------------------
def run(args) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    # The package, and tools/ for the correctness canon of check_oracle.py.
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    try:
        import check_oracle  # noqa: F401
        from projet_data_infrastructure_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    conf = configure_env(work)

    import workloads
    from spans import Tracer, spans_json

    workload = {"query_mix": workloads.QueryWorkload,
                "cdc_pipeline": workloads.CdcWorkload}[args.workload]()
    ctx = workloads.Ctx(None, None, args.seed, args.seconds, work, args.tiny, args.corrupt)
    spark = None
    marks = {"start": time.perf_counter()}
    try:
        workload.prepare(ctx)
        marks["prepared"] = time.perf_counter()
        setup_s, session_s, extra = [], [], defaultdict(list)
        for _ in range(workload.SETUP_REPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = ctx.spark = get_spark("perfbench", extra_conf=conf)
            t1 = time.perf_counter()
            for k, v in workload.setup(ctx).items():
                extra[k].append(v)
            setup_s.append(time.perf_counter() - t0)
            session_s.append(t1 - t0)
        ctx.tracer = Tracer(spark, bool(args.trace))
        marks["set_up"], jiffies = time.perf_counter(), cpu_jiffies()
        res = workload.run(ctx)
        marks["ran"] = time.perf_counter()
        steal = [b - a for a, b in zip(jiffies, cpu_jiffies())]
        if args.workload == "cdc_pipeline":
            e2e, layers, report, samples = cdc_metrics(res)
        else:
            e2e, layers, report, samples = query_metrics(res)
        jvm_pid = spark._jvm.ProcessHandle.current().pid()
        e2e["setup_s"] = median(setup_s)
        e2e["peak_rss_mb"] = rss_hwm_mb("self") + rss_hwm_mb(jvm_pid)
        # After the RSS reading: the bandwidth probe allocates 256 MB.
        calib = {"cpu": [calib_cpu_s(), calib_cpu_s()],
                 "membw": [calib_membw_s(), calib_membw_s()]}
        layers.update({
            "session.start_s": median(session_s[1:]),
            "session.jvm_start_s": session_s[0],
            "sources.generate_rows_per_s": median(extra["generate_rows_per_s"]),
            "calib.cpu_s": median(calib["cpu"]),
            "calib.membw_s": median(calib["membw"]),
        })
    finally:
        if ctx.tracer is not None:
            ctx.tracer.close()
        if spark is not None:
            spark.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    marks["stopped"] = time.perf_counter()

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = layers if args.trace else e2e
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    report.update(setup_s=e2e["setup_s"], peak_rss_mb=e2e["peak_rss_mb"],
                  cpu_s_per_op=e2e["cpu_s_per_op"], steal_share=steal[0] / max(steal[1], 1),
                  error_ratio=ctx.failed / max(ctx.attempted, 1))
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "metrics": {k: {"value": v, "unit": REPORT_UNITS[k]} for k, v in report.items()},
        "samples": samples, "problems": ctx.problems[:10],
        "calib_cpu_s": calib["cpu"], "calib_membw_s": calib["membw"],
        "phases_s": {b: marks[b] - marks[a] for a, b in zip(marks, list(marks)[1:])},
    }
    if args.trace:
        path = os.path.join(ROOT, ".perfbench", f"trace-{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"report": report, "layers": layers, "spans": spans_json(ctx.tracer.spans)}, f)
    print("perfbench report " + json.dumps(report, default=str))
    correct = ctx.failed == 0
    print(json.dumps({"correct": correct, "attempted": max(ctx.attempted, 1),
                      "failed": ctx.failed, "metrics": metrics}))
    if not correct:
        print(f"perfbench: WRONG RESULTS: {ctx.problems[:5]}", file=sys.stderr)
    return 0 if correct else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("query_mix", "cdc_pipeline"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="self-check size (selfcheck.py)")
    ap.add_argument("--corrupt", action="store_true",
                    help="drop one row from a checked result (selfcheck.py)")
    return run(ap.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
