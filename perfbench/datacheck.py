"""Compare the generated tables with a reference data directory, spec by spec.

    python3 perfbench/datacheck.py REF_DIR [--seed 42] [--reps 3]

Writes the sf0.01 tables of ``--seed`` under ``.perfbench/``, then runs each
``query_mix`` spec on both directories and prints, per spec and side, the
result rows, the exact number of Spark jobs inside ``fn()`` and in the noop
action, and the median latency of ``--reps`` warm runs (the two sides
alternate, and take turns going first, so neither gains from the other's
warm-up). Run it whenever ``datagen.py`` changes, against the engine's own
sf0.01 test tables.
"""

from __future__ import annotations

import argparse
import itertools
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, os.path.join(ROOT, "tools"), HERE]

import datagen  # noqa: E402
import run  # noqa: E402
from workloads import QUERY_MIX, release_cached_blocks  # noqa: E402

_groups = itertools.count()


def jobs_of(spark, action) -> int:
    """Run ``action`` in a fresh job group; the number of jobs it started."""
    sc = spark.sparkContext
    group = f"datacheck-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("ref_dir")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args(argv)
    work = os.path.join(ROOT, ".perfbench", f"datacheck-{os.getpid()}")
    conf = run.configure_env(work)
    gen_dir = os.path.join(work, "data")
    datagen.write_tables(gen_dir, args.seed, 0.01)

    from projet_data_infrastructure_spark.plans import all_specs
    from projet_data_infrastructure_spark.session import get_spark

    sides = {"ref": os.path.abspath(args.ref_dir), "gen": gen_dir}
    specs = {s.name: s for s in all_specs() if s.name in QUERY_MIX}
    spark = get_spark("perfbench-datacheck", extra_conf=conf)
    try:
        facts = {}
        for name, (side, data) in itertools.product(QUERY_MIX, sides.items()):
            release_cached_blocks(spark)
            rows = specs[name].fn(spark, data).count()
            holder = {}
            build = jobs_of(spark, lambda: holder.setdefault("df", specs[name].fn(spark, data)))
            action = jobs_of(spark, lambda: holder["df"].write.format("noop").mode("overwrite").save())
            facts[name, side] = {"rows": rows, "build_jobs": build, "exec_jobs": action, "s": []}
        for rep, name in itertools.product(range(args.reps), QUERY_MIX):
            for side in sorted(sides, reverse=rep % 2 == 1):
                release_cached_blocks(spark)
                t0 = time.perf_counter()
                specs[name].fn(spark, sides[side]).write.format("noop").mode("overwrite").save()
                facts[name, side]["s"].append(time.perf_counter() - t0)
    finally:
        spark.stop()
        run.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    print(f"{'spec':28s} {'rows ref/gen':>15s} {'fn() jobs':>10s} {'noop jobs':>10s} "
          f"{'latency s ref/gen':>18s}")
    for name in QUERY_MIX:
        r, g = facts[name, "ref"], facts[name, "gen"]
        rs, gs = statistics.median(r["s"]), statistics.median(g["s"])
        print(f"{name:28s} {r['rows']:>7d}/{g['rows']:<7d} {r['build_jobs']:>4d}/{g['build_jobs']:<5d} "
              f"{r['exec_jobs']:>4d}/{g['exec_jobs']:<5d} {rs:>8.3f}/{gs:<8.3f} x{gs / rs:.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
