"""Self-check of the benchmark harness at a tiny size (about five minutes).

    python3 perfbench/selfcheck.py

Asserts that

* every workload of ``BENCHMARK.json``, untraced and traced, exits 0 with a
  correct result whose last line carries exactly the metrics
  ``BENCHMARK.json`` declares, each with its unit, non-zero end-to-end
  values, and non-zero values for the layers the workload exercises;
* a deliberately corrupted result (one dropped row) makes the run fail with
  a non-zero error ratio, for a query spec and for the CDC state, so the
  correctness check is not vacuous;
* a directory holding only ``BENCHMARK.json`` and the benchmark exits non-zero
  without printing a result.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: Per-layer metrics a traced run of each workload must measure (non-zero).
TRACED = {
    "query_mix": ("sources.read_table_calls", "plans.build_s", "exec.jobs"),
    "cdc_pipeline": ("streaming.cdc.apply_p50_s", "streaming.versioned.write_s",
                     "stream.add_batch_ms", "bonus.query_s"),
}


def bench(cwd: str, workload: str, trace: int, *flags: str) -> tuple[int, list[str]]:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
           "--seconds", "1", "--trace", str(trace), "--tiny", *flags]
    p = subprocess.run(cmd, cwd=cwd, env=env, capture_output=True, text=True, timeout=300)
    return p.returncode, p.stdout.strip().splitlines()


def result(lines: list[str]) -> dict:
    res = json.loads(lines[-1])
    assert sorted(res) == ["attempted", "correct", "failed", "metrics"], res
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1, res
    assert isinstance(res["failed"], int), res
    return res


def main() -> int:
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    for name in (w["name"] for w in spec["workloads"]):
        for trace, declared in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            code, lines = bench(ROOT, name, trace)
            assert code == 0, (name, trace, lines[-3:])
            res = result(lines)
            assert res["correct"] and res["failed"] == 0, res
            want = {m["name"]: m["unit"] for m in declared}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, (name, trace, set(got) ^ set(want))
            for metric, m in res["metrics"].items():
                assert math.isfinite(m["value"]), (name, metric, m)
                assert trace or m["value"] > 0, (name, metric, m)
            for metric in TRACED[name] if trace else ():
                assert res["metrics"][metric]["value"] > 0, (name, metric)
            print(f"ok   {name} trace={trace}: {len(got)} metrics")

    for workload in ("query_mix", "cdc_pipeline"):
        code, lines = bench(ROOT, workload, 0, "--corrupt")
        res = result(lines)
        assert code != 0 and not res["correct"] and res["failed"] >= 1, (workload, res)
        print(f"ok   {workload} with one dropped row: {res['failed']}/{res['attempted']} failed")

    bare = os.path.join(ROOT, ".perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        code, lines = bench(bare, "query_mix", 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert code != 0 and not any(line.startswith("{") for line in lines), (code, lines)
    print(f"ok   without the engine: exit {code}, no result line")
    return 0


if __name__ == "__main__":
    sys.exit(main())
