"""Self-test of the benchmark itself.

    python3 perfbench/selftest.py           # checker and log counter only
    python3 perfbench/selftest.py --runs    # also tiny runs of every workload

Checks that:

- the output checker accepts the oracle's own rows and rejects a result with
  one triple dropped (extract, kg_job) or one near-duplicate pair dropped
  (dedup);
- the ERROR-line counter attributes the Spark log's accumulator-race lines to
  the span that was active;
- with ``--runs``, a tiny run of every workload in both trace modes prints
  exactly the metric names of ``BENCHMARK.json``, each with its unit, passes
  its own output checks, and samples the memory of the driver JVM, the
  Python worker daemon and at least one Python worker.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import layers  # noqa: E402
from check import QUERIES, Checker  # noqa: E402

TINY_DOCS = 400


def check_rejects_corruption(tmp: str) -> None:
    data = gen.ensure(os.path.join(tmp, "data"), 0, TINY_DOCS)
    for workload, queries in QUERIES.items():
        checker = Checker(workload, data)
        for victim in queries:
            for corrupt in (False, True):
                out = os.path.join(tmp, f"{workload}_{victim}_{corrupt}")
                for name in queries:
                    os.makedirs(os.path.join(out, name))
                    rows = f"SELECT * FROM exp_{name}"
                    if corrupt and name == victim:
                        # one row fewer: the first in a fixed order
                        rows += " ORDER BY ALL OFFSET 1"
                    checker.con.sql(
                        f"COPY ({rows}) TO '{out}/{name}/part-0.parquet' (FORMAT PARQUET)"
                    )
                # the triples queries read ``{out}/**``; the dedup queries
                # read ``{out}/pairs`` and ``{out}/simhash``
                target = os.path.join(out, victim) if workload != "dedup" else out
                problems = checker.check(target)
                assert bool(problems) == corrupt, (workload, victim, corrupt, problems)
                print(f"ok  checker {workload}/{victim} "
                      f"{'rejects one dropped row' if corrupt else 'accepts the oracle rows'}")
        checker.close()


def check_error_counter() -> None:
    log = "\n".join([
        "25/10/17 03:30:01 WARN Utils: Service 'SparkUI' could not bind",
        f"{layers.SPAN_MARK} begin dedup exact_jaccard",
        "[Stage 7:=====>   (1 + 3) / 4]25/10/17 03:30:02 ERROR DAGScheduler: "
        "Failed to update accumulator 5127 (Unknown class) for task 14",
        "25/10/17 03:30:02 ERROR DAGScheduler: Failed to update accumulator 5128 "
        "(Unknown class) for task 15\r[Stage 7:=======> (2 + 2) / 4]",
        f"{layers.SPAN_MARK} end dedup exact_jaccard",
        "25/10/17 03:30:03 ERROR Executor: Exception in task 0.0 in stage 9.0",
    ])
    counts = layers.error_lines(log)
    assert counts == {"dedup": 2, "none": 1, "*": 3}, counts
    print("ok  ERROR lines counted per span:", counts)


def check_runs() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    expected = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    for workload in (w["name"] for w in bench["workloads"]):
        for trace in (0, 1):
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                 "--seed", "0", "--seconds", "1", "--trace", str(trace),
                 "--docs", str(TINY_DOCS)],
                capture_output=True, text=True, timeout=180, cwd=ROOT,
            )
            assert proc.returncode == 0, proc.stderr[-3000:]
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            assert sorted(result) == ["attempted", "correct", "failed", "metrics"], result
            assert result["correct"] and result["failed"] == 0, proc.stdout
            units = {k: v["unit"] for k, v in result["metrics"].items()}
            assert units == expected[trace], set(units) ^ set(expected[trace])
            line = next(ln for ln in proc.stdout.splitlines() if ln.startswith("sampled processes "))
            sampled = json.loads(line.split(" ", 2)[2])
            for kind in ("java", "pyspark daemon", "pyspark worker"):
                assert sampled.get(kind, 0) >= 1, (kind, sampled)
            print(f"ok  {workload} --trace {trace}: {len(units)} metrics with units, "
                  f"{result['attempted']} outputs correct, sampled {sampled}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", action="store_true", help="also run every workload at a tiny size")
    a = ap.parse_args()
    state = os.path.join(ROOT, ".perfbench_run")
    os.makedirs(state, exist_ok=True)
    tmp = tempfile.mkdtemp(dir=state)
    try:
        check_rejects_corruption(tmp)
    finally:
        shutil.rmtree(tmp)
    check_error_counter()
    if a.runs:
        check_runs()
    return 0


if __name__ == "__main__":
    sys.exit(main())
