"""Benchmark of the autoextraction_spark engine: one run of one workload.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 14 --trace 0

Workloads (``BENCHMARK.json`` says why each exists):

- ``extract``: fused stages A-D (``corpus.doc_skeleton`` →
  ``slot_fill.episodes_from_skeleton`` → ``output.completed_filter`` →
  ``output.to_triples``), triples written as parquet;
- ``dedup``: ``dedup.minhash_dup_pairs(threshold=0.8)`` plus
  ``dedup.simhash64``, both written as parquet.

Each run generates its input from ``--seed`` (cached under
``.perfbench_run/data`` by seed and size, outside every timing), computes the
expected output with the package's DuckDB oracle, then starts ``measure.py``
in a fresh process at ``local[<cpus>]`` with one client, and samples the
resident memory of that process and all its descendants (the driver JVM, the
Python worker daemon and the workers it forks) from ``/proc``. Every timed operation's output is checked against the oracle: row
count, then the rows. An operation that fails or is wrong counts in
``failed``, so ``fail_ratio`` is ``failed / attempted``.

With ``--trace 0`` the last line of stdout carries the end-to-end metrics:

- ``setup_s``: ``session.get_spark`` plus the first pandas-UDF job (the one
  that spawns the Python worker pool) in the fresh process, JVM launch
  included: what a new spark-submit job pays before its first operation;
- ``docs_per_s``: input documents ÷ the median wall of the timed operations;
- ``peak_rss_mb``: peak resident memory of the measured process tree, in MiB.

With ``--trace 1`` it carries the per-layer metrics of ``layers.py``: half
of the loop runs untraced, half in a session with Spark's event log on and
every job labelled with its layer, and the workload is then replayed one
public call per span. The extract workload's replay also runs the staged
``KgPipeline`` path and ``KgPipeline.run`` (fresh, then resumed after its
``linking_map`` and ``canonical`` stages are removed) on a 2k-doc corpus
from the same seed, whose canonical outputs are checked like the rest. The
tracing overhead is the traced minus the untraced ``docs_per_s``; the replay
time that no span covers is ``trace.unattributed_s``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: documents per workload, sized so that a run (set-up, warm-up, a closed
#: loop of several operations) takes about a minute on 4 cores
WORKLOADS = {"extract": 160_000, "dedup": 10_000}
#: untimed operations before the timed loop: the first operation in a fresh
#: JVM is 1.5 (extract) to 2.5 (dedup) times slower than the next (plan
#: compilation, JIT), and dedup's JVM-compiled plans keep speeding up after
WARMUP_OPS = {"extract": 1, "dedup": 2}
#: the traced KgPipeline replay's corpus (extract workload)
KG_DOCS = 2_000

#: every run must end within 180 s; the measured process gets what is left
RUN_LIMIT_S = 170.0
SAMPLE_EVERY_S = 0.25


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, process group) of every process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        table[int(name)] = (int(fields[1]), int(fields[2]))
    return table


def _proc_tree(root: int, table: dict[int, tuple[int, int]]) -> dict[int, int]:
    """pid -> parent pid of ``root`` and every descendant, whatever its
    process group: pyspark's worker daemon moves itself and the workers it
    forks into a group of their own."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    tree = {root: table[root][0]} if root in table else {}
    todo = [root] if tree else []
    while todo:
        for child in children.get(todo.pop(), []):
            tree[child] = table[child][0]
            todo.append(child)
    return tree


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _kind(pid: int, ppid: int) -> str | None:
    """``java``, ``pyspark daemon``, ``pyspark worker`` (a Python worker,
    forked by the daemon or started on its own) or ``other``; None once the
    process has exited and its command line is gone."""
    cmd = _cmdline(pid)
    if not cmd:
        return None
    if "pyspark.daemon" in cmd:
        # the daemon forks every worker, and a fork keeps its command line
        return "pyspark worker" if "pyspark.daemon" in _cmdline(ppid) else "pyspark daemon"
    if "pyspark.worker" in cmd:
        return "pyspark worker"
    return "java" if cmd.split(" ", 1)[0].endswith("java") else "other"


#: kcmp(2) syscall numbers; KCMP_VM asks whether two processes share memory
_SYS_KCMP = {"x86_64": 312, "aarch64": 272}.get(os.uname().machine)
_KCMP_VM = 1
_libc = ctypes.CDLL(None, use_errno=True)


def _shares_parent_memory(pid: int, ppid: int) -> bool:
    """True for a child spawned with CLONE_VM that has not exec'ed yet (the
    JVM launches subprocesses this way): it maps the parent's pages, and
    counting its RSS would count the JVM twice."""
    return _SYS_KCMP is not None and _libc.syscall(_SYS_KCMP, ppid, pid, _KCMP_VM, 0, 0) == 0


def _resident_bytes(members: dict[int, int]) -> int:
    """Resident memory of the process tree. Python processes count their
    proportional set size, so the pages a forked Python worker still shares
    with its parent count once; the JVM (which shares nothing, and whose
    smaps walk is slow) counts its RSS."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid, ppid in members.items():
        if ppid in members and _shares_parent_memory(pid, ppid):
            continue
        try:
            with open(f"/proc/{pid}/comm") as f:
                jvm = f.read().strip() == "java"
            if jvm:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * page
                continue
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


def _reap(groups: set[int]) -> None:
    """Stop whatever is left of the measured process groups (the measured
    process's, and the worker daemon's even once it has lost its parent)
    and wait until every member has exited."""
    def alive() -> set[int]:
        return {pgid for _, pgid in _proc_table().values()} & groups

    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        for pgid in alive():
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while alive() and time.monotonic() < deadline:
            time.sleep(0.1)


class Sampled:
    """What the memory sampler saw of the measured process tree."""

    def __init__(self):
        self.peak = 0
        self.groups: set[int] = set()
        self.kinds: dict[int, str] = {}

    def sample(self, root: int) -> None:
        table = _proc_table()
        tree = _proc_tree(root, table)
        self.groups.update(table[pid][1] for pid in tree if pid in table)
        for pid, ppid in tree.items():
            # classified again on every sample: a child of the JVM is a
            # copy of it until it execs
            kind = _kind(pid, ppid)
            if kind:
                self.kinds[pid] = kind
        self.peak = max(self.peak, _resident_bytes(tree))

    def counts(self) -> dict[str, int]:
        """Distinct processes sampled, per kind."""
        return dict(Counter(self.kinds.values()))


def measure(args: list[str], log_path: str, env: dict, limit_s: float) -> tuple[int, Sampled]:
    """Run ``measure.py`` in its own process group; returns its exit code
    and what was sampled of its process tree: the peak summed resident
    memory and the processes seen."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "measure.py"), *args],
            stdout=log, stderr=subprocess.STDOUT, env=env, cwd=ROOT,
            start_new_session=True,
        )
    sampled = Sampled()
    sampled.groups.add(proc.pid)
    deadline = time.monotonic() + limit_s
    try:
        while proc.poll() is None:
            sampled.sample(proc.pid)
            if time.monotonic() > deadline:
                print(f"measured process exceeded {limit_s:.0f} s", file=sys.stderr)
                _reap(sampled.groups)
                proc.wait()
                return -1, sampled
            time.sleep(SAMPLE_EVERY_S)
    finally:
        _reap(sampled.groups)
    return proc.returncode, sampled


def _rate(parts: list[dict], n_docs: int) -> float:
    return n_docs / statistics.median([p["wall_s"] for p in parts if not p.get("failed")])


def end_to_end(res: dict, n_docs: int, peak: int) -> dict[str, tuple[float, str]]:
    setup = res["setup"]
    return {
        "setup_s": (setup["boot_s"] + setup["worker_warm_s"], "s"),
        "docs_per_s": (_rate(res["parts"], n_docs), "docs/s"),
        "peak_rss_mb": (peak / 2**20, "MiB"),
    }


def per_layer(res: dict, n_docs: int, errors: dict[str, int]) -> dict[str, tuple[float, str]]:
    import layers

    units = layers.per_layer_units()
    values: dict[str, float] = {name: 0 for name in units}
    values["session.boot_s"] = res["setup"]["boot_s"]
    values["session.worker_warm_s"] = res["setup"]["worker_warm_s"]
    values["session.error_lines"] = errors.get("*", 0)
    for layer in layers.LAYERS[1:]:
        values[f"{layer}.error_lines"] = errors.get(layer, 0)
    values.update(res["layer"])
    replay = res["replay_spans"]
    for span in replay:
        metric = layers.SPAN_METRICS.get((span["layer"], span["name"]))
        if metric:
            values[metric] += span["wall_s"]
    values["trace.unattributed_s"] = res["replay_wall_s"] - sum(s["wall_s"] for s in replay)
    values["trace.overhead_docs_per_s"] = _rate(res["traced_parts"], n_docs) - _rate(res["parts"], n_docs)
    folded = layers.fold_event_log(res["event_dir"])
    values.update(layers.engine_metrics(folded, res["spans"], res["cpus"]))
    return {name: (values[name], unit) for name, unit in units.items()}


class Run:
    """One invocation of ``measure.py`` under ``.perfbench_run/work``."""

    def __init__(self, state: str, tag: str):
        self.work = os.path.join(state, "work", tag)
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        tmp = os.path.join(self.work, "tmp")
        self.env = dict(os.environ)
        self.env.update({
            "SPARK_LOCAL_DIRS": os.path.join(self.work, "spark-local"),
            "TMPDIR": tmp,
            "PYTHONUNBUFFERED": "1",
            # every JVM that spark-submit starts (its launcher and the
            # driver) keeps its scratch files in the work directory
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        })
        self.log_path = os.path.join(self.work, "spark.log")
        self.res: dict = {}
        self.sampled = Sampled()

    def go(self, args: list[str], limit_s: float) -> bool:
        out = os.path.join(self.work, "measure.json")
        code, self.sampled = measure(
            [*args, "--work", self.work, "--out", out], self.log_path, self.env, limit_s
        )
        if code != 0:
            with open(self.log_path, errors="replace") as f:
                sys.stderr.write(f.read()[-4000:])
            print(f"measured process failed with exit code {code}", file=sys.stderr)
            return False
        with open(out) as f:
            self.res = json.load(f)
        return True

    def errors(self) -> dict[str, int]:
        import layers

        with open(self.log_path, errors="replace") as f:
            return layers.error_lines(f.read())


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--docs", type=int, default=None,
                    help="override the workload's document count (self-test)")
    a = ap.parse_args()
    started = time.monotonic()

    if not os.path.exists(os.path.join(ROOT, "autoextraction_spark", "__init__.py")):
        print(f"no autoextraction_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import gen
    from check import Checker

    n_docs = a.docs or WORKLOADS[a.workload]
    state = os.path.join(ROOT, ".perfbench_run")
    corpus = os.path.join(state, "data")
    data = gen.ensure(corpus, a.seed, n_docs)
    args = ["--workload", a.workload, "--data", data, "--seconds", str(a.seconds),
            "--warmup-ops", str(WARMUP_OPS[a.workload])]
    kg_data = None
    if a.trace and a.workload == "extract":
        kg_data = gen.ensure(corpus, a.seed, min(KG_DOCS, n_docs))
        args += ["--kg-data", kg_data]
    checker = Checker(a.workload, data)

    run = Run(state, a.workload)
    if not run.go([*args, "--trace", str(a.trace)], RUN_LIMIT_S - (time.monotonic() - started)):
        return 1
    res = run.res
    loops = [res["parts"]] + ([res["traced_parts"]] if a.trace else [])
    if any(all(p.get("failed") for p in loop) for loop in loops):
        print(f"no timed operation succeeded; see {run.log_path}", file=sys.stderr)
        return 1
    # every timed operation's output, and in a traced run the replay's
    outputs = [(checker, p["out"], p.get("failed", False)) for loop in loops for p in loop]
    if "dedup_out" in res:
        outputs.append((checker, res["dedup_out"], False))
    if kg_data:
        kg_checker = Checker("kg_job", kg_data)
        outputs += [(kg_checker, out, False) for out in res["kg_outs"]]
    failed = 0
    for chk, out, raised in outputs:
        problems = ["the operation raised"] if raised else chk.check(out)
        if problems:
            failed += 1
            print(f"WRONG output {out}: {'; '.join(problems)}")
    errors = run.errors()

    if a.trace:
        metrics = per_layer(res, n_docs, errors)
    else:
        metrics = end_to_end(res, n_docs, run.sampled.peak)
    print(f"perfbench {a.workload} seed={a.seed} docs={n_docs} cpus={res['cpus']} "
          f"trace={a.trace} timed ops (s)={[round(p['wall_s'], 3) for p in res['parts']]}")
    print(f"  set-up: get_spark {res['setup']['boot_s']:.3f} s, "
          f"worker pool {res['setup']['worker_warm_s']:.3f} s")
    print("sampled processes " + json.dumps(run.sampled.counts(), sort_keys=True))
    for name, (value, unit) in metrics.items():
        print(f"  {name} {value:.6g} {unit}")
    print(f"  fail_ratio {failed / len(outputs):.6g} ratio ({failed} of {len(outputs)} failed)")
    print(f"  error_lines {errors.get('*', 0)} count (per span: {errors})")
    print("provenance " + json.dumps({
        "cpus": res["cpus"],
        "pyspark": _pyspark_version(),
        "SPARK_LOCAL_DIRS": run.env["SPARK_LOCAL_DIRS"],
        "conf": {k: v for k, v in res["conf"].items() if k not in _PER_RUN_CONF},
    }, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(outputs),
        "failed": failed,
        "metrics": {name: {"value": value, "unit": unit} for name, (value, unit) in metrics.items()},
    }))
    return 0


#: conf entries that differ on every run
_PER_RUN_CONF = {"spark.app.id", "spark.app.startTime", "spark.app.submitTime",
                 "spark.driver.host", "spark.driver.port", "spark.executor.id"}


def _pyspark_version() -> str:
    import pyspark

    return pyspark.__version__


if __name__ == "__main__":
    sys.exit(main())
