"""The measured process of one benchmark run.

``run.py`` starts this script in a fresh process, samples the memory of its
process tree, and reads back the JSON it writes to ``--out``. This process:

1. sets up Spark: ``session.get_spark`` plus the first pandas-UDF job, which
   spawns the Python worker pool. This set-up launches the JVM;
2. runs ``--warmup-ops`` untimed operations on the same input, so the JIT
   has compiled the workload's plans;
3. runs the workload's operation closed loop (one at a time, one client)
   until ``--seconds`` have passed, writing every output under ``--work`` for
   ``run.py`` to check against the DuckDB oracle.

With ``--trace 1`` the loop gets half of ``--seconds``. The SparkContext is
then restarted inside the running JVM with Spark's event log on, every job
is labelled with its span's layer, and the warm-up and the other half of the
loop run again, traced. The
workload is then replayed one public call per span, each forced and
materialized. The extract workload's replay also runs the staged
``KgPipeline`` path on ``--kg-data``.

Spans are announced on stderr (``layers.SPAN_MARK``) so that ``run.py`` can
attribute the Spark log's ERROR lines to the span that was active.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from layers import SPAN_MARK  # noqa: E402

#: the driver heap cap. With the package default (16g, more than a small
#: machine has) the heap grows by GC heuristics, and peak RSS varied by a
#: factor of two between identical runs
DRIVER_MEMORY = "2g"
POLICY = "rl"
DEDUP_THRESHOLD = 0.8


def _identity(batches):
    yield from batches


class Spans:
    """Wall-clock spans around public calls.

    Each span is announced on stderr so ERROR lines in the Spark log can be
    attributed to it. While ``label_jobs`` is set, the span's layer is also
    the Spark job group, so the event log's task rows fold back onto it."""

    def __init__(self):
        self.label_jobs = False
        self.rows: list[dict] = []

    @staticmethod
    def _mark(what: str, layer: str, name: str) -> None:
        print(f"\n{SPAN_MARK} {what} {layer} {name}", file=sys.stderr, flush=True)

    @contextmanager
    def span(self, layer: str, name: str):
        from pyspark import SparkContext

        self._mark("begin", layer, name)
        # a set-up's span starts before its context exists, so the job
        # group is set per span on whichever context is active then
        sc = SparkContext._active_spark_context
        if self.label_jobs and sc is not None:
            sc.setJobGroup(layer, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            sc = SparkContext._active_spark_context
            if self.label_jobs and sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.rows.append(
                {"layer": layer, "name": name, "wall_s": wall, "labelled": self.label_jobs}
            )
            self._mark("end", layer, name)


# ------------------------------------------------------------------ set-up
def set_up(extra_conf: dict[str, str], cpus: int, spans: Spans):
    """``get_spark`` plus the first pandas-UDF job; returns the session and
    the two walls."""
    from autoextraction_spark.session import get_spark

    with spans.span("session", "get_spark"):
        t0 = time.perf_counter()
        spark = get_spark(
            app_name="perfbench", cpus=cpus, driver_memory=DRIVER_MEMORY, extra_conf=extra_conf
        )
        boot = time.perf_counter() - t0
    with spans.span("session", "worker_pool"):
        t0 = time.perf_counter()
        spark.range(0, 4 * cpus, 1, cpus).mapInPandas(_identity, "id long").count()
        warm = time.perf_counter() - t0
    return spark, boot, warm


def shut_down(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


# -------------------------------------------------------------- operations
def extract_op(spark, data: str, out: str) -> None:
    """Fused stages A-D: skeleton → one Python hop → completed → triples."""
    from autoextraction_spark import corpus
    from autoextraction_spark.operators import output, slot_fill

    skel = corpus.doc_skeleton(spark, data)
    states = slot_fill.episodes_from_skeleton(skel, policy=POLICY, dedup_assignments=True)
    triples = output.to_triples(output.completed_filter(states), assume_unique=True)
    triples.write.mode("overwrite").parquet(out)


def dedup_op(spark, data: str, out: str) -> None:
    """MinHash/LSH near-duplicate pairs plus SimHash signatures."""
    from autoextraction_spark.operators import dedup

    docs = spark.read.parquet(f"{data}/documents.parquet")
    pairs = dedup.minhash_dup_pairs(docs, "doc_id", "text", threshold=DEDUP_THRESHOLD)
    pairs.write.mode("overwrite").parquet(os.path.join(out, "pairs"))
    dedup.simhash64(docs, "doc_id", "text").write.mode("overwrite").parquet(
        os.path.join(out, "simhash")
    )


OPS = {"extract": extract_op, "dedup": dedup_op}


def closed_loop(workload, spark, data, work, seconds, spans, tag) -> list[dict]:
    """Operations one after another until ``seconds`` have passed; returns
    each one's wall and output directory."""
    parts: list[dict] = []
    deadline = time.perf_counter() + seconds
    while True:
        out = os.path.join(work, f"{tag}{len(parts)}")
        with spans.span("loop", workload):
            t0 = time.perf_counter()
            try:
                OPS[workload](spark, data, out)
                parts.append({"wall_s": time.perf_counter() - t0, "out": out})
            except Exception:
                # a failed operation is counted, not fatal
                traceback.print_exc()
                parts.append({"wall_s": time.perf_counter() - t0, "out": out, "failed": True})
        if time.perf_counter() >= deadline:
            return parts


# ------------------------------------------------------------ layer replay
def _force(df):
    """Materialize ``df`` (every column computed) and return it with its
    row count; later spans read the materialized rows."""
    df = df.localCheckpoint(eager=True)
    return df, df.count()


def replay_extract(spark, data: str, spans: Spans, m: dict) -> None:
    from autoextraction_spark import corpus
    from autoextraction_spark.operators import output, slot_fill

    with spans.span("corpus", "doc_skeleton"):
        skel, _ = _force(corpus.doc_skeleton(spark, data))
    m["corpus.skeleton_parts"] = skel.rdd.getNumPartitions()
    with spans.span("slot_fill", "episodes_from_skeleton"):
        states, m["slot_fill.states"] = _force(
            slot_fill.episodes_from_skeleton(skel, policy=POLICY, dedup_assignments=True)
        )
    with spans.span("output", "to_triples"):
        done, n_done = _force(output.completed_filter(states))
        _, m["output.triples"] = _force(output.to_triples(done, assume_unique=True))
    m["slot_fill.completed_ratio"] = n_done / max(m["slot_fill.states"], 1)


def replay_kg(spark, data: str, work: str, spans: Spans, m: dict) -> list[str]:
    """The staged path that ``KgPipeline`` runs, one public call per span,
    then ``KgPipeline.run`` itself: fresh into an empty workdir, and resumed
    after its linking_map and canonical stage directories are removed (a job
    killed during linking). Returns the fresh and the resumed canonical
    output directories."""
    from pyspark.sql import functions as F

    from autoextraction_spark import corpus
    from autoextraction_spark.operators import (
        canonicalize, detect, linking, output, slot_fill,
    )
    from autoextraction_spark.operators.text_extract import with_extracted_text
    from autoextraction_spark.pipeline import STAGES, KgPipeline

    # skeleton and triples spans carry a "[kg]" name so that the extract
    # replay's fused-path timings stay separate
    with spans.span("corpus", "doc_skeleton[kg]"):
        skel, _ = _force(corpus.doc_skeleton(spark, data))
    with spans.span("corpus", "pages_from_skeleton"):
        pages, _ = _force(corpus.pages_from_skeleton(skel))
    with spans.span("text_extract", "with_extracted_text"):
        txt, _ = _force(with_extracted_text(pages))
    with spans.span("detect", "detect_relations"):
        det, m["detect.pairs"] = _force(detect.detect_relations(txt))
    with spans.span("slot_fill", "ordered_slot_fill"):
        states, _ = _force(
            slot_fill.ordered_slot_fill(
                det, policy=POLICY, carry_text=False, dedup_assignments=True
            )
        )
    with spans.span("output", "to_triples[kg]"):
        done, _ = _force(output.completed_filter(states))
        triples, _ = _force(output.to_triples(done, assume_unique=True))
    useful = triples.select("url", "pred").distinct().count()
    m["detect.useful_ratio"] = useful / max(m["detect.pairs"], 1)
    with spans.span("linking", "mention_vocab"):
        vocab, m["linking.vocab_rows"] = _force(linking.mention_vocab(triples))
    with spans.span("linking", "canonical_mapping"):
        mapping, _ = _force(linking.canonical_mapping(vocab))
    with spans.span("linking", "variant_edges"):
        edges, m["linking.edges"] = _force(linking.variant_edges(vocab))
    with spans.span("canonicalize", "connected_components"):
        comps, _ = _force(canonicalize.connected_components(edges))
    m["canonicalize.components"] = comps.select(F.countDistinct("component")).first()[0]
    with spans.span("linking", "canonical_triples"):
        _force(linking.canonical_triples(triples, mapping))

    wd = os.path.join(work, "pipeline")
    with spans.span("pipeline", "run_fresh"):
        KgPipeline(spark, data, wd, policy=POLICY).run(resume=True)
    for stage in STAGES:
        with open(os.path.join(wd, f"manifest_{stage}.json")) as f:
            m[f"pipeline.stage_s.{stage}"] = json.load(f)["wall_sec"]
    m["pipeline.checkpoint_bytes"] = sum(
        _tree_bytes(os.path.join(wd, f"stage={stage}")) for stage in STAGES
    )
    m["pipeline.write_amp"] = m["pipeline.checkpoint_bytes"] / os.path.getsize(
        f"{data}/documents.parquet"
    )
    # the fresh canonical output is moved aside, not deleted, to be checked
    fresh = os.path.join(wd, "fresh_canonical")
    shutil.rmtree(os.path.join(wd, "stage=linking_map"))
    os.rename(os.path.join(wd, "stage=canonical"), fresh)
    before = {s: os.stat(os.path.join(wd, f"manifest_{s}.json")).st_mtime_ns for s in STAGES}
    with spans.span("pipeline", "run_resume"):
        t0 = time.perf_counter()
        KgPipeline(spark, data, wd, policy=POLICY).run(resume=True)
        m["pipeline.resume_s"] = time.perf_counter() - t0
    # a stage that re-ran rewrote its manifest
    m["pipeline.resume_stages_rerun"] = sum(
        os.stat(os.path.join(wd, f"manifest_{s}.json")).st_mtime_ns != before[s] for s in STAGES
    )
    return [fresh, os.path.join(wd, "stage=canonical")]


def replay_dedup(spark, data: str, spans: Spans, m: dict):
    """The MinHash dedup operator one stage per span, then SimHash; returns
    the verified pairs and the signatures (materialized)."""
    from pyspark.sql import functions as F

    from autoextraction_spark.operators import dedup

    docs = spark.read.parquet(f"{data}/documents.parquet")
    with spans.span("dedup", "shingle_sets"):
        sets, _ = _force(
            dedup.shingle_sets(docs, "doc_id", dedup.word_shingles(F.col("text"), 3))
        )
    with spans.span("dedup", "minhash_signature_from_sets"):
        sig, _ = _force(dedup.minhash_signature_from_sets(sets))
    with spans.span("dedup", "lsh_candidate_pairs"):
        cands, m["dedup.candidates"] = _force(dedup.lsh_candidate_pairs(sig))
    with spans.span("dedup", "exact_jaccard"):
        pairs, m["dedup.verified"] = _force(
            dedup.exact_jaccard(cands, None, DEDUP_THRESHOLD, sets=sets).filter(
                F.col("jaccard") >= DEDUP_THRESHOLD
            )
        )
    m["dedup.verify_ratio"] = m["dedup.verified"] / max(m["dedup.candidates"], 1)
    with spans.span("dedup", "simhash64"):
        simhash, _ = _force(dedup.simhash64(docs, "doc_id", "text"))
    return pairs, simhash


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


# -------------------------------------------------------------------- main
def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(OPS))
    ap.add_argument("--data", required=True)
    ap.add_argument("--kg-data", help="corpus of the traced KgPipeline replay (extract)")
    ap.add_argument("--warmup-ops", type=int, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    cpus = len(os.sched_getaffinity(0))
    spans = Spans()

    def warm_up() -> None:
        with spans.span("warmup", a.workload):
            for i in range(a.warmup_ops):
                OPS[a.workload](spark, a.data, os.path.join(a.work, f"warmup{i}"))

    spark, boot, warm = set_up({}, cpus, spans)
    result: dict = {
        "cpus": cpus,
        "conf": dict(spark.sparkContext.getConf().getAll()),
        "setup": {"boot_s": boot, "worker_warm_s": warm},
    }
    warm_up()
    loop_s = a.seconds / 2 if a.trace else a.seconds
    result["parts"] = closed_loop(a.workload, spark, a.data, a.work, loop_s, spans, "op")
    if a.trace:
        evdir = os.path.join(a.work, "eventlog")
        os.makedirs(evdir)
        spans.label_jobs = True
        spark.stop()
        spark, _, _ = set_up({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }, cpus, spans)
        warm_up()
        result["traced_parts"] = closed_loop(
            a.workload, spark, a.data, a.work, loop_s, spans, "traced"
        )
        layer: dict = {}
        n_before = len(spans.rows)
        t0 = time.perf_counter()
        if a.workload == "extract":
            replay_extract(spark, a.data, spans, layer)
            result["kg_outs"] = replay_kg(spark, a.kg_data, a.work, spans, layer)
        else:
            pairs, simhash = replay_dedup(spark, a.data, spans, layer)
        result["replay_wall_s"] = time.perf_counter() - t0
        result["replay_spans"] = spans.rows[n_before:]
        result["layer"] = layer
        result["event_dir"] = evdir
        if a.workload == "dedup":
            # the replay's own output, checked like a loop operation's
            result["dedup_out"] = os.path.join(a.work, "replay")
            pairs.write.parquet(os.path.join(result["dedup_out"], "pairs"))
            simhash.write.parquet(os.path.join(result["dedup_out"], "simhash"))
    result["spans"] = spans.rows
    shut_down(spark)
    with open(a.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
