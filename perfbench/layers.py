"""Per-layer folding for the traced run: ERROR lines per span from the Spark
log, and Spark task metrics per job-group label from the event log.

The measured process announces each span on stderr with ``SPAN_MARK`` and,
while tracing, makes the span's layer the Spark job group. Both are folded
here, outside the measured process.
"""

from __future__ import annotations

import glob
import json
import re
from collections import defaultdict

SPAN_MARK = "PERFBENCH-SPAN"
#: log4j's console layout: ``yy/MM/dd HH:mm:ss LEVEL Logger: message``
_ERROR_RE = re.compile(r"\d\d:\d\d:\d\d ERROR ")

#: the layers, named after the package's modules, in pipeline order
LAYERS = [
    "session", "corpus", "text_extract", "detect", "slot_fill", "output",
    "linking", "canonicalize", "pipeline", "dedup",
]
ENGINE = {
    "jobs": "count",
    "tasks": "count",
    "task_run_s": "s",
    "task_cpu_s": "s",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "gap_s": "s",
}


#: (layer, public call) of a replay span -> the per-layer timing it gives
SPAN_METRICS = {
    ("corpus", "doc_skeleton"): "corpus.skeleton_s",
    ("corpus", "pages_from_skeleton"): "corpus.pages_s",
    ("text_extract", "with_extracted_text"): "text_extract.s",
    ("detect", "detect_relations"): "detect.s",
    ("slot_fill", "episodes_from_skeleton"): "slot_fill.fused_s",
    ("slot_fill", "ordered_slot_fill"): "slot_fill.staged_s",
    ("output", "to_triples"): "output.to_triples_s",
    ("linking", "mention_vocab"): "linking.vocab_s",
    ("linking", "canonical_mapping"): "linking.mapping_s",
    ("linking", "canonical_triples"): "linking.canonical_s",
    ("canonicalize", "connected_components"): "canonicalize.cc_s",
    ("dedup", "shingle_sets"): "dedup.shingle_s",
    ("dedup", "minhash_signature_from_sets"): "dedup.signature_s",
    ("dedup", "lsh_candidate_pairs"): "dedup.lsh_s",
    ("dedup", "exact_jaccard"): "dedup.verify_s",
    ("dedup", "simhash64"): "dedup.simhash_s",
}
STAGES = ["pages", "text", "detected", "triples", "linking_map", "canonical"]


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order. A layer
    that a workload does not call reports 0 for it."""
    units = {
        "session.boot_s": "s",
        "session.worker_warm_s": "s",
        "session.error_lines": "count",
        "corpus.skeleton_parts": "count",
        "detect.pairs": "count",
        "detect.useful_ratio": "ratio",
        "slot_fill.states": "count",
        "slot_fill.completed_ratio": "ratio",
        "output.triples": "count",
        "linking.vocab_rows": "count",
        "linking.edges": "count",
        "canonicalize.components": "count",
        **{f"pipeline.stage_s.{s}": "s" for s in STAGES},
        "pipeline.checkpoint_bytes": "bytes",
        "pipeline.write_amp": "ratio",
        "pipeline.resume_s": "s",
        "pipeline.resume_stages_rerun": "count",
        "dedup.candidates": "count",
        "dedup.verified": "count",
        "dedup.verify_ratio": "ratio",
        "trace.unattributed_s": "s",
        "trace.overhead_docs_per_s": "docs/s",
    }
    units.update({name: "s" for name in SPAN_METRICS.values()})
    for layer in LAYERS:
        units.update({f"{layer}.{name}": unit for name, unit in ENGINE.items()})
        if layer != "session":
            units[f"{layer}.error_lines"] = "count"
    return dict(sorted(units.items(), key=lambda kv: (_layer_rank(kv[0]), kv[0])))


def _layer_rank(name: str) -> int:
    head = name.split(".")[0]
    return LAYERS.index(head) if head in LAYERS else len(LAYERS)


def error_lines(log_text: str) -> dict[str, int]:
    """ERROR lines per active span layer (``none`` outside every span) and
    in total (``*``). The console progress bar rewrites its line with
    carriage returns, so both ``\\r`` and ``\\n`` end a line."""
    counts: dict[str, int] = defaultdict(int)
    active = "none"
    for line in re.split(r"[\r\n]", log_text):
        if line.startswith(SPAN_MARK):
            _, what, layer, _ = line.split(" ", 3)
            active = layer if what == "begin" else "none"
        elif _ERROR_RE.search(line):
            counts[active] += 1
            counts["*"] += 1
    return dict(counts)


def fold_event_log(event_dir: str) -> dict[str, dict[str, float]]:
    """Jobs and task metrics per job-group label, over every application
    log in ``event_dir``."""
    rows: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in glob.glob(f"{event_dir}/*"):
        stage_label: dict[int, str] = {}
        with open(path) as f:
            for raw in f:
                ev = json.loads(raw)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    label = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if not label:
                        continue
                    rows[label]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_label.setdefault(sid, label)
                elif kind == "SparkListenerTaskEnd":
                    label = stage_label.get(ev.get("Stage ID"))
                    metrics = ev.get("Task Metrics")
                    if label is None or not metrics:
                        continue
                    row = rows[label]
                    row["tasks"] += 1
                    row["task_run_s"] += metrics.get("Executor Run Time", 0) / 1e3
                    row["task_cpu_s"] += metrics.get("Executor CPU Time", 0) / 1e9
                    row["shuffle_write_bytes"] += (
                        metrics.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    )
                    row["spill_bytes"] += metrics.get("Disk Bytes Spilled", 0)
    return {k: dict(v) for k, v in rows.items()}


def engine_metrics(
    folded: dict[str, dict[str, float]], spans: list[dict], cpus: int
) -> dict[str, float]:
    """``<layer>.<engine metric>`` for every layer; ``gap_s`` is the layer's
    labelled span wall minus its summed task run time spread over the
    cores (driver work, scheduling and idle cores)."""
    wall: dict[str, float] = defaultdict(float)
    for s in spans:
        if s["labelled"]:
            wall[s["layer"]] += s["wall_s"]
    out = {}
    for layer in LAYERS:
        row = folded.get(layer, {})
        for name in ENGINE:
            if name == "gap_s":
                value = wall[layer] - row.get("task_run_s", 0.0) / cpus if layer in wall else 0.0
            else:
                value = row.get(name, 0)
            out[f"{layer}.{name}"] = value
    return out
