"""Per-layer metrics of a traced run, from its spans and Spark's event log.

Each metric is named after the engine module it measures; BENCHMARK.json
maps every one to the end-to-end metric and workload it should move.
"""

from __future__ import annotations

import statistics

import numpy as np

from stages import profile_calls

# Spark calls: (span label, metric prefix, metrics taken from the profile)
SPARK_CALLS = [
    ("build_index", "indexer", ("exec_core_s", "task_p50_s", "task_max_s", "shuffle_write_bytes", "spill_bytes", "driver_s")),
    ("build_positions", "phrase_build", ("exec_core_s", "task_max_s", "shuffle_write_bytes", "driver_s")),
    ("build_bigrams", "bigram", ("exec_core_s", "task_max_s", "shuffle_write_bytes", "driver_s")),
    ("append_index", "append", ("exec_core_s", "stages", "driver_s")),
    ("compact_index", "compact", ("exec_core_s", "task_max_s", "shuffle_write_bytes", "spill_bytes", "jobs", "driver_s")),
    ("build_ivf_index", "ivf", ("exec_core_s", "jobs", "driver_s")),
]

SERVE_LAYERS = {   # operation span -> its layer spans
    "serve.single": ("tokenize", "wand.fetch", "wand.score"),
    "serve.group": ("tokenize", "group.fetch", "group.score"),
    "serve.phrase": ("tokenize", "phrase.topk"),
}


def _ms(spans, q):
    return float(np.percentile([(s["end"] - s["start"]) * 1000.0 for s in spans], q)) if spans else 0.0


def _mean(vals):
    return statistics.fmean(vals) if vals else 0.0


def serve_layers(tracer, n_parts: int) -> dict[str, float]:
    by: dict[str, list[dict]] = {}
    for s in tracer.spans:
        if s["op_id"] is not None:   # inside a serve operation
            by.setdefault(s["name"], []).append(s)
    tok = by.get("tokenize", [])
    out = {"tokenize.us_p50": statistics.median((s["end"] - s["start"]) * 1e6 for s in tok) if tok else 0.0}
    for layer in ("wand", "group"):
        fetch, score = by.get(layer + ".fetch", []), by.get(layer + ".score", [])
        out[f"{layer}.fetch_ms_p50"] = _ms(fetch, 50)
        out[f"{layer}.fetch_ms_p99"] = _ms(fetch, 99)
        out[f"{layer}.score_ms_p50"] = _ms(score, 50)
        out[f"{layer}.score_ms_p99"] = _ms(score, 99)
        out[f"{layer}.posting_rows"] = _mean([s["posting_rows"] for s in fetch])
    gs = by.get("group.score", [])
    total = sum(s.get("n_blocks_total", 0) for s in gs)
    out["group.parts"] = n_parts
    out["group.blocks_decoded_ratio"] = sum(s.get("n_blocks_decoded", 0) for s in gs) / total if total else 0.0
    ph = by.get("phrase.topk", [])
    cand = sum(s.get("n_candidates", 0) for s in ph)
    out["phrase.candidates"] = _mean([s.get("n_candidates", 0) for s in ph])
    out["phrase.decoded"] = _mean([s.get("n_decoded", 0) for s in ph])
    out["phrase.decoded_ratio"] = sum(s.get("n_decoded", 0) for s in ph) / cand if cand else 0.0
    out["phrase.pair_units"] = _mean([s.get("n_pair_units", 0) for s in ph])
    return out


def coverage(tracer) -> dict[str, float]:
    """Share of each serve operation's wall time covered by its layers' self time.

    Spark calls are left out: their driver_s is defined as the wall time no
    task covered, so driver_s plus task time accounts for all of it.
    """
    self_t = tracer.self_times()
    kids: dict[int, list[dict]] = {}
    for s in tracer.spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)

    def layer_time(sid, names):
        t = 0.0
        for c in kids.get(sid, []):
            if c["name"] in names:
                t += self_t[c["id"]]
            t += layer_time(c["id"], names)
        return t

    out = {}
    for op, names in SERVE_LAYERS.items():
        wall = cov = 0.0
        for s in tracer.spans:
            if s["name"] == op:
                wall += s["end"] - s["start"]
                cov += layer_time(s["id"], names)
        out[f"coverage.{op}"] = 100.0 * cov / wall if wall else 0.0
    return out


def spark_layers(log_dir: str, walls: dict[str, tuple[float, float]]) -> dict[str, float]:
    # a batch call is its planning call plus the collect that executes it
    labels = {k: v for k, v in walls.items() if not k.endswith((".plan", ".exec"))}
    for name in ("batch32", "batch1024", "phrase_batch", "ann_batch"):
        labels[name] = (walls[name + ".plan"][0], walls[name + ".exec"][1])
    prof = profile_calls(log_dir, labels)
    out: dict[str, float] = {}
    for label, prefix, keys in SPARK_CALLS:
        lo, hi = walls[label]
        out[f"{prefix}.wall_s"] = hi - lo
        for k in keys:
            out[f"{prefix}.{k}"] = prof[label][k]

    def plan_ms(name):
        lo, hi = walls[name + ".plan"]
        return (hi - lo) * 1000.0

    def exec_s(name):
        lo, hi = walls[name + ".exec"]
        return hi - lo

    def shuffle(p):
        return p["shuffle_write_bytes"] + p["shuffle_read_bytes"]

    b32, b1024 = prof["batch32"], prof["batch1024"]
    out.update({
        "batch.plan_ms": plan_ms("batch32"), "batch.jobs": b32["jobs"],
        "batch.stages": b32["stages"], "batch.driver_s": b32["driver_s"],
        "batch.exec_s": exec_s("batch1024"), "batch.tasks": b1024["tasks"],
        "batch.exec_core_s": b1024["exec_core_s"], "batch.shuffle_bytes": shuffle(b1024),
    })
    pb = prof["phrase_batch"]
    out.update({
        "phrase_batch.plan_ms": plan_ms("phrase_batch"), "phrase_batch.exec_s": exec_s("phrase_batch"),
        "phrase_batch.jobs": pb["jobs"], "phrase_batch.stages": pb["stages"],
        "phrase_batch.exec_core_s": pb["exec_core_s"], "phrase_batch.shuffle_bytes": shuffle(pb),
        "phrase_batch.driver_s": pb["driver_s"],
    })
    an = prof["ann_batch"]
    out.update({
        "ann.plan_ms": plan_ms("ann_batch"), "ann.exec_s": exec_s("ann_batch"),
        "ann.jobs": an["jobs"], "ann.exec_core_s": an["exec_core_s"], "ann.driver_s": an["driver_s"],
    })
    return out
