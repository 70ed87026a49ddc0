"""Per-layer metrics of a traced run.

Each workload's traced run produces only the layers it calls; every other
per-layer metric is reported as 0, meaning "this layer did no work on this
workload".  Time metrics are medians over the traced passes.  Event-log
sums (bytes, Python time, jobs) are per pass, then the median over passes.
"""

from __future__ import annotations

import os

from perfbench import trace
from perfbench.stats import median

MB = 1 << 20

# name -> unit, in the order BENCHMARK.json lists them
UNITS = {
    "functions.blocks.page_us": "us",
    "functions.recognize_kernel.ms_per_image": "ms",
    "operators.fused.parse_ms": "ms",
    "operators.fused.recognize_ms": "ms",
    "operators.fused.assemble_ms": "ms",
    "plans.pipeline.extract_s": "s",
    "sources.lineage.overhead_s": "s",
    "sources.lineage.jobs": "count",
    "sources.lineage.scan_amplification": "ratio",
    "sources.lineage.sink_bytes_per_input_byte": "ratio",
    "operators.fused.arrow_to_python_mb": "MB",
    "operators.fused.arrow_from_python_mb": "MB",
    "operators.fused.python_worker_s": "s",
    "operators.dedup.minhash_s": "s",
    "operators.dedup.lsh_self_s": "s",
    "operators.dedup.jaccard_self_s": "s",
    "operators.dedup.clusters_self_s": "s",
    "operators.training.corpus_self_s": "s",
    "operators.dedup.clusters_jobs": "count",
    "operators.dedup.shuffle_write_mb": "MB",
    "operators.dedup.fetch_wait_s": "s",
    "operators.dedup.verify_yield": "ratio",
    "operators.training.kept_docs": "count",
    "operators.similarity.cosine_topk_s": "s",
    "operators.similarity.in_bucket_topk_s": "s",
    "operators.similarity.ivf_topk_s": "s",
    "operators.similarity.near_dup_s": "s",
    "operators.similarity.semantic_dedup_s": "s",
    "operators.similarity.arrow_to_python_mb": "MB",
    "operators.similarity.python_worker_s": "s",
    "operators.similarity.ivf_recall": "ratio",
    "operators.similarity.bucket_recall": "ratio",
    "session.get_spark_s": "s",
    "spark.failed_tasks": "count",
    "spark.stages": "count",
    "trace.overhead_s": "s",
}

# dedup_graph self times: each operator's call minus the call of the
# operator it invokes internally (None: it invokes none of the others).
# dedup_clusters builds its edges from lsh_bands -> minhash_signatures, not
# from the verified pairs, so its predecessor is minhash_signatures.
DEDUP_SELF = {
    "operators.dedup.minhash_s": ("operators.dedup.minhash_signatures", None),
    "operators.dedup.lsh_self_s": ("operators.dedup.lsh_candidate_pairs", "operators.dedup.minhash_signatures"),
    "operators.dedup.jaccard_self_s": ("operators.dedup.jaccard_verified_pairs", "operators.dedup.lsh_candidate_pairs"),
    "operators.dedup.clusters_self_s": ("operators.dedup.dedup_clusters", "operators.dedup.minhash_signatures"),
    "operators.training.corpus_self_s": ("operators.training.training_corpus", "operators.dedup.dedup_clusters"),
}

SIMILARITY_CALLS = {
    "operators.similarity.cosine_topk_s": "operators.similarity.cosine_topk",
    "operators.similarity.in_bucket_topk_s": "operators.similarity.ann_topk_in_bucket",
    "operators.similarity.ivf_topk_s": "operators.similarity.ann_ivf_topk",
    "operators.similarity.near_dup_s": "operators.similarity.embedding_near_dup",
    "operators.similarity.semantic_dedup_s": "operators.similarity.semantic_dedup",
}


def self_time(tracer, own: str, pred: str | None) -> float:
    t = median(tracer.durations(own))
    return t - median(tracer.durations(pred)) if pred else t


def per_pass(tracer, per_span: dict, call_names, key) -> float:
    """Median over passes of the per-pass sum of ``key`` (a field name, or
    a function of the summed record) across the calls named ``call_names``
    (children of each ``pass`` span)."""
    get = key if callable(key) else (lambda rec: rec[key])
    sums = []
    for p in tracer.spans:
        if p["name"] != "pass":
            continue
        kids = [s["id"] for s in tracer.spans if s["parent"] == p["id"] and s["name"] in call_names]
        sums.append(get(trace.total(per_span, kids)))
    return median(sums) if sums else 0.0


def common(tracer, per_span: dict, get_spark_s: float, overhead_s: float) -> dict:
    passes = [s["id"] for s in tracer.spans if s["name"] == "pass"]
    desc = {p: [s["id"] for s in tracer.spans if s["parent"] == p] for p in passes}
    stages = [trace.total(per_span, [p] + desc[p])["stages"] for p in passes]
    return {
        "session.get_spark_s": get_spark_s,
        "spark.failed_tasks": trace.total(per_span, per_span.keys())["failed_tasks"],
        "spark.stages": median(stages) if stages else 0,
        "trace.overhead_s": overhead_s,
    }


def extract_layers(tracer, per_span: dict, probes: dict, pages_path: str) -> dict:
    calls = {"sources.lineage.run_extraction"}
    pages_bytes = dir_bytes(pages_path)
    name = os.path.basename(pages_path)

    def pages_scanned(rec) -> int:
        return sum(n for loc, n in rec["scan_bytes"].items() if loc.rstrip("]/").endswith(name))

    run_s = median(tracer.durations("sources.lineage.run_extraction"))
    extract_s = median(tracer.durations("plans.pipeline.extract"))
    return {
        "functions.blocks.page_us": probes["page_us"],
        "functions.recognize_kernel.ms_per_image": probes["ms_per_image"],
        "operators.fused.parse_ms": median(probes["parse_ms"]),
        "operators.fused.recognize_ms": median(probes["recognize_ms"]),
        "operators.fused.assemble_ms": median(probes["assemble_ms"]),
        "plans.pipeline.extract_s": extract_s,
        "sources.lineage.overhead_s": run_s - extract_s,
        "sources.lineage.jobs": per_pass(tracer, per_span, calls, "jobs"),
        "sources.lineage.scan_amplification": per_pass(tracer, per_span, calls, pages_scanned) / pages_bytes,
        "sources.lineage.sink_bytes_per_input_byte": median(probes["sink_bytes"]) / pages_bytes,
        "operators.fused.arrow_to_python_mb": per_pass(tracer, per_span, calls, "data sent to Python workers") / MB,
        "operators.fused.arrow_from_python_mb": per_pass(tracer, per_span, calls, "data returned from Python workers") / MB,
        "operators.fused.python_worker_s": per_pass(tracer, per_span, calls, "time to run Python workers") / 1000,
    }


def dedup_layers(tracer, per_span: dict, probes: dict) -> dict:
    calls = {own for own, _ in DEDUP_SELF.values()}
    out = {name: self_time(tracer, own, pred) for name, (own, pred) in DEDUP_SELF.items()}
    out.update(
        {
            "operators.dedup.clusters_jobs": per_pass(tracer, per_span, {"operators.dedup.dedup_clusters"}, "jobs"),
            "operators.dedup.shuffle_write_mb": per_pass(tracer, per_span, calls, "shuffle_write_bytes") / MB,
            "operators.dedup.fetch_wait_s": per_pass(tracer, per_span, calls, "fetch_wait_ms") / 1000,
            "operators.dedup.verify_yield": probes["verified_pairs"] / probes["candidate_pairs"],
            "operators.training.kept_docs": probes["kept_docs"],
        }
    )
    return out


def similarity_layers(tracer, per_span: dict, probes: dict) -> dict:
    calls = set(SIMILARITY_CALLS.values())
    out = {name: median(tracer.durations(call)) for name, call in SIMILARITY_CALLS.items()}
    out.update(
        {
            "operators.similarity.arrow_to_python_mb": per_pass(tracer, per_span, calls, "data sent to Python workers") / MB,
            "operators.similarity.python_worker_s": per_pass(tracer, per_span, calls, "time to run Python workers") / 1000,
            "operators.similarity.ivf_recall": probes["ivf_recall"],
            "operators.similarity.bucket_recall": probes["bucket_recall"],
        }
    )
    return out


def dir_bytes(path: str) -> int:
    """Bytes of a table's data files (Spark skips names starting with
    ``_`` or ``.``: markers and checksums are not table data)."""
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files if f[0] not in "._")
    return total
