"""The traced run: which engine functions get spans, and how spans and
status-store counters become the per-layer metrics.

Layer names are the engine's module names. Times are seconds, sizes
bytes. `mean` over no calls is 0: a layer a workload never enters reads 0
there. The curate chain's layers (`queries_pretrain` and the text
operators) are reported by the curate workload only.
"""

from __future__ import annotations

import importlib
import statistics
import time
from collections import defaultdict

from tracing import Tracer

#: (module, function or Class.method) wrapped in the traced run
TARGETS = [
    ("vervectordb_spark.store", m) for m in (
        "VectorStore.ingest", "VectorStore.merge", "VectorStore.delete",
        "VectorStore.get_by_id", "VectorStore.brute_force_search",
        "VectorStore.filtered_search", "VectorStore.ivf_search",
        "VectorStore.build_ivf_index", "VectorStore.checkpoint",
        "VectorStore.save", "VectorStore.load")
] + [
    ("vervectordb_spark.operators.ivf", m) for m in (
        "IVFIndex.build", "IVFIndex.search", "IVFIndex.batch_search",
        "IVFIndex.save", "IVFIndex.load")
] + [
    ("vervectordb_spark.operators.search", "brute_force_topk"),
    ("vervectordb_spark.operators.search", "point_lookup"),
    ("vervectordb_spark.sources.layout", "pruned_scan"),
    ("vervectordb_spark.sources.layout", "collect_file_stats"),
    ("vervectordb_spark.functions.checkpoint", "eager_checkpoint"),
    ("vervectordb_spark.operators.merge", "merge_upsert"),
]

#: the public functions export_frame calls, by module
CURATE_CALLS = {
    "spans": ("remove_duplicate_spans",),
    "text": ("quality_filter",),
    "embed": ("embed_documents",),
    "quality": ("classifier_logit_expr",),
    "dedup": ("drop_exact_dups", "minhash_near_dup_pairs", "shingle_table",
              "embedding_contamination_pairs"),
    "sampling": ("mix_by_temperature",),
    "bpe": ("train_bpe", "maybe_broadcast_vocab"),
    "packing": ("pack_by_token_offset",),
}
TARGETS += [(f"vervectordb_spark.operators.{mod}", fn)
            for mod, fns in CURATE_CALLS.items() for fn in fns]

SPARK_OP_FIELDS = ("catalyst_s", "stages", "tasks", "executor_run_s",
                   "executor_cpu_s", "driver_gap_s", "shuffle_bytes",
                   "scan_rows", "python_worker_s", "pinned_rdds")
UNTIMED = ("setup.", "warm.", "check.")


def install(spark) -> Tracer:
    tracer = Tracer(spark)
    for mod in {m for m, _ in TARGETS} | {"vervectordb_spark.queries_pretrain"}:
        importlib.import_module(mod)
    for mod, attr in TARGETS:
        tracer.instrument(mod, attr)
    return tracer


def span_cost(tracer: Tracer, n: int = 200) -> float:
    """Seconds one nested span adds to the op around it."""
    tracer.active = True
    try:
        with tracer.span("calibrate"):
            t0 = time.perf_counter()
            for _ in range(n):
                with tracer.span("calibrate.child"):
                    pass
            cost = (time.perf_counter() - t0) / n
    finally:
        tracer.spans = [s for s in tracer.spans
                        if not s["name"].startswith("calibrate")]
    return cost


def run_traced(ctx, workload) -> dict:
    tracer = ctx.tracer
    cost = span_cost(tracer)
    tracer.active = True
    try:
        result = workload(ctx)
    finally:
        tracer.active = False
        tracer.uninstall()
    result["layers"] = layer_metrics(tracer.spans, ctx.info, cost)
    return result


# ------------------------------------------------------------------ metrics
def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def layer_metrics(spans: list[dict], info: dict, cost: float) -> dict:
    kids = defaultdict(list)
    by_name = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
        by_name[s["name"]].append(s)

    def tree(s):
        yield s
        for c in kids[s["id"]]:
            yield from tree(c)

    def total(s, field):
        return sum(t.get(field, 0) for t in tree(s))

    def jobs(s):
        return sum(len(t.get("jobs", ())) for t in tree(s))

    def dur(s):
        return s["end"] - s["start"]

    def mean_dur(name):
        return _mean(dur(s) for s in by_name[name])

    def per_result(spans_, k):
        n = sum(k(s) for s in spans_)
        return sum(total(s, "scan_rows") for s in spans_) / n if n else 0.0

    ops = [s for s in kids[None] if not s["name"].startswith(UNTIMED)]

    def lazy_roots(s):
        """Spans that returned a lazy frame, outermost ones only."""
        if s.get("lazy"):
            yield s
            return
        for c in kids[s["id"]]:
            yield from lazy_roots(c)

    out = {}
    # spark: per timed op
    out["spark.build_s"] = _mean(sum(dur(x) for x in lazy_roots(o)) for o in ops)
    out["spark.hidden_jobs"] = _mean(
        sum(jobs(x) for x in lazy_roots(o)) for o in ops)
    out["spark.jobs"] = _mean(o.get("jobs_total", 0) for o in ops)
    for f in SPARK_OP_FIELDS:
        if f in ("scan_rows", "python_worker_s"):
            out[f"spark.{f}"] = _mean(total(o, f) for o in ops)
        else:
            out[f"spark.{f}"] = _mean(o.get(f, 0) for o in ops)

    # operators.ivf
    builds = by_name["operators.ivf.IVFIndex.build"]
    ivf_q = by_name["store.VectorStore.ivf_search"]
    batches = [s for s in kids[None] if s["name"] == "ivf_batch32"]
    out["operators.ivf.build_s"] = _mean(dur(s) for s in builds)
    out["operators.ivf.kmeans_jobs"] = _mean(jobs(s) for s in builds)
    out["operators.ivf.probe_s"] = _mean(dur(s) for s in ivf_q)
    out["operators.ivf.batch_search_s"] = _mean(dur(s) for s in batches)
    out["operators.ivf.rows_scanned_per_result"] = per_result(
        ivf_q + batches,
        lambda s: 320 if s["name"] == "ivf_batch32" else 10)
    recalls = info.get("ivf_recall_at_10_per_round") or [
        info.get("recall_at_10", 0.0)]
    out["operators.ivf.recall_at_10"] = _mean(recalls)
    build_ids = {s["id"] for s in builds}
    out["operators.ivf.rebuilds"] = sum(
        1 for o in ops for t in tree(o) if t["id"] in build_ids)

    # operators.search
    bf = by_name["store.VectorStore.brute_force_search"]
    out["operators.search.brute_force_s"] = _mean(dur(s) for s in bf)
    out["operators.search.rows_scanned_per_result"] = per_result(
        bf, lambda s: 10)

    # store
    for m in ("merge", "get_by_id", "checkpoint", "save", "load"):
        out[f"store.{m}_s"] = mean_dur(f"store.VectorStore.{m}")
    out["store.plan_nodes"] = _mean(info.get("plan_nodes", []))
    out["store.bytes_on_disk_per_user_byte"] = info.get(
        "bytes_on_disk_per_user_byte", 0.0)

    # sources.layout
    gets = by_name["store.VectorStore.get_by_id"]
    out["sources.layout.files_read_per_lookup"] = (
        sum(total(s, "files_read") for s in gets) / len(gets) if gets else 0.0)
    out["sources.layout.stats_s"] = mean_dur(
        "sources.layout.collect_file_stats")

    # functions.checkpoint, operators.merge
    out["functions.checkpoint.eager_s"] = mean_dur(
        "functions.checkpoint.eager_checkpoint")
    out["functions.checkpoint.pinned_rdds"] = max(
        (o.get("pinned_rdds", 0) for o in ops), default=0)
    out["operators.merge.merge_upsert_s"] = mean_dur(
        "operators.merge.merge_upsert")

    # curate chain modules and queries_pretrain, where the export ran
    exports = [s for s in kids[None] if s["name"] == "export"]
    if exports:
        for mod, fns in CURATE_CALLS.items():
            for fn in fns:
                calls = by_name[f"operators.{mod}.{fn}"]
                out[f"operators.{mod}.{fn}.call_s"] = _mean(
                    dur(s) for s in calls)
                out[f"operators.{mod}.{fn}.hidden_jobs"] = _mean(
                    jobs(s) for s in calls)
        out["queries_pretrain.build_s"] = mean_dur("export.build")
        out["queries_pretrain.action_s"] = mean_dur("export.action")
        out["queries_pretrain.catalyst_s"] = _mean(
            s.get("catalyst_s", 0) for s in exports)

    # what the spans themselves added to each timed op
    out["trace_overhead_s"] = _mean(
        (sum(1 for _ in tree(o)) - 1) * cost for o in ops)
    return {k: (float(v), UNITS.get(k.rsplit(".", 1)[-1], "s"))
            for k, v in out.items()}


UNITS = {
    "hidden_jobs": "count", "jobs": "count", "stages": "count",
    "tasks": "count", "shuffle_bytes": "bytes", "scan_rows": "rows",
    "pinned_rdds": "count", "kmeans_jobs": "count", "rebuilds": "count",
    "rows_scanned_per_result": "rows", "plan_nodes": "count",
    "bytes_on_disk_per_user_byte": "ratio", "files_read_per_lookup": "count",
    "recall_at_10": "ratio",
}
