"""Per-layer metrics of a traced run.

Each metric is named after the program module it measures. Span-derived
ones use the spans of the measured loop only (``phase == "loop"``); a
layer the workload does not exercise reads 0. Times are exclusive where
layers nest: a span's exclusive time is its duration minus its direct
children's, so decode time inside scoring counts to ``codec``, not to
``operators.wand``.

``MOVES`` maps every per-layer metric to the end-to-end metric it should
move and the workload it should move it on.
"""

from __future__ import annotations

import statistics
import time
from typing import Dict, List

import numpy as np

from tracing import EventLog, Tracer, Usage

QUERY_OPS = ("count", "topk", "topk_and", "topk_filtered", "and_ids",
             "or_ids")

# the scan-path check sets of build_update (Spark jobs per query): reported
# as # lines, gated by no end-to-end metric
SCAN = "after_*_scan_p50_ms report lines @ build_update (not gated)"
# the cached-path window (the six-op mix; the top-10 mean is a report line)
CACHED = "throughput_per_s @ query_cached"
NO_JOBS = "; about 0 on query_cached (no Spark job per query)"

# name -> the end-to-end metric it should move, as "<metric> @ <workload>"
# (names, units and directions are BENCHMARK.json's "per_layer")
MOVES = {
    "plans.builder.wall_s": "throughput_per_s @ build_update",
    "plans.builder.spark_jobs": "throughput_per_s @ build_update",
    "plans.builder.jobs_unattributed": "throughput_per_s @ build_update",
    "plans.builder.tasks": "throughput_per_s @ build_update",
    "plans.builder.task_s": "throughput_per_s @ build_update",
    "plans.builder.core_util": "throughput_per_s @ build_update",
    "plans.builder.shuffle_write_bytes": "throughput_per_s @ build_update",
    "plans.builder.spill_bytes": "throughput_per_s @ build_update",
    "plans.builder.skew_max_over_median": "throughput_per_s @ build_update",
    "extract.docs_per_s": "throughput_per_s @ build_update",
    "tokenizer.docs_per_s": "throughput_per_s @ build_update",
    "codec.pack_postings_per_s": "throughput_per_s @ build_update",
    "codec.postings_bytes": "index_bytes_per_text_byte @ build_update",
    "codec.decode_ms": CACHED,
    "codec.postings_decoded": CACHED,
    "spark.jobs_per_query": SCAN + NO_JOBS,
    "spark.tasks_per_query": SCAN + NO_JOBS,
    "spark.collect_ms": SCAN + NO_JOBS,
    "spark.scan_bytes_per_query": SCAN + NO_JOBS,
    "spark.jobs_unattributed": "none (attribution check)",
    "spark.jvm_peak_rss_mb": "none (reported, not gated)",
    "engine.self_ms": CACHED + "; " + SCAN,
    "engine.count_ms": CACHED + "; " + SCAN,
    "engine.topk_ms": CACHED + "; " + SCAN,
    "engine.topk_and_ms": CACHED + "; " + SCAN,
    "engine.topk_filtered_ms": CACHED + "; " + SCAN,
    "engine.and_ids_ms": CACHED + "; " + SCAN,
    "engine.or_ids_ms": CACHED + "; " + SCAN,
    "engine.filter_resolve_ms": SCAN,
    "engine.preload_s": "setup_s @ query_cached",
    "engine.cache_rows": "driver_peak_rss_mb @ query_cached",
    "engine.open_ms": "none (open_ms report line @ build_update)",
    "operators.wand.score_ms": CACHED,
    "operators.wand.block_decode_ratio": CACHED,
    "operators.intersect.ms": CACHED,
    "streaming.ingest.append_s": "throughput_per_s @ build_update",
    "streaming.ingest.append_jobs": "throughput_per_s @ build_update",
    "streaming.ingest.append_core_util": "throughput_per_s @ build_update",
    "streaming.ingest.upsert_s": "throughput_per_s @ build_update",
    "streaming.ingest.upsert_jobs": "throughput_per_s @ build_update",
    "plans.deletes.delete_s": "throughput_per_s @ build_update",
    "plans.deletes.tombstones_pending":
        "throughput_per_s @ build_update (compaction input)",
    "plans.compaction.wall_s": "throughput_per_s @ build_update",
    "plans.compaction.task_s": "throughput_per_s @ build_update",
    "plans.compaction.bytes_rewritten": "throughput_per_s @ build_update",
    "plans.compaction.spill_bytes": "throughput_per_s @ build_update",
    "sources.catalog.segments_live":
        "throughput_per_s @ build_update (compaction input)",
    "control.spark_floor_ms": "none (same-window host control)",
    "control.cpu_ms": "none (same-window host control)",
    "trace.overhead_pct": "none (traced minus untraced query path)",
}


def exclusive(span, kids) -> float:
    return span.dur - sum(c.dur for c in kids.get(span.id, []))


def span_metrics(tracer: Tracer, log: EventLog, nproc: int
                 ) -> Dict[str, float]:
    """The span- and event-log-derived metrics."""
    usage = log.attribute(tracer)
    kids = tracer.children()
    loop = [s for s in tracer.spans if s.call and s.phase == "loop"]
    out: Dict[str, float] = {}

    def calls(name: str) -> List:
        return [s for s in loop if s.name == name]

    def total(spans) -> Usage:
        u = Usage()
        for s in spans:
            u.add(usage.get(s.id, Usage()))
        return u

    def mean_dur(spans) -> float:
        return float(np.mean([s.dur for s in spans])) if spans else 0.0

    b = calls("plans.builder.build_index")
    ub = total(b)
    n = max(len(b), 1)
    wall = sum(s.dur for s in b)
    out.update({
        "plans.builder.wall_s": mean_dur(b),
        "plans.builder.spark_jobs": ub.jobs / n,
        "plans.builder.jobs_unattributed": ub.unattributed / n,
        "plans.builder.tasks": ub.tasks / n,
        "plans.builder.task_s": ub.task_s / n,
        "plans.builder.core_util": ub.task_s / (wall * nproc) if wall else 0.0,
        "plans.builder.shuffle_write_bytes": ub.shuffle_write_bytes / n,
        "plans.builder.spill_bytes": ub.spill_bytes / n,
        "plans.builder.skew_max_over_median": ub.skew,
    })
    others = [s for s in loop if s.name != "plans.builder.build_index"]
    out["spark.jobs_unattributed"] = float(total(others).unattributed)

    # ---- queries
    queries = [s for s in loop if s.name.startswith("engine.")
               and s.name[len("engine."):] in QUERY_OPS]
    nq = max(len(queries), 1)
    uq = total(queries)
    excl: Dict[str, float] = {}
    blocks_decoded = blocks_fetched = postings = 0.0
    per_op_layer: Dict[str, Dict[str, float]] = {}
    for q in queries:
        op = q.name[len("engine."):]
        sub = [q] + tracer.descendants(q, kids)
        acc = per_op_layer.setdefault(op, {})
        for s in sub:
            layer = "engine" if s.name.startswith("engine.") else s.name
            t = exclusive(s, kids)
            excl[layer] = excl.get(layer, 0.0) + t
            acc[layer] = acc.get(layer, 0.0) + t
            if s.name == "codec.decode":
                blocks_decoded += s.attrs.get("blocks", 0.0)
                postings += s.attrs.get("postings", 0.0)
            elif s.name == "engine.fetch":
                blocks_fetched += s.attrs.get("blocks", 0.0)
            elif s.name == "engine.filter_resolve":
                acc["filter_resolve"] = acc.get("filter_resolve", 0.0) \
                    + s.dur
    out.update({
        "spark.jobs_per_query": uq.jobs / nq,
        "spark.tasks_per_query": uq.tasks / nq,
        "spark.scan_bytes_per_query": uq.input_bytes / nq,
        "spark.collect_ms": excl.get("spark.collect", 0.0) * 1e3 / nq,
        "codec.decode_ms": excl.get("codec.decode", 0.0) * 1e3 / nq,
        "codec.postings_decoded": postings / nq,
        "engine.self_ms": excl.get("engine", 0.0) * 1e3 / nq,
        "operators.wand.block_decode_ratio":
            blocks_decoded / blocks_fetched if blocks_fetched else 0.0,
    })
    for op in QUERY_OPS:
        d = [s.dur for s in queries if s.name == "engine." + op]
        out[f"engine.{op}_ms"] = statistics.median(d) * 1e3 if d else 0.0

    def per_query(layer: str, ops) -> float:
        cnt = sum(1 for s in queries if s.name[len("engine."):] in ops)
        t = sum(per_op_layer.get(op, {}).get(layer, 0.0) for op in ops)
        return t * 1e3 / cnt if cnt else 0.0

    out["operators.wand.score_ms"] = per_query(
        "operators.wand", ("topk", "topk_and", "topk_filtered"))
    out["operators.intersect.ms"] = per_query(
        "operators.intersect", ("count", "and_ids", "topk_and"))
    out["engine.filter_resolve_ms"] = per_query(
        "filter_resolve", ("topk_filtered",))
    opens = calls("engine.open") or [s for s in tracer.spans
                                     if s.call and s.name == "engine.open"]
    out["engine.open_ms"] = mean_dur(opens) * 1e3

    # ---- write path
    # the append half of each upsert: a span inside the upsert call
    a = [s for s in tracer.spans if s.name == "streaming.ingest.append"
         and s.phase == "loop"]
    ua = Usage()
    for s in a:
        ua.add(log.window(tracer, s))
    wa = sum(s.dur for s in a)
    u = calls("streaming.ingest.upsert_batch")
    d = calls("plans.deletes.delete_docs")
    c = calls("plans.compaction.compact_segments")
    out.update({
        "streaming.ingest.append_s": mean_dur(a),
        "streaming.ingest.append_jobs": ua.jobs / max(len(a), 1),
        "streaming.ingest.append_core_util":
            ua.task_s / (wa * nproc) if wa else 0.0,
        "streaming.ingest.upsert_s": mean_dur(u),
        "streaming.ingest.upsert_jobs": total(u).jobs / max(len(u), 1),
        "plans.deletes.delete_s": mean_dur(d),
        "plans.compaction.wall_s": mean_dur(c),
        "plans.compaction.task_s": total(c).task_s / max(len(c), 1),
        "plans.compaction.spill_bytes": total(c).spill_bytes / max(len(c), 1),
    })
    return out


def _rate(fn, n: int, reps: int = 3) -> float:
    """n / median seconds of ``fn()`` over ``reps`` runs."""
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return n / statistics.median(ts)


def kernel_rates(pages, table, sample: int = 2000) -> Dict[str, float]:
    """In-process throughput of the extract, tokenizer and codec-pack
    kernels on a fixed sample of the run's en pages (the build runs them
    inside Python workers, where spans cannot reach)."""
    import pandas as pd

    from pysearchlite_spark import codec, extract, tokenizer

    en = np.flatnonzero(pages.lang == "en")[:sample]
    html = pd.Series([pages.html[i] for i in en])
    texts = extract.extract_series(html)
    words = np.concatenate([pages.words[pages.offsets[i]:pages.offsets[i + 1]]
                            for i in en])
    offsets = np.zeros(en.size + 1, dtype=np.int64)
    np.cumsum(np.diff(pages.offsets)[en], out=offsets[1:])
    doc, term, tf, dl = table.doc_terms(words, offsets)
    order = np.lexsort((doc, term))
    doc, term, tf = doc[order], term[order], tf[order]
    row_lens = np.bincount(term)[np.unique(term)]
    avgdl = float(dl.mean())
    return {
        "extract.docs_per_s": _rate(lambda: extract.extract_series(html),
                                    en.size),
        "tokenizer.docs_per_s": _rate(lambda: tokenizer.tf_series(texts),
                                      en.size),
        "codec.pack_postings_per_s": _rate(
            lambda: codec.pack_flat(doc, tf, dl[doc], row_lens, avgdl),
            doc.size),
    }
