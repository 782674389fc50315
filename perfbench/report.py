"""Per-layer report of a traced run.

Every traced run reports every metric of :data:`PER_LAYER`; a layer the
workload does not touch reports 0. Conventions:

* ``<layer>.busy_s`` — median, over the traced primary operations (delta
  flows for the vault workload, batches for curation), of the time spent
  in that layer's spans during the operation. ``catalog.busy_s`` is the
  median over the ``init_vault`` set-up rounds instead.
* ``<layer>.jobs``, ``.executor_run_s``, ``.shuffle_write_bytes`` — Spark
  work attributed to the layer's spans, per traced primary operation
  (``catalog``: per set-up round).
* ``spark.*`` — engine totals over every operation of the measured loop,
  per operation.
* counts (``rows_*``, ``calls``, ``fetches``) — mean per traced primary
  operation; ratios — sums over the traced operations, divided.
"""

from __future__ import annotations

import statistics

import spans as tr

SPAN_LAYERS = ("readers", "hashview", "runinfo", "model", "hub", "link", "satellite",
               "catalog", "textops", "curation", "dedup", "similarity")

PER_LAYER: dict[str, str] = {
    "readers.busy_s": "s", "readers.rows_staged": "count",
    "catalog.busy_s": "s",
    "hashview.busy_s": "s", "hashview.calls": "count",
    "runinfo.busy_s": "s", "runinfo.calls": "count",
    "model.fetches": "count",
    "hub.busy_s": "s", "hub.rows_inserted": "count", "hub.insert_ratio": "ratio",
    "link.busy_s": "s", "link.rows_inserted": "count", "link.insert_ratio": "ratio",
    "satellite.busy_s": "s", "satellite.rows_inserted": "count",
    "satellite.tombstones": "count", "satellite.change_ratio": "ratio",
    "cv.point_p50_s": "s", "cv.scan_p50_s": "s", "cv.join_p50_s": "s",
    "cv.history_p50_s": "s",
    "executor.self_s": "s", "executor.driver_gap_s": "s", "executor.jobs_per_flow": "count",
    "layout.dv_files": "count", "layout.dv_small_files": "count", "layout.dv_bytes": "bytes",
    "textops.busy_s": "s", "textops.keep_ratio": "ratio",
    "curation.busy_s": "s", "curation.dup_ratio": "ratio",
    "dedup.build_s": "s", "dedup.probe_s": "s", "dedup.append_s": "s",
    "dedup.neardup_recall": "ratio", "index.minhash_bytes": "bytes",
    "similarity.build_s": "s", "similarity.probe_s": "s", "similarity.append_s": "s",
    "similarity.top1_recall": "ratio", "index.ivf_bytes": "bytes",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.scheduler_wait_s": "s", "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes", "spark.output_bytes": "bytes",
    **{f"{layer}.{m}": u for layer in SPAN_LAYERS
       for m, u in (("jobs", "count"), ("executor_run_s", "s"),
                    ("shuffle_write_bytes", "bytes"))},
    "tail.flow_s": "s", "tail.flow_pct": "%", "tail.flow_samples": "count",
    "tail.query_s": "s", "tail.query_pct": "%", "tail.query_samples": "count",
    "memory.peak_rss_mb": "MB",
    "trace.flow_p50_s": "s", "trace.overhead_s": "s", "trace.spans": "count",
}

# span name -> per-layer duration metric (median over traced operations)
_SPAN_DURATIONS = {
    "dedup.neardup_against_index": "dedup.probe_s",
    "dedup.minhash_index_append": "dedup.append_s",
    "similarity.ivf_probe_topk": "similarity.probe_s",
    "similarity.ivf_append": "similarity.append_s",
}


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _inside(s: tr.Span, lo: float, hi: float) -> bool:
    return s.start >= lo and s.end <= hi


def _top(spans: list[tr.Span], layer: str, by_id: dict) -> list[tr.Span]:
    """Spans of ``layer`` not nested in another span of the same layer."""
    return [s for s in spans if s.layer == layer
            and (s.parent is None or by_id[s.parent].layer != layer)]


def per_layer(out, rec: tr.SpanRecorder, log: tr.EventLog) -> dict:
    from workloads import Checker

    spans = [s for s in rec.spans if s.end]
    by_id = {s.sid: s for s in spans}
    tr.attribute(log, spans)
    chk = Checker(out)
    vals: dict[str, float] = {k: 0.0 for k in PER_LAYER}

    # self time of a child never exceeds its parent span
    bad = [s.name for s in spans if s.parent is not None and (
        not _inside(s, by_id[s.parent].start - 1e-3, by_id[s.parent].end + 1e-3)
        or tr.self_time(s, spans) > by_id[s.parent].dur + 1e-3)]
    chk.eq(bad, [], "child spans within their parents")

    traced = [o for o in out.ops if o[0] in ("flow", "batch")]
    jobs = list(log.jobs.values())

    def windowed(lo: float, hi: float) -> list[tr.Span]:
        return [s for s in spans if _inside(s, lo, hi)]

    # -- layer busy time, span counts and attributed Spark work
    per_op = {layer: [] for layer in SPAN_LAYERS}
    counts = {layer: [] for layer in SPAN_LAYERS}
    written = {layer: 0 for layer in SPAN_LAYERS}
    spark_by_layer = {layer: tr.TaskTotals() for layer in SPAN_LAYERS}
    job_count = {layer: 0 for layer in SPAN_LAYERS}
    durations = {m: [] for m in _SPAN_DURATIONS.values()}
    for _k, lo, hi, _info in traced:
        win = windowed(lo, hi)
        ids = {s.sid for s in win}
        for layer in SPAN_LAYERS:
            top = _top(win, layer, by_id)
            per_op[layer].append(sum(s.dur for s in top))
            counts[layer].append(len(top))
        for s in win:
            if s.name in _SPAN_DURATIONS:
                durations[_SPAN_DURATIONS[s.name]].append(s.dur)
        for j in jobs:
            if j.span in ids:
                layer = by_id[j.span].layer
                if layer in spark_by_layer:
                    tot = tr.job_totals(log, j)
                    spark_by_layer[layer].add(tot)
                    job_count[layer] += 1
                    written[layer] += tot.records_written
    n_tr = max(1, len(traced))
    for layer in SPAN_LAYERS:
        if layer == "catalog":
            continue
        if f"{layer}.busy_s" in vals:
            vals[f"{layer}.busy_s"] = _median(per_op[layer])
        vals[f"{layer}.jobs"] = job_count[layer] / n_tr
        vals[f"{layer}.executor_run_s"] = spark_by_layer[layer].run_s / n_tr
        vals[f"{layer}.shuffle_write_bytes"] = spark_by_layer[layer].shuffle_write / n_tr
    for m, xs in durations.items():
        vals[m] = _median(xs)
    vals["hashview.calls"] = _median(counts["hashview"])
    vals["runinfo.calls"] = _median(counts["runinfo"])
    vals["model.fetches"] = sum(counts["model"]) / n_tr
    vals["readers.rows_staged"] = written["readers"] / n_tr
    vals["hub.rows_inserted"] = written["hub"] / n_tr
    vals["link.rows_inserted"] = written["link"] / n_tr
    vals["satellite.rows_inserted"] = written["satellite"] / n_tr
    files = [o[3] for o in traced if o[3] is not None]
    if files:
        vals["hub.insert_ratio"] = written["hub"] / max(1, sum(f.distinct_hub_keys for f in files))
        vals["link.insert_ratio"] = written["link"] / max(1, sum(f.distinct_link_keys for f in files))
        vals["satellite.change_ratio"] = written["satellite"] / max(1, sum(f.rows for f in files))

    # -- catalog: per init_vault set-up round
    inits = [s for s in spans if s.name == "api.init_vault"]
    if inits:
        busy, cat_tot, cat_jobs = [], tr.TaskTotals(), 0
        for i in inits:
            win = windowed(i.start, i.end)
            busy.append(sum(s.dur for s in _top(win, "catalog", by_id)))
            ids = {s.sid for s in win if s.layer == "catalog"}
            for j in jobs:
                if j.span in ids:
                    cat_tot.add(tr.job_totals(log, j))
                    cat_jobs += 1
        vals["catalog.busy_s"] = _median(busy)
        vals["catalog.jobs"] = cat_jobs / len(inits)
        vals["catalog.executor_run_s"] = cat_tot.run_s / len(inits)
        vals["catalog.shuffle_write_bytes"] = cat_tot.shuffle_write / len(inits)

    # -- flow executor: self time, driver gap, jobs per flow
    selfs, gaps, njobs = [], [], []
    for _k, lo, hi, _info in traced:
        for s in windowed(lo, hi):
            if s.name != "executor.execute_flow":
                continue
            selfs.append(tr.self_time(s, spans))
            inside = [j for j in jobs if s.start <= j.submit <= s.end]
            njobs.append(len(inside))
            busy = tr.union_len([(j.submit, j.end or j.submit) for j in inside],
                                s.start, s.end)
            gaps.append(s.dur - busy)
    vals["executor.self_s"] = _median(selfs)
    vals["executor.driver_gap_s"] = _median(gaps)
    vals["executor.jobs_per_flow"] = _median(njobs)

    # -- engine totals over the measured loop, per operation
    if out.ops:
        lo, hi = out.ops[0][1], out.ops[-1][2]
        loop_jobs = [j for j in jobs if lo <= j.submit <= hi]
        tot = tr.TaskTotals()
        stage_ids = set()
        for j in loop_jobs:
            tot.add(tr.job_totals(log, j))
            stage_ids.update(j.stages)
        n = len(out.ops)
        ran_stages = sum(1 for sid in stage_ids if sid in log.stage_tasks)
        vals.update({
            "spark.jobs": len(loop_jobs) / n,
            "spark.stages": ran_stages / n,
            "spark.tasks": tot.tasks / n,
            "spark.executor_run_s": tot.run_s / n,
            "spark.executor_cpu_s": tot.cpu_s / n,
            "spark.gc_s": tot.gc_s / n,
            "spark.scheduler_wait_s": tot.sched_wait_s / n,
            "spark.shuffle_write_bytes": tot.shuffle_write / n,
            "spark.shuffle_read_bytes": tot.shuffle_read / n,
            "spark.spill_bytes": tot.spill / n,
            "spark.input_bytes": tot.input_bytes / n,
            "spark.output_bytes": tot.output_bytes / n,
        })

    # -- tracing overhead. The recorder times its own bookkeeping; the
    #    event log's cost shows as trace.flow_p50_s minus the untraced
    #    run's flow_p50_s for the same seed.
    vals["trace.flow_p50_s"] = _median(hi - lo for _k, lo, hi, _i in traced)
    vals["trace.overhead_s"] = rec.bookkeeping_s / n_tr
    vals["trace.spans"] = len(spans)

    for k, v in out.layer.items():
        vals[k] = v
    return {k: {"value": float(vals[k]), "unit": PER_LAYER[k]} for k in PER_LAYER}
