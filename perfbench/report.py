"""Metric assembly: end-to-end metrics from the timed operations,
per-layer metrics from the traced run's spans and Spark counters.

Layer -> end-to-end metric each should move (see
README.md for the per-workload table):

- session.start_s                        -> setup_s
- sources.*, interval.*                  -> setup_s; op_p50_ms on refresh_under_load
- refresh.*                              -> op_p50_ms on refresh_under_load
- api.*, request.*, annotate.*, rangejoin.construct_ms.*, exec.broadcast_build_ms,
  exec.jobs/stages/tasks                 -> op_p50_ms on api_requests
- rangejoin.kernel_ms, ip.parse_udf_ms, exec.python_*, exec.executor_*,
  exec.shuffle_*, exec.spill_bytes       -> op_p50_ms on bulk_annotate
- asof.construct_ms                      -> expected ~0 everywhere (regression guard)
- exec.gc_ms                             -> op tail on api_requests / refresh_under_load
- curation.*, caching.*, partitioning.*  -> op_p50_ms on curation_pipeline
"""

from __future__ import annotations

import statistics
import time
from collections import defaultdict

from . import stats

# per-layer metric name -> unit (BENCHMARK.json per_layer lists these)
PER_LAYER = {
    "session.start_s": "s",
    "sources.ingest_s": "s",
    "sources.jobs": "count",
    "interval.flatten_s": "s",
    "interval.ranges_per_block": "ratio",
    "refresh.trigger_ms": "ms",
    "refresh.add_batch_ms": "ms",
    "refresh.commit_ms": "ms",
    "refresh.read_ms": "ms",
    "refresh.retain_ms": "ms",
    "api.parse_ms": "ms",
    "api.response_construct_ms": "ms",
    "request.execute_ms": "ms",
    "request.jobs": "count",
    "annotate.construct_ms": "ms",
    "annotate.construct_jobs": "count",
    "rangejoin.construct_ms.geo": "ms",
    "rangejoin.construct_ms.asn": "ms",
    "rangejoin.build_rows": "count",
    "asof.construct_ms": "ms",
    "rangejoin.kernel_ms": "ms",
    "ip.parse_udf_ms": "ms",
    "exec.python_rows_sent": "count",
    "exec.python_bytes_sent": "bytes",
    "exec.broadcast_build_ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_ms": "ms",
    "exec.executor_cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "curation.construct_s": "s",
    "curation.construct_jobs": "count",
    "curation.execute_s": "s",
    "caching.live_caches": "count",
    "caching.cached_bytes": "bytes",
    "partitioning.spread_calls": "count",
    "partitioning.spread_fired": "count",
    "trace.self_coverage": "ratio",
    "trace.overhead_ratio": "ratio",
}

SOURCE_SPANS = ("sources.geolite2_blocks", "sources.geolite2_locations", "sources.routeviews_pfx2as", "sources.asnames")


def install_wrappers(tracer) -> None:
    """Spans around the program's public functions, placed on the name
    each caller looks up (module globals for cross-layer calls)."""
    import pyspark.sql

    from annotation_service_spark import partitioning, session
    from annotation_service_spark.operators import interval
    from annotation_service_spark.plans import annotate, api
    from annotation_service_spark.sources import dims, geolite2, routeviews
    from annotation_service_spark.streaming import refresh

    w = tracer.wrap
    w(session, "get_session", "get_session")
    w(geolite2, "geolite2_blocks", "sources.geolite2_blocks")
    w(geolite2, "geolite2_locations", "sources.geolite2_locations")
    w(routeviews, "routeviews_pfx2as", "sources.routeviews_pfx2as")
    w(dims, "asnames", "sources.asnames")
    w(geolite2, "check_error_budget", "sources.check_error_budget")
    w(geolite2, "build_geo_ranges", "interval.build_geo_ranges")
    w(routeviews, "build_asn_ranges", "interval.build_asn_ranges")
    w(geolite2, "flatten_intervals", "interval.flatten_intervals")
    w(routeviews, "flatten_intervals", "interval.flatten_intervals")
    w(api, "parse_requests", "api.parse_requests")
    w(api, "go_v2_response_document", "api.go_v2_response_document")
    w(annotate, "annotate", "annotate")

    def rj_tag(args, kwargs):
        payload = kwargs.get("payload") or (args[4] if len(args) > 4 else ())
        return {"table": "geo" if "gid" in payload else "asn"}

    w(annotate, "range_join_broadcast", "rangejoin.range_join_broadcast", tag=rj_tag)
    w(interval, "range_join_broadcast", "rangejoin.range_join_broadcast", tag=rj_tag)
    w(annotate, "asof_join", "asof.asof_join")
    for m in ("commit", "read", "retain"):
        w(refresh.VersionedTableManifest, m, f"refresh.manifest_{m}")

    original_spread = partitioning.spread_underparallel

    def spread(df, *a, **k):
        with tracer.span("partitioning.spread_underparallel") as s:
            out = original_spread(df, *a, **k)
            s.attrs["fired"] = out is not df
            return out

    tracer._wrapped.append((partitioning, "spread_underparallel", original_spread))
    partitioning.spread_underparallel = spread
    try:  # Spark 4 routes classic sessions through a subclass
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        DataFrame = pyspark.sql.DataFrame
    w(DataFrame, "toPandas", "spark.toPandas", rows=True)


def sample_caches(tracer, spark) -> None:
    """Live scoped caches and cached bytes after an operation."""
    from annotation_service_spark.caching import live_cache_count

    t = time.perf_counter()
    info = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    cached = sum(info[i].memSize() + info[i].diskSize() for i in range(len(info)))
    root = next(s for s in reversed(tracer.spans) if s.parent is None and s.name.startswith("op."))
    tracer.op_counters[root.id]["caching.live_caches"] = live_cache_count()
    tracer.op_counters[root.id]["caching.cached_bytes"] = cached
    tracer.overhead_s += time.perf_counter() - t


def _subtree(spans) -> dict[int, list]:
    kids = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    return kids


def _descendants(root, kids):
    stack = [root]
    while stack:
        s = stack.pop()
        yield s
        stack.extend(kids[s.id])


def layer_metrics(tracer, workload) -> dict[str, float]:
    """Per root span (set-up phase, each operation) sum each layer's
    numbers; report the median over the roots where the layer ran.
    Spark execution counters (``exec.*``, operator times, caches) come
    from the timed operations only."""
    spans = [s for s in tracer.spans if s.end is not None]
    by_id = {s.id: s for s in spans}
    kids = _subtree(spans)
    roots = [s for s in spans if s.parent is None and not s.attrs.get("warmup")]
    per_root: dict[str, list[float]] = defaultdict(list)

    def dur(s):
        return s.end - s.start

    def jobs_under(s):
        return sum(len(tracer.span_jobs.get(d.id, ())) for d in _descendants(s, kids))

    for r in roots:
        acc: dict[str, float] = defaultdict(float)
        seen: set[str] = set()
        blocks = r.attrs.get("blocks")
        for s in _descendants(r, kids):
            n = s.name
            if n == "get_session":
                acc["session.start_s"] += dur(s)
                seen.add("session.start_s")
            elif n in SOURCE_SPANS:
                acc["sources.ingest_s"] += dur(s)
                acc["sources.jobs"] += jobs_under(s)
                seen.update(("sources.ingest_s", "sources.jobs"))
            elif n in ("interval.build_geo_ranges", "interval.build_asn_ranges"):
                acc["interval.flatten_s"] += dur(s)
                seen.add("interval.flatten_s")
            elif n.startswith("refresh.manifest_"):
                key = "refresh." + n.split("_", 1)[1] + "_ms"
                acc[key] += dur(s) * 1e3
                seen.add(key)
            elif n == "api.parse_requests":
                acc["api.parse_ms"] += dur(s) * 1e3
                seen.add("api.parse_ms")
            elif n == "api.go_v2_response_document":
                acc["api.response_construct_ms"] += dur(s) * 1e3
                seen.add("api.response_construct_ms")
            elif n == "annotate":
                acc["annotate.construct_ms"] += dur(s) * 1e3
                acc["annotate.construct_jobs"] += jobs_under(s)
                seen.update(("annotate.construct_ms", "annotate.construct_jobs"))
            elif n == "rangejoin.range_join_broadcast":
                key = f"rangejoin.construct_ms.{s.attrs.get('table')}"
                acc[key] += dur(s) * 1e3
                acc["rangejoin.build_rows"] += sum(
                    d.attrs.get("rows", 0) for d in _descendants(s, kids) if d.name == "spark.toPandas"
                )
                seen.update((key, "rangejoin.build_rows"))
            elif n == "asof.asof_join":
                acc["asof.construct_ms"] += dur(s) * 1e3
                seen.add("asof.construct_ms")
            elif n == "partitioning.spread_underparallel":
                acc["partitioning.spread_calls"] += 1
                acc["partitioning.spread_fired"] += bool(s.attrs.get("fired"))
                seen.update(("partitioning.spread_calls", "partitioning.spread_fired"))
            elif n == "curation.construct":
                acc["curation.construct_s"] += dur(s)
                acc["curation.construct_jobs"] += jobs_under(s)
                seen.update(("curation.construct_s", "curation.construct_jobs"))
            elif n == "action":
                parent = by_id.get(s.parent)
                if parent is not None and parent.name == "op.request":
                    acc["request.execute_ms"] += dur(s) * 1e3
                    acc["request.jobs"] += jobs_under(s)
                    seen.update(("request.execute_ms", "request.jobs"))
                elif parent is not None and parent.name == "op.curation":
                    acc["curation.execute_s"] += dur(s)
                    seen.add("curation.execute_s")
        counters = tracer.op_counters.get(r.id, {})
        is_op = r.name.startswith("op.")
        for k, v in counters.items():
            if not is_op and not k.startswith("interval."):
                continue  # execution counters describe operations, not set-up
            if k == "interval.flatten_ms":
                acc["interval.flatten_s"] += v / 1e3
                seen.add("interval.flatten_s")
            elif k == "interval.flatten_rows":
                if blocks:
                    acc["interval.ranges_per_block"] += v / blocks
                    seen.add("interval.ranges_per_block")
            elif k in PER_LAYER:
                acc[k] += v
                seen.add(k)
        for k in seen:
            per_root[k].append(acc[k])
    out = {k: (statistics.median(per_root[k]) if per_root.get(k) else 0.0) for k in PER_LAYER}
    prog = [p for p in getattr(getattr(workload, "pub", None), "progress", []) if p.get("addBatch")]
    if prog:
        out["refresh.trigger_ms"] = statistics.median(p.get("triggerExecution", 0) for p in prog)
        out["refresh.add_batch_ms"] = statistics.median(p["addBatch"] for p in prog)
    return out


def build(args, wl, ops, warm, facts, env, *, setup_s, session_s, publish_s, prepare_s,
          measured_s, timed_overhead_s, peak_rss, tracer) -> dict:
    client_ops = getattr(wl, "client_ops", [])
    # every checked operation counts for correctness, warm-up included;
    # latencies come from the timed operations that completed (a wrong
    # answer still took its time; a raised one has none)
    all_ops = warm + ops + client_ops
    attempted = len(all_ops)
    failed = sum(not o.ok for o in all_ops)
    done = [o for o in ops if o.latency_s > 0]
    if not done:
        raise RuntimeError(f"no operation completed; first error: {next((o.error for o in ops if o.error), None)}")
    lat = [o.latency_s for o in done]
    summary_ms = stats.summary(lat, 1e3)
    if client_ops:
        items_per_s = sum(o.items for o in client_ops if o.latency_s > 0) / measured_s
    else:
        items_per_s = sum(o.items for o in done) / sum(lat)
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (summary_ms["p50"], "ms"),
        "peak_rss_mb": (peak_rss / 2**20, "MB"),
    }
    named = named_metrics(wl, all_ops, client_ops, summary_ms, items_per_s, setup_s, peak_rss)
    detail = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": facts,
        "spark_env": {k: v for k, v in env.items() if k.startswith("SPARK_GRAFT")},
        "phases_s": {"prepare_untimed": prepare_s, "session": session_s, "publish": publish_s,
                     "measured": measured_s},
        "metrics": named,
        "op_samples": summary_ms,
        "op_latencies_ms": [round(o.latency_s * 1e3, 1) for o in ops],
        "warmup_latencies_ms": [round(o.latency_s * 1e3, 1) for o in warm],
        "error_ratio": failed / attempted,
        "checked_ops": {"warmup": len(warm), "timed": len(ops), "client": len(client_ops)},
        "errors": [o.error for o in all_ops if o.error][:5],
        "note": "numbers pin the session to this host's cores; BENCH_r01..r14 ran local[32] and do not compare",
    }
    if tracer is not None:
        layers = layer_metrics(tracer, wl)
        main_self = tracer.self_times(thread="MainThread")
        wall = sum(s.end - s.start for s in tracer.spans if s.parent is None and s.thread == "MainThread" and s.end)
        first = min(s.start for s in tracer.spans)
        last = max(s.end for s in tracer.spans if s.end)
        layers["trace.self_coverage"] = tracer.coverage("MainThread")
        # the tracer's own time over the untraced work of the same (timed) phase
        layers["trace.overhead_ratio"] = timed_overhead_s / (measured_s - timed_overhead_s)
        detail["self_time_ms"] = {k: round(v * 1e3, 3) for k, v in sorted(main_self.items(), key=lambda kv: -kv[1])}
        detail["tracing_overhead_s"] = {"whole_run": tracer.overhead_s, "timed_phase": timed_overhead_s}
        detail["unattributed_jobs"] = tracer.unattributed_jobs
        detail["root_counters"] = {
            f"{s.name}#{s.id}": dict(tracer.op_counters[s.id]) for s in tracer.spans if s.id in tracer.op_counters
        }
        detail["traced_wall_s"] = last - first
        detail["root_span_s"] = wall
        metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    final = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    return {"detail": detail, "final": final}


def named_metrics(wl, all_ops, client_ops, summary_ms, items_per_s, setup_s, peak_rss) -> dict:
    """The workload's own end-to-end metrics, with units."""
    m = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "peak_rss_mb": {"value": peak_rss / 2**20, "unit": "MB"},
    }
    m["error_ratio"] = {"value": sum(not o.ok for o in all_ops) / max(1, len(all_ops)), "unit": "ratio"}
    tail_name = f"p{summary_ms['tail_pct']:g}" if summary_ms["tail_pct"] else f"none supported by n={summary_ms['n']}"
    if wl.name == "bulk_annotate":
        m["bulk_rows_per_s"] = {"value": items_per_s, "unit": "rows/s", "input_rows": wl.n_probes}
    elif wl.name == "api_requests":
        m["api_p50_ms"] = {"value": summary_ms["p50"], "unit": "ms", "n": summary_ms["n"]}
        m["api_tail_ms"] = {"value": summary_ms["tail"], "unit": "ms", "percentile": tail_name}
    elif wl.name == "refresh_under_load":
        m["refresh_s"] = {"value": summary_ms["p50"] / 1e3, "unit": "s", "n": summary_ms["n"]}
        c = stats.summary([o.latency_s for o in client_ops if o.latency_s > 0], 1e3)
        ctail = f"p{c['tail_pct']:g}" if c["tail_pct"] else f"none supported by n={c['n']}"
        m["refresh_api_p50_ms"] = {"value": c["p50"], "unit": "ms", "n": c["n"]}
        m["refresh_api_tail_ms"] = {"value": c["tail"], "unit": "ms", "percentile": ctail}
    elif wl.name == "curation_pipeline":
        m["curation_docs_per_s"] = {"value": items_per_s, "unit": "docs/s", "corpus_docs": wl.n_docs}
    return m
