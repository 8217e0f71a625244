"""Metrics of one run: the end-to-end set (untraced run), the per-layer
set (traced run), and a human-readable table of both.

The metric names and units here are the ones BENCHMARK.json declares;
``test_perfbench.py`` keeps the two in step.
"""

from __future__ import annotations

import harness

END_TO_END = {
    "setup_s": "s",
    "query_p50_ms": "ms",
    "query_p90_ms": "ms",
    "query_gmean_ms": "ms",
    "query_qps": "1/s",
    "ops_per_s": "1/s",
    "build_docs_per_s": "1/s",
    "index_bytes_per_text_byte": "B/B",
}

# index tables reported one by one; keyword sidecars (fields_by_*) summed
TABLES = ("postings_flat", "postings_blocks", "doc_stats", "term_dict",
          "completion", "fields", "global_stats")

# per-op self time of these span names, in ms
SELF_MS = {
    "topk.term_meta_ms": "topk.term_meta",
    "topk.block_fetch_ms": "topk.block_fetch",
    "topk.decode_ms": "topk.decode",
    "topk.filter_ms": "topk.filter",
    "topk.kernel_ms": "topk.kernel",
    "topk.url_fetch_ms": "topk.url_fetch",
    "topk.wand_ms": "topk.wand",
    "topk.fanout_ms": "topk.fanout",
    "topk.df_ms": "topk.df",
    "aggs.agg_ms": "aggs.agg",
    "incremental.apply_ms": "incremental.apply",
    "topk.engine_open_ms": "topk.engine_open",
}

# in the layer table but reported per sync op / per open instead
TABLE_ONLY = ("incremental.apply_ms", "topk.engine_open_ms")

PER_LAYER = {
    **{f"build_index.{s}_s": "s" for s in
       ("flat", "stats", "encode", "term_dict", "fields", "flat_task",
        "encode_read", "encode_kernel", "encode_write")},
    "build_index.postings": "count",
    "build_index.blocks": "count",
    "build_index.spark_jobs": "count",
    **{f"catalog.bytes.{t}": "B" for t in TABLES},
    "catalog.bytes.sidecars": "B",
    "catalog.bytes_per_posting": "B",
    "incremental.apply_s": "s",
    "incremental.spark_jobs": "count",
    "topk.engine_open_ms": "ms",
    **{k: "ms" for k in SELF_MS if k not in TABLE_ONLY},
    "topk.terms_requested": "count",
    "topk.terms_fetched": "count",
    "topk.block_cache_hit_ratio": "ratio",
    "topk.blocks_decoded": "count",
    "topk.postings_scored_per_hit": "count",
    "topk.fanout_groups": "count",
    "spark.jobs_per_query": "count",
    "spark.tasks_per_query": "count",
    "trace.unattributed_ms": "ms",
    "trace.op_ms": "ms",
    "trace.untraced_op_ms": "ms",
    "trace.overhead_pct": "%",
    "ops.failed_ratio": "ratio",
}


def _all_lat(run) -> list[float]:
    return [x for v in run.lat.values() for x in v]


def _query_lat(run) -> list[float]:
    """Latencies of the query ops: every op but the change batches."""
    return [x for k, v in run.lat.items() if k != "sync" for x in v]


def _groups(run) -> dict[str, list[float]]:
    """Latencies per query population (the ``.hot`` / ``.tail`` suffix
    of the serve op kinds)."""
    out: dict[str, list[float]] = {}
    for k, v in run.lat.items():
        if "." in k:
            out.setdefault(k.rsplit(".", 1)[1], []).extend(v)
    return out


def end_to_end(run) -> dict[str, float]:
    lat, q = _all_lat(run), _query_lat(run)
    info = run.info
    return {
        "setup_s": info["setup_s"],
        "query_p50_ms": harness.median(q) * 1e3,
        "query_p90_ms": harness.pct(q, 90) * 1e3,
        "query_gmean_ms": harness.gmean(q) * 1e3,
        "query_qps": len(q) / sum(q) if q else 0.0,
        "ops_per_s": len(lat) / sum(lat) if lat else 0.0,
        "build_docs_per_s": info["build_docs"] / info["build_s"],
        "index_bytes_per_text_byte": info["index_bytes"] / info["text_bytes"],
    }


def _div(a: float, b: float) -> float:
    return a / b if b else 0.0


def per_layer(run) -> dict[str, float]:
    rec, info, lin = run.rec, run.info, run.lineage
    ops = run.traced_ops
    n_ops = len(ops)
    in_ops = ops.__contains__
    selfs = rec.self_times(in_ops)
    setup = rec.totals(lambda rid: rid == "setup")
    out: dict[str, float] = {}
    for s in ("flat", "stats", "encode", "term_dict", "fields"):
        out[f"build_index.{s}_s"] = setup.get(f"build_index.{s}",
                                              (0.0, 0))[0]
    for k in ("flat_task", "encode_read", "encode_kernel", "encode_write"):
        out[f"build_index.{k}_s"] = lin.get(k, 0.0)
    out["build_index.postings"] = lin.get("postings", 0)
    out["build_index.blocks"] = lin.get("blocks", 0)
    out["build_index.spark_jobs"] = info["build_jobs"]
    sizes = run.sizes
    for t in TABLES:
        out[f"catalog.bytes.{t}"] = sizes.get(t, 0)
    out["catalog.bytes.sidecars"] = sum(v for t, v in sizes.items()
                                        if t.startswith("fields_by_"))
    out["catalog.bytes_per_posting"] = _div(sizes.get("postings_blocks", 0),
                                            lin.get("postings", 0))
    syncs = [r for r in ops if run.op_kind[r] == "sync"]
    queries = [r for r in ops if run.op_kind[r] != "sync"]
    apply_tot = rec.totals(in_ops).get("incremental.apply", (0.0, 0))[0]
    out["incremental.apply_s"] = _div(apply_tot, len(syncs))
    out["incremental.spark_jobs"] = _div(
        sum(run.op_jobs[r][0] for r in syncs), len(syncs))
    opens = rec.totals().get("topk.engine_open", (0.0, 0))
    out["topk.engine_open_ms"] = _div(opens[0], opens[1]) * 1e3
    run.layer_table = {key: _div(selfs.get(name, 0.0), n_ops) * 1e3
                       for key, name in SELF_MS.items()}
    for key, v in run.layer_table.items():
        if key not in TABLE_ONLY:
            out[key] = v
    c = lambda k: rec.counter(k, in_ops)      # noqa: E731
    req, fetched = c("topk.terms_requested"), c("topk.terms_fetched")
    out["topk.terms_requested"] = _div(req, n_ops)
    out["topk.terms_fetched"] = _div(fetched, n_ops)
    out["topk.block_cache_hit_ratio"] = _div(req - fetched, req)
    out["topk.blocks_decoded"] = _div(c("topk.blocks_decoded"), n_ops)
    out["topk.postings_scored_per_hit"] = _div(c("topk.kernel_postings"),
                                               c("topk.kernel_hits"))
    fan = rec.totals(in_ops).get("topk.fanout", (0.0, 0))[1]
    out["topk.fanout_groups"] = _div(c("topk.fanout_groups"), fan)
    out["spark.jobs_per_query"] = _div(
        sum(run.op_jobs[r][0] for r in queries), len(queries))
    out["spark.tasks_per_query"] = _div(
        sum(run.op_jobs[r][1] for r in queries), len(queries))
    roots = sum(v for k, v in selfs.items() if k.startswith("op."))
    out["trace.unattributed_ms"] = _div(roots, n_ops) * 1e3
    traced = harness.median(run.traced_lat) * 1e3
    untraced = harness.median(run.untraced_lat) * 1e3
    out["trace.op_ms"] = traced
    out["trace.untraced_op_ms"] = untraced
    out["trace.overhead_pct"] = _div(traced - untraced, untraced) * 100
    out["ops.failed_ratio"] = _div(run.failed, run.attempted)
    return out


def human(run, e2e: dict, layers: dict | None) -> list[str]:
    """Report lines (printed before the JSON result line)."""
    lines = [f"# workload={run.workload} seed={run.seed} "
             f"seconds={run.seconds} trace={int(run.trace)}"]
    lat = _all_lat(run)
    lines.append(f"# ops attempted={run.attempted} failed={run.failed} "
                 f"ops_failed_ratio={_div(run.failed, run.attempted):.4f}")
    for kind, v in sorted(run.lat.items()):
        lines.append(f"#   {kind:<12} n={len(v):<5} p50="
                     f"{harness.median(v) * 1e3:9.2f} ms  p90="
                     f"{harness.pct(v, 90) * 1e3:9.2f} ms  p99="
                     f"{harness.pct(v, 99) * 1e3:9.2f} ms  max="
                     f"{max(v) * 1e3:9.2f} ms")
    for pop, v in sorted(_groups(run).items()):
        lines.append(f"#   {pop:<12} n={len(v):<5} p50="
                     f"{harness.median(v) * 1e3:9.2f} ms  p90="
                     f"{harness.pct(v, 90) * 1e3:9.2f} ms")
    lines.append(f"#   all          n={len(lat)}")
    for k, v in sorted(run.info.items()):
        lines.append(f"# info {k} = {v:.6g}")
    for k, v in e2e.items():
        lines.append(f"# e2e {k} = {v:.6g} {END_TO_END[k]}")
    if layers is not None:
        op_ms = layers["trace.op_ms"]
        mean_ms = _div(sum(run.traced_lat), len(run.traced_lat)) * 1e3
        lines.append(f"# layer table (self ms per traced op; mean op "
                     f"{mean_ms:.3f} ms, n={len(run.traced_lat)})")
        rows = {**run.layer_table,
                "unattributed": layers["trace.unattributed_ms"]}
        for key, v in rows.items():
            lines.append(f"#   {key:<28} {v:10.3f} ms  "
                         f"{_div(v, mean_ms) * 100:6.1f} %")
        for pop in sorted(_groups(run)):
            keep = lambda r, p=pop: (r in run.traced_ops and      # noqa: E731
                                     run.op_kind[r].endswith("." + p))
            req = run.rec.counter("topk.terms_requested", keep)
            got = run.rec.counter("topk.terms_fetched", keep)
            st = run.rec.self_times(keep)
            io = st.get("topk.block_fetch", 0.0) + st.get("topk.decode", 0.0)
            tot = sum(st.values())       # self times partition the ops
            lines.append(f"# {pop} queries: block cache hit ratio "
                         f"{_div(req - got, req):.3f}, fetch+decode "
                         f"{_div(io, tot) * 100:.1f} % of their time")
        lines.append(f"# tracing overhead: median op {op_ms:.3f} ms traced vs "
                     f"{layers['trace.untraced_op_ms']:.3f} ms untraced "
                     f"({layers['trace.overhead_pct']:+.1f} %)")
        for k, v in layers.items():
            lines.append(f"# layer {k} = {v:.6g} {PER_LAYER[k]}")
    for e in run.errors[:20]:
        lines.append(f"# error {e}")
    return lines
