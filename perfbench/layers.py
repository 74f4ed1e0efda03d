"""Fold the traced run's spans and Spark event log into per-layer metrics.

Unless a name says otherwise, times and counts are per client op (the
run's total divided by the ops it attempted), so runs of different
lengths compare. Spark job metrics of a layer cover every job submitted
under one of its spans, at any depth; a job submitted by the client op
itself (the action on a lazy DataFrame an engine call returned) belongs
to the last engine call the op made before submitting it.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from spans import attribute_jobs, read_event_log, self_times
from workloads import DOC_QUERIES, META_KINDS

EXEC_LAYERS = ("publish", "fetch", "maintenance", "text_index", "ann_index", "operators")
SELF_LAYERS = ("fs", "metadata") + EXEC_LAYERS + ("op",)
_EXEC = (
    ("exec_run_s", "s"), ("exec_cpu_s", "s"), ("gc_s", "s"),
    ("input_bytes", "bytes"), ("shuffle_bytes", "bytes"), ("peak_exec_mem_mb", "MB"),
)

#: every per-layer metric, in report order, with its unit
PER_LAYER = (
    [("session.start_s", "s"), ("session.warmup_s", "s"), ("jvm.heap_peak_mb", "MB"),
     ("python_workers.pss_mb", "MB"),
     ("publish.driver_s", "s"), ("publish.spark_s", "s"), ("publish.jobs", "count"),
     ("publish.files_written", "count"), ("publish.bytes_written", "bytes"),
     ("fs.list_calls", "count"), ("fs.list_s", "s"), ("fs.read_calls", "count"),
     ("fs.write_calls", "count"), ("fs.rename_calls", "count"),
     ("metadata.read_sidecar_s", "s"), ("metadata.merge_sidecar_s", "s"),
     ("metadata.write_sidecar_s", "s"), ("metadata.manifest_reads", "count"),
     ("metadata.sidecar_bytes", "bytes"),
     ("fetch.plan_s", "s"), ("fetch.exec_s", "s"), ("fetch.jobs", "count"),
     ("fetch.files_kept_ratio", "ratio"), ("fetch.meta_op_s", "s"),
     ("maintenance.compact_s", "s"), ("maintenance.bytes_rewritten", "bytes"),
     ("text_index.build_s", "s"), ("text_index.reindex_s", "s"),
     ("text_index.search_s", "s"), ("text_index.jobs", "count"),
     ("ann_index.build_s", "s"), ("ann_index.append_s", "s"),
     ("ann_index.search_s", "s"), ("ann_index.jobs", "count")]
    + [(f"operators.{q}_s", "s") for q in DOC_QUERIES]
    + [(f"{lay}.{m}", u) for lay in EXEC_LAYERS for m, u in _EXEC]
    + [(f"{lay}.self_s", "s") for lay in SELF_LAYERS]
    + [("spark.jobs", "count"), ("spark.jobs_window_attributed", "count"),
       ("trace.spans", "count"), ("trace.overhead_s", "s"), ("traced.setup_s", "s"), ("traced.op_p50_s", "s"),
       ("traced.op_tail_s", "s"), ("traced.ops_per_s", "1/s")]
)


def _union(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _mean(xs) -> float:
    return statistics.fmean(xs) if xs else 0.0


def per_layer(rec, b, wl, log_dir: str, given: dict) -> dict:
    # spans of the timed ops only (the loop's warm-up runs traced too)
    spans = [s for s in rec.spans if s.t1 is not None and s.t0 >= b.t_first]
    by_id = {s.sid: s for s in spans}
    n_ops = max(1, len(b.ops))
    jobs = read_event_log(log_dir)
    window = attribute_jobs(spans, jobs, rec.main_thread)
    jobs = [j for j in jobs.values() if j["span"] in by_id]

    kids = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)

    def chain(sid):
        out = []
        while sid is not None and sid in by_id:
            out.append(by_id[sid])
            sid = by_id[sid].parent
        return out

    # an action the op itself submitted belongs to its last engine call
    for j in jobs:
        s = by_id[j["span"]]
        if s.sid in rec.op_sids:
            done = [c for c in kids[s.sid] if c.t1 <= j["t0"]]
            if done:
                j["span"] = max(done, key=lambda c: c.t1).sid
        j["layers"] = {c.layer for c in chain(j["span"])}

    m = dict.fromkeys((n for n, _ in PER_LAYER), 0.0)
    m.update(given)
    m["spark.jobs"] = len(jobs) / n_ops
    m["spark.jobs_window_attributed"] = window
    m["trace.spans"] = len(spans) / n_ops
    m["trace.overhead_s"] = rec.cost / n_ops

    def named(*names):
        return [s for s in spans if s.name in names]

    def layer_jobs(layer):
        return [j for j in jobs if layer in j["layers"]]

    # publish: driver time is span time outside its Spark jobs
    top_pub = [s for s in spans if s.layer == "publish"
               and not any(c.layer == "publish" for c in chain(s.parent))]
    pub_jobs = layer_jobs("publish")
    spark_s = driver_s = 0.0
    for s in top_pub:
        iv = [(max(j["t0"], s.t0), min(j["t1"], s.t1)) for j in pub_jobs
              if s.t0 <= j["t0"] <= s.t1]
        u = _union([x for x in iv if x[1] > x[0]])
        spark_s += u
        driver_s += (s.t1 - s.t0) - u
    m["publish.driver_s"] = driver_s / n_ops
    m["publish.spark_s"] = spark_s / n_ops
    m["publish.jobs"] = len(pub_jobs) / n_ops
    m["publish.files_written"] = sum(s.result for s in named("publish_path")
                                     if isinstance(s.result, int)) / n_ops
    m["publish.bytes_written"] = sum(j["output_bytes"] for j in pub_jobs) / n_ops

    m["fs.list_calls"] = len(named("list_files", "list_file_sizes")) / n_ops
    m["fs.list_s"] = sum(s.t1 - s.t0 for s in named("list_files", "list_file_sizes")) / n_ops
    m["fs.read_calls"] = len(named("read_text", "read_bytes", "read_json")) / n_ops
    m["fs.write_calls"] = len(named("write_text", "write_bytes", "write_json")) / n_ops
    m["fs.rename_calls"] = len(named("rename")) / n_ops
    for fn in ("read_sidecar", "merge_sidecar", "write_sidecar"):
        m[f"metadata.{fn}_s"] = sum(s.t1 - s.t0 for s in named(fn)) / n_ops
    reads = [o for o in b.ops if o.kind in wl.read_kinds]
    m["metadata.manifest_reads"] = _mean([o.manifest_reads for o in reads])

    fp = [s for s in named("fetch_path") if s.parent in rec.op_sids]
    m["fetch.plan_s"] = _mean([s.t1 - s.t0 for s in fp])
    m["fetch.exec_s"] = _mean([by_id[s.parent].t1 - s.t1 for s in fp])
    m["fetch.jobs"] = len(layer_jobs("fetch")) / n_ops
    kept = live = 0
    for s in fp[:200]:
        if s.result is not None:
            kept += s.result[0]
            live += s.result[1]
    m["fetch.files_kept_ratio"] = kept / live if live else 0.0
    m["fetch.meta_op_s"] = _mean(b.times(*META_KINDS))

    comp = named("compact_dataset")
    m["maintenance.compact_s"] = _mean([s.t1 - s.t0 for s in comp])
    m["maintenance.bytes_rewritten"] = (
        sum(j["output_bytes"] for j in layer_jobs("maintenance")) / max(1, len(comp)))

    for lay, build, update, search in (
        ("text_index", "build_text_index", "reindex_documents",
         ("search_text_index_batch", "search_text_index")),
        ("ann_index", "build_ivf_index", "append_to_ivf_index",
         ("search_ivf_index", "search_ivf_index_batch")),
    ):
        m[f"{lay}.build_s"] = sum(s.t1 - s.t0 for s in named(build))
        key = "reindex_s" if lay == "text_index" else "append_s"
        m[f"{lay}.{key}"] = _mean([s.t1 - s.t0 for s in named(update)])
        # a search call returns a lazy frame: its time runs to the op's end
        m[f"{lay}.search_s"] = _mean([by_id[s.parent].t1 - s.t0 for s in named(*search)
                                      if s.parent in rec.op_sids])
        m[f"{lay}.jobs"] = len(layer_jobs(lay)) / n_ops

    for q in DOC_QUERIES:
        xs = b.times(q)
        m[f"operators.{q}_s"] = statistics.median(xs) if xs else 0.0

    for lay in EXEC_LAYERS:
        js = layer_jobs(lay)
        m[f"{lay}.exec_run_s"] = sum(j["run_s"] for j in js) / n_ops
        m[f"{lay}.exec_cpu_s"] = sum(j["cpu_s"] for j in js) / n_ops
        m[f"{lay}.gc_s"] = sum(j["gc_s"] for j in js) / n_ops
        m[f"{lay}.input_bytes"] = sum(j["input_bytes"] for j in js) / n_ops
        m[f"{lay}.shuffle_bytes"] = sum(j["shuffle_bytes"] for j in js) / n_ops
        m[f"{lay}.peak_exec_mem_mb"] = max([j["peak_mem"] for j in js], default=0) / 2**20

    selfs = self_times(spans)
    for lay in SELF_LAYERS:
        m[f"{lay}.self_s"] = sum(selfs[s.sid] for s in spans if s.layer == lay) / n_ops

    units = dict(PER_LAYER)
    return {k: {"value": float(m[k]), "unit": units[k]} for k in units}
