"""Per-layer metrics from a traced run.

Input is the trace the harness writes (perfbench/src/perfbench/Trace.scala):
spans (layer, name, op, parent, start, end in µs), the Spark jobs with
the span they were charged to and their task metrics, and the
query-planning phases. Only jobs and spans of the timed region count.

Self time of a span is its interval minus the union of its children's
intervals. Driver time is the part of that self time no Spark job
covers: a job that outlives its span is clipped to the span.
"""

SPAN_LAYERS = ["Tables", "quality", "features", "ml", "pipeline",
               "sources.commit", "sources.ivm", "sources.read", "sources.maintain",
               "operators", "dedup", "similarity", "text", "multimodal"]
SPAN_FIELDS = [("calls", "count"), ("self_ms", "ms"), ("jobs", "count"),
               ("task_ms", "ms"), ("driver_ms", "ms"), ("failed", "count")]
ENGINE = [("analysis_ms", "ms"), ("optimizer_ms", "ms"), ("planning_ms", "ms"),
          ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
          ("task_ms", "ms"), ("cpu_ms", "ms"), ("core_use", "ratio"),
          ("shuffle_write_bytes", "bytes"), ("shuffle_read_bytes", "bytes"),
          ("spill_bytes", "bytes"), ("input_bytes", "bytes"),
          ("outside_jobs_ms", "ms"), ("construct_jobs", "count")]
TABLE = [("sources.log_versions", "count"), ("sources.data_files", "count"),
         ("sources.bytes_written", "bytes"), ("sources.write_amp", "ratio"),
         ("sources.files_pruned_ratio", "ratio"), ("quality.rows_quarantined", "count")]


def per_layer_units():
    """Every per-layer metric name -> unit, in report order."""
    out = {}
    for layer in SPAN_LAYERS:
        for f, u in SPAN_FIELDS:
            out[f"{layer}.{f}"] = u
    for f, u in ENGINE:
        out[f"engine.{f}"] = u
    for name, u in TABLE:
        out[name] = u
    return out


def union(intervals):
    """Sorted, disjoint cover of [(start, end)] intervals."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [tuple(i) for i in out]


def subtract(base, cut):
    """Parts of the disjoint intervals `base` not covered by `cut`."""
    cut = union(cut)
    out = []
    for s, e in base:
        cur = s
        for cs, ce in cut:
            if ce <= cur or cs >= e:
                continue
            if cs > cur:
                out.append((cur, cs))
            cur = max(cur, ce)
            if cur >= e:
                break
        if cur < e:
            out.append((cur, e))
    return out


def length(intervals):
    return sum(e - s for s, e in intervals)


def span_times(spans, jobs):
    """span id -> (self µs, driver µs)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    job_cover = union((j["start"], j["end"]) for j in jobs if j["end"] >= 0)
    out = {}
    for s in spans:
        own = subtract([(s["start"], s["end"])], kids.get(s["id"], []))
        out[s["id"]] = (length(own), length(subtract(own, job_cover)))
    return out


def layer_metrics(trace, extra):
    """All per-layer metrics of one traced run (name -> value)."""
    t0, t1 = trace["window"]
    cores = trace["cores"]
    spans = [s for s in trace["spans"] if s["start"] >= t0 and s["end"] <= t1 and s["end"] >= 0]
    jobs = [j for j in trace["jobs"] if j["phase"] == "timed"]
    layer_of = {s["id"]: s["layer"] for s in spans}
    m = {name: 0.0 for name in per_layer_units()}
    times = span_times(spans, jobs)
    for s in spans:
        L = s["layer"]
        if f"{L}.calls" not in m:
            continue
        self_us, driver_us = times[s["id"]]
        m[f"{L}.calls"] += 1
        m[f"{L}.self_ms"] += self_us / 1000.0
        m[f"{L}.driver_ms"] += driver_us / 1000.0
        m[f"{L}.failed"] += 1 if s["failed"] else 0
    for j in jobs:
        L = layer_of.get(j["span"])
        if L and f"{L}.jobs" in m:
            m[f"{L}.jobs"] += 1
            m[f"{L}.task_ms"] += j["task_ms"]
    busy = union((max(j["start"], t0), min(j["end"], t1)) for j in jobs if j["end"] >= 0)
    busy_ms = length(busy) / 1000.0
    e = {
        "jobs": len(jobs),
        "stages": sum(j["stages"] for j in jobs),
        "tasks": sum(j["tasks"] for j in jobs),
        "task_ms": sum(j["task_ms"] for j in jobs),
        "cpu_ms": sum(j["cpu_ms"] for j in jobs),
        "shuffle_write_bytes": sum(j["shuffle_write"] for j in jobs),
        "shuffle_read_bytes": sum(j["shuffle_read"] for j in jobs),
        "spill_bytes": sum(j["spill"] for j in jobs),
        "input_bytes": sum(j["input"] for j in jobs),
        "outside_jobs_ms": (t1 - t0) / 1000.0 - busy_ms,
        "construct_jobs": sum(1 for j in jobs if j["construct"]),
    }
    e["core_use"] = e["task_ms"] / (busy_ms * cores) if busy_ms > 0 else 0.0
    for q in trace["queries"]:
        if t0 <= q["t"] <= t1:
            for k in ("analysis_ms", "optimizer_ms", "planning_ms"):
                e[k] = e.get(k, 0) + q[k]
    for k, v in e.items():
        m[f"engine.{k}"] = float(v)
    for k in ("log_versions", "data_files", "bytes_written"):
        m[f"sources.{k}"] = float(extra.get(k, 0))
    changed = extra.get("changed_rows", 0) * extra.get("live_row_bytes", 0)
    m["sources.write_amp"] = extra.get("bytes_written", 0) / changed if changed else 0.0
    total = extra.get("files_total", 0)
    m["sources.files_pruned_ratio"] = extra.get("files_skipped", 0) / total if total else 0.0
    m["quality.rows_quarantined"] = float(extra.get("rows_quarantined", 0))
    return m
