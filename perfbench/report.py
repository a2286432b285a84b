"""Turns one JVM run's result.json into the benchmark's metrics."""
import os

from metrics import mean, median, self_times, tail, union_length

# The op kind whose ops the end-to-end metrics are made of.
MAIN_KIND = {"ingest_stream": "batch", "pipe_cranker": "pipe"}
# Repo modules whose jobs and task time the traced run reports.
MODULES = ("ops.Dedup", "ops.Incremental")
MB = 1e6


def main_ops(res):
    return [o for o in res["ops"] if o["kind"] == MAIN_KIND[res["workload"]] and o["ok"]]


def latencies(res):
    """Per-op latency: for the stream, from the scheduled drop of the
    batch's file to its census row being committed; otherwise op wall."""
    return [o["end"] - o["due"] for o in main_ops(res)]


def failed_ops(res, problems):
    return max(sum(1 for o in res["ops"] if not o["ok"]), 1 if problems else 0)


def end_to_end(res):
    ops = main_ops(res)
    busy = sum(o["end"] - o["start"] for o in ops)
    return {
        "setup_s": median(res["setup_s"]),
        "docs_per_s": sum(o["docs"] for o in ops) / busy if busy else 0.0,
        "latency_p50_s": median(latencies(res)),
        "peak_rss_mb": res["peak_rss_mb"],
    }


def latency_tail(res):
    t = tail(latencies(res))
    return None if t is None else {"percentile": t[0], "value_s": t[1], "n": t[2]}


def _span_of(job):
    desc = job.get("desc") or ""
    return int(desc.split()[0][5:]) if desc.startswith("span=") else 0


def span_table(res):
    """Per span name: count, total and self seconds; per op: wall, the
    self times of its spans and the residual (the root's self time)."""
    spans = res.get("spans", [])
    selfs = self_times(spans)
    names = {}
    for s in spans:
        n = names.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
        n["count"] += 1
        n["total_s"] += s["end"] - s["start"]
        n["self_s"] += selfs[s["id"]]
    ops = {}
    for s in spans:
        o = ops.setdefault(s["op"], {"wall_s": 0.0, "self_sum_s": 0.0, "residual_s": 0.0})
        o["self_sum_s"] += selfs[s["id"]]
        if s["parent"] == 0:
            o["wall_s"] += s["end"] - s["start"]
            o["residual_s"] += selfs[s["id"]]
    return {"spans": names, "ops": ops}


def per_layer(res, untraced_p50):
    """Per-layer metrics of a traced run; `untraced_p50` is the untraced
    latency median the tracing overhead is measured against."""
    w = res["workload"]
    ops = main_ops(res)
    n = max(len(ops), 1)
    op_ids = {o["id"] for o in ops}
    w0, w1 = res["window"]
    spans = res["spans"]
    span_by_id = {s["id"]: s for s in spans}
    jobs = [j for j in res["jobs"] if w0 <= j["start"] <= w1]
    job_ids = {j["id"] for j in jobs}
    stages = [s for s in res["stages"] if s["job"] in job_ids]
    stages_of = {}
    for s in stages:
        stages_of.setdefault(s["job"], []).append(s)

    def run_s(js):
        return sum(s["run_s"] for j in js for s in stages_of.get(j["id"], []))

    def span_jobs(name, main_only=True):
        return [j for j in jobs if span_by_id.get(_span_of(j), {}).get("name") == name
                and (not main_only or j["group"] in op_ids)]

    def span_s(name, main_only=True):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name
                   and (not main_only or s["op"] in op_ids)
                   and not s["op"].startswith("setup"))

    m = {}

    def put(name, value, unit):
        m[name] = {"value": value, "unit": unit}

    # spark scheduler and compute, over every job in the window
    task_s = run_s(jobs)
    put("spark.jobs", len(jobs) / n, "count/op")
    put("spark.tasks", sum(s["tasks"] for s in stages) / n, "count/op")
    put("spark.task_s", task_s / n, "s/op")
    put("spark.core_busy", task_s / ((w1 - w0) * res["cores"]), "share")
    gaps = []
    for o in ops:
        iv = [(max(j["start"], o["start"]), min(j["end"] or o["end"], o["end"]))
              for j in jobs if j["group"] == o["id"]]
        gaps.append((o["end"] - o["start"]) - union_length(x for x in iv if x[1] > x[0]))
    put("spark.driver_gap_s", mean(gaps), "s/op")
    put("spark.shuffle_mb", sum(s["shuffle_b"] for s in stages) / MB / n, "MB/op")
    put("spark.spill_mb", sum(s["spill_b"] for s in stages) / MB / n, "MB/op")
    put("spark.gc_s", sum(s["gc_s"] for s in stages) / n, "s/op")
    put("scan.input_mb", sum(s["input_b"] for s in stages) / MB / n, "MB/op")

    # repo modules, by the innermost repo frame of each job's call site
    for mod in MODULES:
        js = [j for j in jobs if j["module"] == mod]
        put(f"{mod}.jobs", len(js) / n, "count/op")
        put(f"{mod}.task_s", run_s(js) / n, "s/op")

    # ops.Incremental: admission, compaction, catalog
    put("admit_s", span_s("Incremental.admitBatch") / n, "s/op")
    put("admit.jobs", len(span_jobs("Incremental.admitBatch")) / n, "count/op")
    put("compact_s", span_s("Incremental.compactStores", main_only=False), "s")
    put("compact.jobs", len(span_jobs("Incremental.compactStores", main_only=False)), "count")
    put("catalog.resolve_s", span_s("catalog.resolve") / n, "s/op")
    put("catalog.commit_s", span_s("catalog.commit", main_only=False), "s")

    # stores
    put("store.mb_written", sum(s["output_b"] for s in stages) / MB, "MB")
    put("store.files_written", res.get("store_files_written", 0), "count")
    put("store.files_live", res.get("store_files_live", 0), "count")
    live = res.get("live_bytes", 0)
    put("store_mb_per_live_mb", res.get("store_bytes", 0) / live if live else 0.0, "ratio")

    # streaming and its generator
    prog = res.get("progress", [])
    put("stream.trigger_s", mean([p["trigger_s"] for p in prog]), "s/op")
    put("stream.overhead_s", mean([p["trigger_s"] - p["add_batch_s"] for p in prog]), "s/op")
    put("stream.queue_s", mean(res.get("queue_s", [])), "s/op")
    put("stream.backlog_max", res.get("backlog_max", 0), "count")
    put("gen.lag_s", res.get("gen_lag_max_s", 0.0), "s")

    # the external pipe: children log their own start and end
    children = []
    if w == "pipe_cranker" and os.path.exists(res["pipe_log"]):
        with open(res["pipe_log"]) as f:
            children = [(float(a), float(b)) for _, a, b, _ in (line.split() for line in f)]
    children = [c for c in children if w0 <= c[0] <= w1]
    child_s = sum(b - a for a, b in children)
    pipe_ops = ops if w == "pipe_cranker" else []
    pipe_jobs = [j for j in jobs if j["group"] in {o["id"] for o in pipe_ops}]
    put("pipe.job_s", mean([o["end"] - o["start"] for o in pipe_ops]), "s/op")
    put("pipe.staged_mb", mean([o["bytes"] / MB for o in pipe_ops]), "MB/op")
    put("pipe.forks", len(children) / n if pipe_ops else 0.0, "count/op")
    put("pipe.child_s", child_s / n if pipe_ops else 0.0, "s/op")
    put("pipe.overhead_s", (run_s(pipe_jobs) - child_s) / n if pipe_ops else 0.0, "s/op")
    put("pipe.output_mb", mean([(o["rows"][0][0] + o["rows"][0][1]) / MB for o in pipe_ops]),
        "MB/op")
    left = 0
    if w == "pipe_cranker":
        left = sum(len(fs) for _, _, fs in os.walk(res["pipe_stage"]))
    put("pipe.scratch_files_left", left, "count")

    # the trace itself
    traced = median([o["end"] - o["due"] for o in ops])
    put("trace.overhead_s", traced - untraced_p50, "s")
    table = span_table(res)["ops"]
    walls = sum(table[i]["wall_s"] for i in op_ids if i in table)
    put("trace.residual_share",
        sum(table[i]["residual_s"] for i in op_ids if i in table) / walls if walls else 0.0,
        "share")
    return m
