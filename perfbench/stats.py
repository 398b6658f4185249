"""Statistics for the benchmark: percentiles, geometric means, and the
end-to-end and per-layer metrics derived from one run's raw record.

A failed op never reads as a fast one: it enters every latency
distribution as +inf.
"""
import math

INF = float("inf")

# Percentiles tried for a latency tail, highest first.
TAIL_LADDER = (99, 95, 90, 75, 50)


def percentile(values, p):
    """Nearest-rank p-th percentile (0 < p <= 100) of a non-empty sample."""
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def beyond(n, p):
    """How many of n samples lie beyond the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail_percentile(n):
    """The highest percentile in TAIL_LADDER with at least ten samples
    beyond it; the median when the sample supports none of them."""
    for p in TAIL_LADDER:
        if beyond(n, p) >= 10:
            return p
    return 50


def geomean(values):
    """Geometric mean of positive values; +inf if any value is +inf."""
    xs = list(values)
    if not xs:
        raise ValueError("geomean of an empty sample")
    if any(x == INF for x in xs):
        return INF
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def median(values, default=0.0):
    xs = sorted(values)
    return xs[(len(xs) - 1) // 2] if xs else default


def latencies_ms(ops):
    """Each op's latency in ms, +inf for a failed op."""
    return [(o["end"] - o["start"]) if o["ok"] else INF for o in ops]


def finite(x, cap=1e12):
    """JSON has no infinity: an infinite value prints as `cap`."""
    return cap if x == INF else x


E2E_UNITS = {"setup_s": "s", "req_per_s": "1/s", "latency_p50_ms": "ms",
             "latency_geomean_ms": "ms", "heap_retained_mb": "MB"}


def end_to_end(raw, ops):
    """The end-to-end metrics of a run, and its latency tail as
    (percentile, ms). `ops` are the ops the workload times, already
    checked. Throughput counts completed ops per second of busy time: the
    union of the ops' intervals, which leaves out untimed checks."""
    lat = latencies_ms(ops)
    busy_s = union_ms([(o["start"], o["end"]) for o in ops], -INF, INF) / 1e3
    done = sum(1 for o in ops if o["ok"])
    p = tail_percentile(len(lat))
    return {
        "setup_s": median([s["total_s"] for s in raw["setup"]]),
        "req_per_s": done / busy_s,
        "latency_p50_ms": percentile(lat, 50),
        "latency_geomean_ms": geomean(lat),
        "heap_retained_mb": raw["heap_retained_mb"],
    }, (p, percentile(lat, p))


def union_ms(intervals, lo, hi):
    """Length of the union of [s, e) intervals clipped to [lo, hi)."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


ENDPOINTS = ("textsearch_ann", "textsearch_pq", "textsearch_binary", "imgsearch_ann",
             "hybrid", "panel", "feedback", "temporal")
SUITE_LAYERS = {"Similarity": "Similarity.suite_s", "Eval": "Eval.suite_s",
                "Dedup": "Dedup.suite_s", "TextAnalysis": "TextAnalysis.suite_s",
                "Curation": "Curation.suite_s", "streaming": "streaming.suite_s",
                "Multimodal": "Multimodal.suite_s", "SparkEntry": "SparkEntry.other_s"}
MAINT_STEPS = {"update": "IncrementalIndex.update_s", "postings": "IncrementalIndex.postings_s",
               "delete": "IncrementalIndex.delete_s", "compact": "IncrementalIndex.compact_s"}
JVM_LAYERS = ("IncrementalIndex.store_files", "IncrementalIndex.bytes_per_row",
              "IncrementalIndex.freshness_p50_s", "IncrementalIndex.rows_per_s",
              "SearchEngine.recall_at_k")


def layer_unit(name):
    """The unit of a per-layer metric, from its name."""
    if ".plan_ms." in name or ".exec_ms." in name:
        return "ms"
    if name in ("spark.task_run_s", "spark.task_cpu_s"):
        return "s/op"
    for suffix, unit in (("_per_op", "count/op"), ("_bytes", "B/op"), ("_per_row", "B/row"),
                         ("rows_per_s", "rows/s"), ("_share", "ratio"), ("_at_k", "ratio"),
                         ("_ms", "ms"), ("_s", "s")):
        if name.endswith(suffix):
            return unit
    return "count"


def per_layer(raw, ops, nproc):
    """Per-layer metrics from a traced run's spans. Layers the workload
    does not exercise read 0."""
    jobs = raw["jobs"]
    by_group = {}
    for j in jobs:
        by_group.setdefault(j["group"], []).append(j)
    w0, w1 = raw["window"]["start"], raw["window"]["end"]
    n = max(1, len(ops))
    mine = [j for o in ops for j in by_group.get(o["id"], [])]
    run_ms = sum(j["run_ms"] for j in mine)
    cpu_ms = sum(j["cpu_ms"] for j in mine)
    first = [min(j["start"] for j in by_group[o["id"]]) - o["start"]
             for o in ops if by_group.get(o["id"])]
    selfs = [(o["end"] - o["start"]) - union_ms(
        [(j["start"], j["end"]) for j in by_group.get(o["id"], [])], o["start"], o["end"])
        for o in ops]
    m = {
        "spark.jobs_per_op": len(mine) / n,
        "spark.stages_per_op": sum(j["stages"] for j in mine) / n,
        "spark.tasks_per_op": sum(j["tasks"] for j in mine) / n,
        "spark.job_floor_ms": median([j["end"] - j["start"] for j in mine
                                      if j["tasks"] <= nproc and j["end"] >= 0]),
        "spark.first_job_ms": median(first),
        "spark.task_run_s": run_ms / 1e3 / n,
        "spark.task_cpu_s": cpu_ms / 1e3 / n,
        "spark.blocked_share": 1.0 - cpu_ms / run_ms if run_ms > 0 else 0.0,
        # task time as a share of the core time the ops' walls offered
        "spark.task_share": run_ms / (nproc * sum(o["end"] - o["start"] for o in ops) or 1.0),
        "spark.shuffle_bytes": sum(j["shuffle_bytes"] for j in mine) / n,
        "spark.spill_bytes": sum(j["spill_bytes"] for j in mine) / n,
        "spark.input_bytes": sum(j["input_bytes"] for j in mine) / n,
        "spark.unattributed_jobs": sum(1 for j in jobs if j["group"] is None and w0 <= j["start"] <= w1),
        "jvm.gc_s": raw["gc_s"],
        "op.self_ms": median(selfs),
    }
    for ep in ENDPOINTS:
        mine_ep = [o for o in ops if o["layer"] == "SearchEngine" and o["name"] == ep]
        for ph in ("plan", "exec"):
            m[f"SearchEngine.{ph}_ms.{ep}"] = median(
                [x["end"] - x["start"] for o in mine_ep for x in o["phases"] if x["name"] == ph])
    for layer, name in SUITE_LAYERS.items():
        m[name] = sum(o["end"] - o["start"] for o in ops
                      if o["kind"] == "query" and o["layer"] == layer) / 1e3
    maint = [o for o in raw["ops"] if o["kind"] == "maint"]
    for step, name in MAINT_STEPS.items():
        m[name] = median([(o["end"] - o["start"]) / 1e3 for o in maint if o["name"] == step])
    for name in JVM_LAYERS:
        m[name] = raw["layers"].get(name, 0.0)
    for name in ("Similarity.build_s", "Lexical.index_s"):
        m[name] = median([s["layers"].get(name, 0.0) for s in raw["setup"]])
    return m
