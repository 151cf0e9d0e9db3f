"""Turns one run's raw measurements (ops, spans, Spark job-group counters)
into the benchmark's metrics. Pure functions; tested in tests/."""
import math
from collections import defaultdict

K = 10


def percentile(values, q):
    """Nearest-rank percentile: the smallest value with at least q% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(s)))
    return s[rank - 1]


def beyond(n, q):
    """How many of n samples lie above the nearest-rank q-th percentile."""
    return n - max(1, math.ceil(q / 100.0 * n))


def tail_percentile(values, candidates=(99, 95, 90, 75)):
    """The highest percentile with at least ten samples beyond it, as
    (q, value), or None when there are too few samples for any."""
    for q in candidates:
        if beyond(len(values), q) >= 10:
            return q, percentile(values, q)
    return None


def geomean(values):
    if not values or any(v <= 0 for v in values):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def recall_at_k(got, truth, k=K):
    """Share of the exact top-k found in `got`. `truth` holds (id,
    distance) pairs that include every tie with the k-th distance; the
    exact top-k breaks those ties by id."""
    want = [i for i, _ in sorted(truth, key=lambda p: (p[1], p[0]))[:k]]
    if not want:
        return 1.0
    return len(set(got[:k]) & set(want)) / len(want)


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Total length covered by the intervals, clipped to [lo, hi]."""
    total, end = 0.0, -math.inf
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def self_time(span, children):
    """A span's duration minus the part of it its child spans cover
    (children may overlap each other and run past the parent)."""
    s, e = span
    return (e - s) - union_length(children, s, e)


def summarize(ops):
    """Per op kind, the latencies of ops that succeeded; a failed op
    (it threw, or its output was wrong) is counted, never timed."""
    lat = defaultdict(list)
    failed = 0
    for op in ops:
        if op["ok"]:
            lat[op["kind"]].append(op["t1"] - op["t0"])
        else:
            failed += 1
    return dict(lat), failed


# The ops each strategy's recall is taken over: the indexed strategy's
# untimed probes add queries to the few a window fits.
RECALL_KINDS = {"range": ("knn_range",), "indexed": ("knn_indexed", "probe_indexed")}


def end_to_end(run):
    """The end-to-end metrics of one untraced run (values only). A metric
    whose op kind has no successful sample in the window is None."""
    ops = run["ops"]
    lat, _ = summarize(ops)

    def p50(kind):
        return percentile(lat[kind], 50) if kind in lat else None

    def mean(xs):
        return sum(xs) / len(xs) if xs else None

    drains = [op for op in ops if op["kind"] == "drain"]
    good = [op for op in drains if op["ok"]]
    recalls = [mean([recall_at_k(op["got"], op["truth"]) for op in ops
                     if op["kind"] in kinds and op["ok"]])
               for kinds in RECALL_KINDS.values()]
    setups = [sum(rep.values()) for rep in run["setup"]]
    return {
        "setup_s": percentile(setups, 50),
        "knn_range_p50_ms": p50("knn_range"),
        "knn_exact_p50_ms": p50("knn_exact"),
        "knn_indexed_p50_ms": p50("knn_indexed"),
        "find_p50_ms": p50("find"),
        "upsert_p50_ms": p50("upsert"),
        "freshness_p50_s": percentile([(op["fresh"] - op["land"]) / 1e3 for op in good], 50)
                           if good else None,
        "ingest_docs_per_s": sum(op["docs"] for op in good)
                             / (sum(op["t1"] - op["t0"] for op in drains) / 1e3)
                             if good else None,
        "recall_at_10": None if None in recalls else min(recalls),
        "stored_bytes_per_doc": run["stored_bytes_per_doc"],
    }


# Spans whose Spark work the listener attributes, and the rest.
SPARK_SPANS = ["search.range", "search.exact", "search.indexed", "knn.range",
               "knn.exact", "knn.indexed", "hydrate", "mango.find", "graftdb.upsert",
               "pipeline.drain", "setup.corpus", "setup.pivots", "setup.index_build"]
LOCAL_SPANS = ["embed.query", "embed.docs", "setup.session"]
SPANS = set(SPARK_SPANS + LOCAL_SPANS)
COUNTERS = [("jobs", "count"), ("outside_jobs_ms", "ms"), ("task_cpu_ms", "ms"),
            ("scan_bytes", "bytes"), ("shuffle_bytes", "bytes")]
EXTRAS = [("knn.range.rows_per_result", "rows"), ("knn.exact.rows_per_result", "rows"),
          ("knn.indexed.rows_per_result", "rows"), ("knn.range.recall", "ratio"),
          ("knn.indexed.recall", "ratio"), ("vectors.files", "count"),
          ("pipeline.drain.appended_ratio", "ratio"), ("graftdb.upsert.write_amp", "ratio"),
          ("driver.heap_peak_mb", "MB"), ("driver.gc_ms", "ms"), ("trace.overhead", "ratio")]


def per_layer_units():
    """Every per-layer metric name with its unit, in report order."""
    units = {}
    for name in SPARK_SPANS + LOCAL_SPANS:
        units[f"{name}.self_ms"] = "ms"
    for name in SPARK_SPANS:
        for c, u in COUNTERS:
            units[f"{name}.{c}"] = u
    units.update(EXTRAS)
    return units


def per_layer(run, overhead):
    """Per-layer metrics of one traced run: for each span name, the mean
    per op of its self time and of the Spark counters of its subtree
    (jobs, time outside jobs, task CPU, scan and shuffle bytes). A layer
    the workload does not reach reports 0."""
    spans = {s[0]: {"name": s[1], "op": s[2], "parent": s[3], "t": (s[4], s[5])}
             for s in run["spans"]}
    groups = {int(k): v for k, v in run["groups"].items()}
    kids = defaultdict(list)
    for sid, s in spans.items():
        if s["parent"] in spans:
            kids[s["parent"]].append(sid)

    def subtree(sid):
        out, stack = [], [sid]
        while stack:
            x = stack.pop()
            out.append(x)
            stack.extend(kids[x])
        return out

    sums = defaultdict(lambda: defaultdict(float))
    opsets = defaultdict(set)
    for sid, s in spans.items():
        name, (t0, t1) = s["name"], s["t"]
        acc = sums[name]
        opsets[name].add(s["op"])
        acc["self_ms"] += self_time((t0, t1), [spans[c]["t"] for c in kids[sid]])
        gs = [groups[x] for x in subtree(sid) if x in groups]
        jobs = [tuple(j) for g in gs for j in g["jobs"]]
        acc["jobs"] += len(jobs)
        acc["outside_jobs_ms"] += (t1 - t0) - union_length(jobs, t0, t1)
        acc["task_cpu_ms"] += sum(g["cpu_ms"] for g in gs)
        acc["scan_bytes"] += sum(g["scan_bytes"] for g in gs)
        acc["scan_rows"] += sum(g["scan_rows"] for g in gs)
        acc["shuffle_bytes"] += sum(g["shuffle_bytes"] for g in gs)

    def mean(name, counter):
        n = len(opsets[name])
        return sums[name][counter] / n if n else 0.0

    out = {}
    units = per_layer_units()
    for metric in units:
        span, _, counter = metric.rpartition(".")
        if span in SPANS:
            out[metric] = mean(span, counter)
    for kind in ("range", "exact", "indexed"):
        out[f"knn.{kind}.rows_per_result"] = mean(f"knn.{kind}", "scan_rows") / K
    ops = run["ops"]
    for kind, kinds in RECALL_KINDS.items():
        r = [recall_at_k(op["got"], op["truth"]) for op in ops
             if op["kind"] in kinds and op["ok"]]
        out[f"knn.{kind}.recall"] = sum(r) / len(r) if r else 0.0
    drains = [op for op in ops if op["kind"] == "drain"]
    out["vectors.files"] = float(max((op["files"] for op in drains), default=0))
    delivered = sum(op["delivered"] for op in drains)
    out["pipeline.drain.appended_ratio"] = (
        sum(op["appended"] for op in drains) / delivered if delivered else 0.0)
    amps = [op["write_amp"] for op in ops if op["kind"] == "upsert" and op["ok"]]
    out["graftdb.upsert.write_amp"] = sum(amps) / len(amps) if amps else 0.0
    out["driver.heap_peak_mb"] = run["heap_peak_mb"]
    out["driver.gc_ms"] = run["gc_ms"]
    out["trace.overhead"] = overhead
    return {m: out[m] for m in units}
