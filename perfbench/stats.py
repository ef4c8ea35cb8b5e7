"""Arithmetic of the benchmark: percentiles, span self time, inter-job gaps,
failure counting, and the derivation of every metric from one raw run
(the JSON the JVM side writes)."""
import math
import statistics

INF = math.inf


def median(xs):
    return statistics.median(xs) if xs else INF


def latencies(ops):
    """Op latencies, where a failed op counts as missing every bound."""
    return [o["s"] if o["ok"] else INF for o in ops]


def tail(xs, beyond=10):
    """The highest percentile that has at least `beyond` samples above it.

    Returns (value, percentile, n); (inf, 0.0, n) when there are too few
    samples for any such percentile."""
    n = len(xs)
    if n <= beyond:
        return INF, 0.0, n
    k = n - beyond - 1
    return sorted(xs)[k], 100.0 * (k + 1) / n, n


def error_frac(ops):
    """failed ÷ attempted, with the base."""
    return sum(not o["ok"] for o in ops) / len(ops) if ops else 0.0


def covered(lo, hi, intervals):
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(span, children):
    """A span's duration minus the part of it its child spans cover (s)."""
    lo, hi = span["start_ns"], span["end_ns"]
    return (hi - lo - covered(lo, hi, [(c["start_ns"], c["end_ns"]) for c in children])) / 1e9


def gap_s(span, jobs):
    """Span time during which no job of its own group was running (s)."""
    lo, hi = span["start_ns"], span["end_ns"]
    return (hi - lo - covered(lo, hi, [(j["start_ms"] * 1e6, j["end_ms"] * 1e6) for j in jobs])) / 1e9


def attribute(spans, jobs, untraced_ms=(), slack_ms=1):
    """Maps span id -> its jobs. A job belongs to a span when it carries the
    span's job group and starts inside it; every other job is unattributed,
    except those that start in one of the untraced windows `untraced_ms`."""
    by_group = {f"pb-{s['id']}": s for s in spans}
    own = {s["id"]: [] for s in spans}
    unattributed = 0
    for j in jobs:
        if any(lo <= j["start_ms"] <= hi for lo, hi in untraced_ms):
            continue
        s = by_group.get(j["group"])
        if s and s["start_ns"] / 1e6 - slack_ms <= j["start_ms"] <= s["end_ns"] / 1e6 + slack_ms:
            own[s["id"]].append(j)
        else:
            unattributed += 1
    return own, unattributed


# ---------------------------------------------------------------- metrics

def throughput(workload, ops, measure_s):
    """The workload's primary rate: queries/s, or reads/s up to the last read."""
    if workload == "catalogue":
        return len(ops) / measure_s
    reads = [o for o in ops if o["kind"] == "read"]
    return len(reads) / max(o["end_s"] for o in reads)


def latency(workload, ops):
    """The workload's typical operation latency (s). catalogue: seconds per
    query over whole passes. serve_rw: the geometric mean of the median
    latency of each read verb (search, hybrid, scalar) and of the writer's
    ticks, so a slower write path shows as surely as a slower read. The
    verbs differ tenfold in cost, and a plain median of the mix jumps
    between them."""
    if workload == "catalogue":
        return statistics.mean(latencies(ops))
    meds = [median(latencies([o for o in ops if o["name"] in vs]))
            for vs in (("search",), ("hybrid",), ("query", "retrieve"), ("writer",))]
    return INF if INF in meds else statistics.geometric_mean(meds)


def end_to_end(raw):
    """(the end-to-end metrics of BENCHMARK.json, the workload's own figures)
    of a run's measured pass."""
    w = raw["meta"]["workload"]
    ops = raw["ops"]
    metrics = {
        "setup_s": median(raw["setup_s"]),
        "latency_s": latency(w, ops),
        "peak_rss_mb": raw["peak_rss_mb"],
    }
    every = raw["setup_ops"] + raw["warm_ops"] + ops
    figures = {"error_frac": error_frac(every), "attempted": len(every)}
    if w == "catalogue":
        figures["catalogue_qpm"] = 60 * throughput(w, ops, raw["measure_s"])
        figures["row_count_mismatches"] = sorted(
            o["name"] for o in ops if o.get("rows", -1) >= 0 and o["rows"] != o["expected"])
    else:
        reads = [o for o in ops if o["kind"] == "read"]
        by = lambda *vs: latencies([o for o in reads if o["name"] in vs])
        v, pct, n = tail(latencies(reads))
        stage = lambda *names: median(stage_sums(raw["setup_ops"], names))
        docs = raw["figures"]["docs"]
        figures.update({
            "search_p50_s": median(by("search")), "hybrid_p50_s": median(by("hybrid")),
            "scalar_p50_s": median(by("query", "retrieve")),
            "read_p95_s": v, "read_p95_percentile": pct, "read_n": n,
            "read_qps": throughput(w, ops, raw["measure_s"]),
            "write_tick_p50_s": median(latencies([o for o in ops if o["kind"] == "tick"])),
            "write_ticks": sum(o["kind"] == "tick" for o in ops),
            "served_wait_p50_s": median([o["wait_s"] for o in reads]),
            "build_docs_per_s": docs / stage("ingest", "update", "lex_build"),
            "space_amp": raw["figures"]["space_amp"]})
        probes = raw.get("probe_ops", [])
        if probes:
            figures["dedup_docs_per_s"] = docs / median(latencies(
                [o for o in probes if o["name"] == "near_dup"]))
    return metrics, figures


FIGURE_UNITS = {
    "error_frac": "ratio", "attempted": "count", "catalogue_qpm": "1/min", "search_p50_s": "s",
    "hybrid_p50_s": "s", "scalar_p50_s": "s", "read_p95_s": "s", "read_p95_percentile": "%",
    "read_n": "count", "read_qps": "1/s", "write_tick_p50_s": "s", "write_ticks": "count",
    "served_wait_p50_s": "s", "build_docs_per_s": "1/s", "space_amp": "ratio",
    "dedup_docs_per_s": "1/s"}


def stage_sums(setup_ops, names):
    """Per set-up, the summed seconds of the named stages (failures: inf)."""
    sums = []
    for o in setup_ops:
        if o["kind"] == "stage" and o["name"] == "ingest":
            sums.append(0.0)
        if o["kind"] == "stage" and o["name"] in names:
            sums[-1] += o["s"] if o["ok"] else INF
    return sums


LAYER_FIELDS = ("s", "jobs", "gap_s", "cpu_s", "scan_mb", "shuffle_mb", "fs_list_ops")
ENGINE_SPANS = ("ingest", "update", "lex_build", "compact", "upsert", "update_incremental",
                "delete_soft", "maintain", "search", "hybrid_search", "scalar")
QUERY_MODULES = ("relational", "text", "vector", "event", "source", "multimodal", "engine",
                 "pipeline")
READ_SPANS = ("engine.search", "engine.hybrid_search", "engine.scalar")


def span_fields(calls, children, own, fs_lists):
    """Per-call means of a span's fields over its `calls`."""
    n = len(calls)
    if n == 0:
        return {f: 0.0 for f in LAYER_FIELDS + ("spill_mb",)}
    jobs = [j for s in calls for j in own[s["id"]]]
    mb = lambda k: sum(j[k] for j in jobs) / 1e6 / n
    return {
        "s": sum(self_time(s, children.get(s["id"], [])) for s in calls) / n,
        "jobs": len(jobs) / n,
        "gap_s": sum(gap_s(s, own[s["id"]]) for s in calls) / n,
        "cpu_s": sum(j["cpu_ns"] for j in jobs) / 1e9 / n,
        "scan_mb": mb("input_bytes"),
        "shuffle_mb": mb("shuffle_bytes"),
        "spill_mb": mb("spill_bytes"),
        "fs_list_ops": sum(fs_lists.get(f"pb-{s['id']}", 0) for s in calls) / n,
    }


def per_layer(raw):
    """Every per-layer metric of a traced run, by name."""
    w = raw["meta"]["workload"]
    spans, jobs, fs_lists = raw["spans"], raw["jobs"], raw["fs_lists"]
    own, unattributed = attribute(spans, jobs, raw["untraced_ms"])
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    named = lambda name: [s for s in spans if s["name"] == name]
    out = {}
    for name in ENGINE_SPANS:
        f = span_fields(named(f"engine.{name}"), children, own, fs_lists)
        out.update({f"engine.{name}.{k}": f[k] for k in LAYER_FIELDS})
    reads = [s for s in spans if s["name"] in READ_SPANS]
    out["engine.served_wait_s"] = sum(s["attrs"].get("served_wait_s", 0.0) for s in reads) / len(reads) if reads else 0.0
    out["engine.layout_files"] = float(raw["figures"].get("layout_files", 0))
    for m in QUERY_MODULES:
        f = span_fields(named(f"queries.{m}"), children, own, fs_lists)
        out.update({f"queries.{m}.{k}": f[k] for k in ("s", "jobs", "gap_s")})
    nd = named("operators.near_dup")
    f = span_fields(nd, children, own, fs_lists)
    out.update({f"operators.near_dup.{k}": f[k] for k in ("s", "cpu_s", "shuffle_mb", "spill_mb")})
    out["operators.near_dup.pairs"] = sum(s["attrs"].get("pairs", 0) for s in nd) / len(nd) if nd else 0.0
    out.update(raw["layer"])
    searches = named("engine.search")
    hits = sum(s["attrs"].get("hits", 0) for s in searches)
    scanned = sum(j["input_records"] for s in searches for j in own[s["id"]])
    out["search.rows_scanned_per_hit"] = scanned / hits if hits else 0.0
    # recall is not a timing: the untraced passes' ticks count too
    ticks = [o for o in raw["ops"] + [o for p in raw["plain"] for o in p["ops"]] if o["kind"] == "tick"]
    out["ann.hit_frac"] = sum(bool(o.get("ann_hit")) for o in ticks) / len(ticks) if ticks else 0.0
    out["ann.ticks"] = float(len(ticks))
    traced = throughput(w, raw["ops"], raw["measure_s"])
    plain = statistics.mean(throughput(w, p["ops"], p["measure_s"]) for p in raw["plain"])
    out["trace_overhead_frac"] = plain / traced - 1.0
    out["spark.unattributed_jobs"] = float(unattributed)
    return out
