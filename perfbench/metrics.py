"""Pure functions that turn one run's raw result (ops, spans, facts) into
the benchmark's metrics, plus the run-set agreement check. No I/O here, so
tests/test_metrics.py can pin every rule."""
import math
import statistics

# Percentiles op_tail_ms may use, lowest first.
TAIL_LADDER = (50.0, 75.0, 80.0, 90.0, 95.0, 99.0, 99.9)

# The layer spans, each timed around one call into a program module.
LAYER_SPANS = (
    "cole.compile", "cole.execute",
    "dedup.keys", "dedup.decide",
    "keyset.admit", "keyset.compact",
    "index.admit", "index.compact", "index.search",
    "vector.search", "vector.admit", "vector.compact", "vector.index_load",
)
SETUP_SPANS = ("setup.session", "setup.fit", "setup.store_build")
COUNTERS = (
    ("jobs", "count"), ("tasks", "count"), ("task_cpu_ms", "ms"),
    ("sched_wait_ms", "ms"), ("input_bytes", "bytes"),
    ("output_bytes", "bytes"), ("shuffle_bytes", "bytes"),
)
RATIOS = (
    ("scan.rows_read_ratio", "ratio", "lower"),
    ("dedup.reject_ratio", "ratio", "higher"),
    ("keyset.write_amp", "ratio", "lower"),
    ("vector.rows_read_per_result", "ratio", "lower"),
    ("vector.index_cache_hit_ratio", "ratio", "higher"),
)
# (name, unit, better) of the end-to-end metrics; BENCHMARK.json lists the same.
END_TO_END = (
    ("setup_s", "s", "lower"), ("op_p50_ms", "ms", "lower"),
    ("op_tail_ms", "ms", "lower"), ("rows_per_s", "rows/s", "higher"),
    ("docs_per_s", "docs/s", "higher"), ("queries_per_s", "queries/s", "higher"),
    ("ok_ratio", "fraction", "higher"), ("peak_rss_mb", "MB", "lower"),
    ("full_scan_p50_ms", "ms", "lower"), ("filtered_scan_p50_ms", "ms", "lower"),
    ("skip_scan_p50_ms", "ms", "lower"), ("aggregation_p50_ms", "ms", "lower"),
    ("group_by_p50_ms", "ms", "lower"),
    ("store_bytes_per_input_byte", "ratio", "lower"),
    ("recall_at_10", "fraction", "higher"),
)
SHAPES = ("full_scan", "filtered_scan", "skip_scan", "aggregation", "group_by")

# BASELINE.md: the reference's seconds per query at 1M rows, which
# graft.Bench scales by rows/1e6 for ratio_vs_baseline. skip_scan has none.
BASELINE_S_PER_M = {"full_scan": 0.08523, "filtered_scan": 0.07891,
                    "aggregation": 0.07245, "group_by": 0.09567}


def nearest_rank(values, pct):
    """The pct-th percentile by nearest rank: the smallest value with at
    least pct% of the values at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no values")
    rank = max(1, math.ceil(pct / 100.0 * len(xs)))
    return xs[rank - 1]


def tail_percentile(n, cap):
    """The highest ladder percentile, at most `cap`, that leaves at least 10
    of `n` values above its nearest-rank position; 50 when none does."""
    best = TAIL_LADDER[0]
    for p in TAIL_LADDER:
        if p <= cap and n - max(1, math.ceil(p / 100.0 * n)) >= 10:
            best = p
    return best


def self_ms(span, spans):
    """A span's duration minus the part of it its direct children cover
    (children's intervals merged, clipped to the parent), in ms."""
    lo, hi = span["start_ns"], span["end_ns"]
    kids = sorted((max(lo, c["start_ns"]), min(hi, c["end_ns"]))
                  for c in spans if c["parent"] == span["id"])
    covered, cur_lo, cur_hi = 0, None, None
    for a, b in kids:
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (hi - lo - covered) / 1e6


def spread(values):
    """Distance between first and third quartile, as a share of the median
    (statistics.quantiles with n=4, its default exclusive method)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def agreement(first, second, metrics):
    """The run-set agreement check. `first` and `second` map metric name to
    the values of one set of runs; `metrics` are BENCHMARK.json end_to_end
    entries. A metric passes when its spread in each set stays within its
    bound (setup_s exempt) and the second median is not worse than the
    first by more than the bound. Returns {name: (ok, detail)}."""
    out = {}
    for m in metrics:
        name, bound = m["name"], m["bound"]
        a, b = first[name], second[name]
        ma, mb = statistics.median(a), statistics.median(b)
        worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
        sa, sb = spread(a), spread(b)
        ok = worse <= bound and (name == "setup_s" or (sa <= bound and sb <= bound))
        out[name] = (ok, {"median_1": ma, "median_2": mb, "worse": worse,
                          "spread_1": sa, "spread_2": sb, "bound": bound})
    return out


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(res, tail_cap):
    """The end-to-end metrics of an untraced run. See README.md for what
    each means on each workload."""
    ops = res["ops"]  # [id, kind, ms, ok, rows_in, rows_out]
    ms = [o[2] for o in ops]
    loop_s = res["loop_s"]
    failed = sum(1 for o in ops if not o[3])
    facts = res["facts"]
    w = res["workload"]
    tail = tail_percentile(len(ms), tail_cap)
    m = {
        "setup_s": setup_s(res),
        "op_p50_ms": statistics.median(ms),
        "op_tail_ms": nearest_rank(ms, tail),
        "rows_per_s": sum(o[4] for o in ops) / loop_s,
        "docs_per_s": sum(o[5] for o in ops) / loop_s,
        "queries_per_s": len(ops) * facts.get("search_queries_per_op", 1) / loop_s,
        "ok_ratio": (len(ops) - failed) / len(ops),
        "peak_rss_mb": res["peak_rss_mb"],
    }
    for s in SHAPES:
        m[s + "_p50_ms"] = shape_p50(res, s)
    if w == "olap":
        m["store_bytes_per_input_byte"] = facts["table_bytes"] / facts["table_raw_bytes"]
        m["recall_at_10"] = m["ok_ratio"]
    else:
        m["store_bytes_per_input_byte"] = facts["store_bytes"] / facts["store_input_bytes"]
        m["recall_at_10"] = facts["recall_at_10"]
    return m, tail


def setup_s(res):
    """JVM start to session, plus the set-up steps, plus the warm-up: what a
    run pays before its first op, with input generation left out."""
    return res["session_s"] + sum(res["setup_steps_s"].values()) + res["warmup_s"]


def shape_p50(res, shape):
    if res["workload"] == "olap":
        return _median([o[2] for o in res["ops"] if o[1] == shape])
    return _median(res["facts"]["shape_probe_ms"][shape])


def ratio_vs_baseline(res):
    """graft.Bench's formula on the olap shape p50s: seconds over the
    reference's seconds per 1M rows scaled to the table's rows."""
    rows = res["facts"]["table_rows"]
    return {s: shape_p50(res, s) / 1e3 / (ref * rows / 1e6)
            for s, ref in BASELINE_S_PER_M.items()}


def per_layer(res, spans):
    """Per-layer metrics of a traced run: for each layer span inside the
    timed ops, p50 and total time and the Spark work its jobs did; the
    set-up steps' times; five ratios; and the traced op p50 (its distance
    to the untraced op_p50_ms is the tracing overhead). A layer a workload
    does not call reads 0."""
    timed = [s for s in spans if s["op"] >= 0]
    ops = {o[0]: o for o in res["ops"]}
    m = {}
    for name in LAYER_SPANS:
        ss = [s for s in timed if s["name"] == name]
        durs = [(s["end_ns"] - s["start_ns"]) / 1e6 for s in ss]
        m[name + ".p50_ms"] = _median(durs)
        m[name + ".total_ms"] = sum(durs)
        if name == "cole.compile":
            continue
        for c, _ in COUNTERS:
            m[name + "." + c] = sum(s[c] for s in ss)
    steps = res["setup_steps_s"]
    m["setup.session.total_ms"] = res["session_s"] * 1e3
    m["setup.fit.total_ms"] = steps.get("fit", 0.0) * 1e3
    m["setup.store_build.total_ms"] = steps.get("store_build", 0.0) * 1e3

    def of(name, kind=None):
        return [s for s in timed if s["name"] == name
                and (kind is None or ops[s["op"]][1] == kind)]

    skip = of("cole.execute", "skip_scan")
    rows = res["facts"].get("table_rows", 0)
    m["scan.rows_read_ratio"] = (sum(s["input_records"] for s in skip) / (rows * len(skip))
                                 if skip and rows else 0.0)
    probed = res["facts"].get("docs_probed", 0)
    m["dedup.reject_ratio"] = res["facts"]["docs_rejected"] / probed if probed else 0.0
    admit_b = sum(s["output_bytes"] for s in of("keyset.admit"))
    compact_b = sum(s["output_bytes"] for s in of("keyset.compact"))
    m["keyset.write_amp"] = (admit_b + compact_b) / admit_b if admit_b else 0.0
    vs = of("vector.search")
    results = sum(ops[s["op"]][5] for s in vs)
    m["vector.rows_read_per_result"] = (sum(s["input_records"] for s in vs) / results
                                        if results else 0.0)
    loads = of("vector.index_load")
    m["vector.index_cache_hit_ratio"] = (sum(1 for s in loads if s["jobs"] == 0) / len(loads)
                                         if loads else 0.0)
    m["trace.op_p50_ms"] = statistics.median([o[2] for o in res["ops"]])
    return m


def per_layer_schema():
    """(name, unit, better) of every per-layer metric, in report order."""
    out = []
    for name in LAYER_SPANS:
        out += [(name + ".p50_ms", "ms", "lower"), (name + ".total_ms", "ms", "lower")]
        if name != "cole.compile":
            out += [(name + "." + c, u, "lower") for c, u in COUNTERS]
    out += [(s + ".total_ms", "ms", "lower") for s in SETUP_SPANS]
    out += list(RATIOS)
    out.append(("trace.op_p50_ms", "ms", "lower"))
    return out


def layer_table(spans):
    """Markdown table of every span name in the timed ops: calls, total,
    p50 and self time (what the span did beyond its children) and its Spark
    counters."""
    timed = [s for s in spans if s["op"] >= 0]
    names = sorted({s["name"] for s in timed})
    head = ("| span | calls | total_ms | p50_ms | self_ms | jobs | tasks | "
            "task_cpu_ms | sched_wait_ms | input_bytes | output_bytes | shuffle_bytes |")
    lines = [head, "|" + "---|" * 12]
    for n in names:
        ss = [s for s in timed if s["name"] == n]
        durs = [(s["end_ns"] - s["start_ns"]) / 1e6 for s in ss]
        selfs = sum(self_ms(s, timed) for s in ss)
        c = {k: sum(s[k] for s in ss) for k, _ in COUNTERS}
        lines.append(
            f"| {n} | {len(ss)} | {sum(durs):.1f} | {statistics.median(durs):.2f} | "
            f"{selfs:.1f} | {c['jobs']} | {c['tasks']} | {c['task_cpu_ms']:.1f} | "
            f"{c['sched_wait_ms']} | {c['input_bytes']} | {c['output_bytes']} | "
            f"{c['shuffle_bytes']} |")
    return "\n".join(lines) + "\n"
