"""Metric arithmetic of the benchmark: percentiles, span self time, and the
derivation of end-to-end and per-layer metrics from one JVM result file.

Pure functions over plain data, so they are unit-tested on synthetic input.
"""
import math
import statistics

KINDS = ("keyed", "scd2", "hll", "cms", "topk")


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


def tail(values, beyond=10):
    """The highest percentile that still has at least `beyond` samples above
    it: (percentile, value, sample count), or None with too few samples.
    With n samples that is the (n - beyond)-th smallest, percentile
    100 * (n - beyond) / n."""
    xs = sorted(values)
    n = len(xs)
    if n <= beyond:
        return None
    return 100.0 * (n - beyond) / n, xs[n - beyond - 1], n


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_times(spans):
    """{span id: duration minus the part of it its child spans cover}.
    A span is {id, parent, t_ms (start), dur_ms}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["t_ms"], s["t_ms"] + s["dur_ms"]
        covered = union_length(_clip(
            [(c["t_ms"], c["t_ms"] + c["dur_ms"]) for c in kids.get(s["id"], [])],
            lo, hi))
        out[s["id"]] = s["dur_ms"] - covered
    return out


def driver_gap_ms(span):
    """Span wall time minus the time covered by its Spark jobs (job events
    carry epoch-millisecond times, so the span's epoch edges are used)."""
    lo, hi = span["start_ms"], span["end_ms"]
    covered = union_length(_clip([tuple(j) for j in span["jobs"]], lo, hi))
    return max(0.0, span["dur_ms"] - covered)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def steady_ids(res, traced=False):
    """Indices of the steady passes (every pass after the cold pass 0) that
    ran untraced, or with `traced`, traced. A traced run interleaves them."""
    flags = res["pass_traced"]
    return [i for i in range(1, len(flags)) if flags[i] == traced]


def rows_per_s(res):
    """Input rows per second of untraced steady wall time. Each pass handles
    the same rows, so this is rows per pass over the mean steady pass:
    reported, not gated next to pass_s."""
    passes = [res["passes"][i] for i in steady_ids(res)]
    return res["rows_per_pass"] * len(passes) / (sum(passes) / 1e3), len(passes)


def end_to_end(res, traced=False):
    """The user-visible metrics of one run, {name: (value, unit, samples)},
    from its untraced steady passes (or, with `traced`, its traced ones)."""
    ids = steady_ids(res, traced)
    ops = res["ops"]
    cold = [o["ms"] for o in ops if o["pass"] == 0]
    steady = [o["ms"] for o in ops if o["pass"] in ids]
    passes = [res["passes"][i] for i in ids]
    return {
        "setup_s": (res["setup_s"], "s", 1),
        "cold_s": (sum(cold) / 1e3, "s", len(cold)),
        "op_p50_ms": (median(steady), "ms", len(steady)),
        "pass_s": (median(passes) / 1e3, "s", len(passes)),
        "store_mb": (res["store_bytes"] / 2**20, "MB", 1),
        "live_heap_mb": (res["heap_live_bytes"] / 2**20, "MB", 1),
    }


def per_layer(res):
    """Per-layer metrics of one traced run: {name: (value, unit)}.

    Per-op figures are means over traced steady ops, per-pass figures are
    means over traced steady passes, `*_cold` figures are totals over the
    cold pass.
    A layer the workload does not call reads 0."""
    spans = res["spans"]
    selft = self_times(spans)
    pass_of = {i: o["pass"] for i, o in enumerate(res["ops"])}
    ids = set(steady_ids(res, traced=True))
    npass = max(1, len(ids))

    def top(pred):
        return [s for s in spans if s["parent"] == -1 and s["op"] >= 0
                and pred(s)]

    def steady(ss):
        return [s for s in ss if pass_of.get(s["op"], 0) in ids]

    def cold(ss):
        return [s for s in ss if pass_of.get(s["op"], -1) == 0]

    def kids(ss, layer):
        ids = {s["id"] for s in ss}
        return [s for s in spans if s["parent"] in ids and s["layer"] == layer]

    def rows(ss):
        return sum(res["ops"][s["op"]]["rows"] for s in ss)

    m = {"session.build_ms": (res["session_ms"], "ms")}
    model = steady(top(lambda s: s["layer"] == "model"))
    m["model.decode_ms"] = (sum(selft[s["id"]] for s in model) / npass, "ms")
    m["model.rows"] = (rows(model) / npass, "count")
    route = steady(top(lambda s: s["layer"] == "dim"))
    m["dim.route_ms"] = (sum(selft[s["id"]] for s in route) / npass, "ms")
    m["dim.rows_routed"] = (rows(route) / npass, "count")
    split = steady(top(lambda s: s["layer"] == "ops"))
    m["ops.split_ms"] = (sum(selft[s["id"]] for s in split) / npass, "ms")

    q_all = top(lambda s: s["layer"] == "queries")
    q = steady(q_all)
    plan, exe = kids(q, "queries.plan"), kids(q, "queries.exec")
    qn = max(1, len(q))
    m["queries.plan_ms"] = (sum(s["dur_ms"] for s in plan) / qn, "ms")
    m["queries.exec_ms"] = (sum(s["dur_ms"] for s in exe) / qn, "ms")
    m["queries.jobs"] = (sum(len(s["jobs"]) for s in plan + exe) / qn, "count")
    m["queries.tasks"] = (sum(s["tasks"] for s in plan + exe) / qn, "count")
    m["queries.driver_gap_ms"] = (
        sum(driver_gap_ms(s) for s in plan + exe) / qn, "ms")
    qc = cold(q_all)
    qc_kids = kids(qc, "queries.plan") + kids(qc, "queries.exec")
    m["queries.codegen_classes_cold"] = (sum(s["classes"] for s in qc_kids), "count")
    m["queries.codegen_ms_cold"] = (sum(s["compile_ms"] for s in qc_kids), "ms")
    qk = plan + exe
    m["queries.shuffle_bytes"] = (
        sum(s["shuffle_read"] + s["shuffle_write"] for s in qk) / npass, "bytes")
    m["queries.spill_bytes"] = (sum(s["spill"] for s in qk) / npass, "bytes")
    m["queries.gc_ms"] = (sum(s["gc_ms"] for s in qk) / npass, "ms")

    folds = steady(top(lambda s: s["layer"] == "streaming"))
    for k in KINDS:
        fk = [s for s in folds if s["name"] == f"streaming.{k}.fold"]
        n = max(1, len(fk))
        m[f"streaming.{k}.fold_ms"] = (sum(s["dur_ms"] for s in fk) / n, "ms")
        m[f"streaming.{k}.jobs"] = (sum(len(s["jobs"]) for s in fk) / n, "count")
        m[f"streaming.{k}.codegen_classes"] = (
            sum(s["classes"] for s in fk) / n, "count")
    nf = max(1, len(folds))
    m["streaming.fold_driver_gap_ms"] = (
        sum(driver_gap_ms(s) for s in folds) / nf, "ms")
    m["streaming.buckets_rewritten"] = (
        sum(s["extra"].get("buckets_rewritten", 0) for s in folds) / nf, "count")
    m["streaming.bytes_written"] = (
        sum(s["extra"].get("bytes_written", 0) for s in folds) / nf, "bytes")
    m["streaming.files_live"] = (res["facts"].get("files_live", 0), "count")
    return m
