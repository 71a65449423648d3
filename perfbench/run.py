#!/usr/bin/env python3
"""Warehouse benchmark: the command-line entry point.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Builds the library and the benchmark's JVM side
(``perfbench/build.py``), generates the workload's inputs from the seed, runs
the workload in a fresh JVM for the given seconds, checks every output, and
prints each metric with its unit and sample count.  The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer metrics
with ``--trace 1``).  The exit code is 0 only when every output is correct.

``--trace 1`` makes twice as many steady passes in the one JVM, untraced and
traced in the order U T T U ...; the per-layer metrics come from the traced
passes, and the difference between the two kinds' end-to-end figures is
reported as tracing overhead.
``--workload all`` runs every workload in turn and names each metric
``<workload>.<metric>``.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

# --- workloads --------------------------------------------------------------

DWD_QUERIES = [
    "q1_agg",                 # ODS aggregation
    "q_join_lookup",          # dim lookup join
    "q_scd2",                 # keyed state
    "q_dwd_order_detail",     # DWD composite
    "q_dws_province",         # DWS rollup
    "q_cep",                  # pattern matching
]

# cdc_fold's traffic, and where each value comes from (perfbench/README.md):
#   keys        150,000 orders: the sf0.1 `orders` table
#   mix         insert / update / delete shares of `Envelopes.maxwell` over
#               sf0.1 `lineitem` (bootstrap-insert counted as insert)
#   batch_rows  240: median Maxwell rows per day of `ts` in sf0.1, a day being
#               the finest `ts` resolution of that changelog
#   skew        1.1: an assumption; the sf0.1 tables have no per-key skew
#               to fit, and a skewed key mix re-touches hot keys in a run
WORKLOADS = {
    "dwd_batch": {"pass_s": 10, "frac": 0.05, "queries": DWD_QUERIES},
    "cdc_fold": {"pass_s": 8, "keys": 150000, "skew": 1.1, "batch_rows": 240,
                 "mix": (0.679, 0.263, 0.058)},
}

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
DEADLINE_S = 170  # the whole run, build excluded


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def steady_passes(workload, seconds):
    """Steady passes of a run: the window divided by the workload's nominal
    pass time (its steady pass on a 4-core box). A fixed count for a given
    window keeps every run's op mix, and so its percentiles, comparable."""
    return max(1, round(seconds / WORKLOADS[workload]["pass_s"]))


def generate(workload, seed, seconds, dst):
    """Write the workload's inputs; returns rows per pass."""
    p = WORKLOADS[workload]
    if workload == "dwd_batch":
        rows = gen.write_fixture(dst, seed, p["frac"])
        return sum(rows.values())
    # a traced run folds twice as many steady batches; both kinds of run
    # get the same inputs
    gen.write_changelog(dst, seed, p["keys"], p["skew"], p["batch_rows"],
                        2 * steady_passes(workload, seconds) + 1, p["mix"])
    return p["batch_rows"]


def setup_inputs(workload, seed, seconds, work):
    """Generate the inputs three times: the copies must be byte-identical
    (the generator's determinism, checked every run), and the median time
    is the input share of set-up time."""
    times, digests = [], []
    for i in range(3):
        d = os.path.join(work, f"in{i}")
        t = time.time()
        rows = generate(workload, seed, seconds, d)
        times.append(time.time() - t)
        digests.append(gen.dir_digest(d))
        if i:
            shutil.rmtree(d)
    return os.path.join(work, "in0"), rows, statistics.median(times), \
        len(set(digests)) == 1


def run_jvm(workload, seconds, trace, work, inputs, deadline):
    import build
    out = os.path.join(work, "result.json")
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    p = WORKLOADS[workload]
    params = ([f"queries={','.join(p['queries'])}"] if workload == "dwd_batch"
              else [])
    cmd = (["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData"] +
           [x for o in JVM_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false",
            f"-Dspark.local.dir={work}/spark-local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            f"-Djava.io.tmpdir={work}/tmp",
            "-cp", build.classpath(), "perfbench.Main",
            f"workload={workload}",
            f"steady={steady_passes(workload, seconds)}", f"trace={trace}",
            f"input={inputs}", f"work={work}", f"out={out}"] + params)
    t_launch = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise RuntimeError("JVM run exceeded the deadline")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as lf:
            log("".join(lf.readlines()[-40:]))
        raise RuntimeError(f"JVM exited with code {proc.returncode}")
    with open(out) as f:
        res = json.load(f)
    res["launch_ms"] = t_launch * 1e3
    return res


def check_outputs(workload, res, inputs, work):
    """{op name: reason} for every op whose output is wrong."""
    wrong = {c["name"]: c["detail"] for c in res["checks"] if not c["ok"]}
    if workload == "dwd_batch":
        r = subprocess.run([sys.executable, "tools/check.py", inputs,
                            os.path.join(work, "out")],
                           capture_output=True, text=True, timeout=120)
        for line in r.stdout.splitlines():
            if line.startswith("FAIL "):
                name, _, why = line[5:].partition(":")
                wrong[name] = why.strip()
        if r.returncode != 0 and not wrong:
            wrong["check.py"] = (r.stderr or r.stdout)[-300:]
        return wrong
    # a wrong store makes every fold into it wrong
    return {f"streaming.{k}.fold": v for k, v in wrong.items()}


def one_run(args, workload, work, deadline):
    """Set up, run and check one JVM run; returns (result, wrong ops)."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.time()
    inputs, rows, gen_s, same = setup_inputs(workload, args.seed, args.seconds,
                                             work)
    res = run_jvm(workload, args.seconds, args.trace, work, inputs, deadline)
    # set-up: input generation (median of three) + JVM launch to first op
    res["setup_s"] = gen_s + (res["first_op_ms"] - res["launch_ms"]) / 1e3
    res["rows_per_pass"] = rows
    wrong = check_outputs(workload, res, inputs, work)
    if not same:
        wrong["inputs"] = "generator produced different bytes for one seed"
    log(f"[{workload}] seed={args.seed} trace={args.trace} "
        f"wall={time.time() - t0:.1f}s passes={len(res['passes'])}")
    per_op = {}
    for o in res["ops"]:
        if o["pass"] > 0:
            per_op.setdefault(o["name"], []).append(o["ms"])
    log("  steady median ms per op: " + ", ".join(
        f"{k}={statistics.median(v):.0f}" for k, v in sorted(
            per_op.items(), key=lambda kv: -statistics.median(kv[1]))))
    return res, wrong


def tally(res, wrong):
    ops = res["ops"]
    failed = sum(1 for o in ops if not o["ok"] or o["name"] in wrong)
    return len(ops), failed


def run_workload(args, workload, runs, deadline):
    """One JVM run. With --trace its steady passes interleave untraced and
    traced: the per-layer metrics come from the traced passes, and tracing
    overhead is the traced passes' end-to-end figures against the untraced
    ones'. Returns (metrics, attempted, failed, wrong ops, result)."""
    work = os.path.join(runs, workload)
    try:
        res, wrong = one_run(args, workload, work, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    attempted, failed = tally(res, wrong)
    out = metrics.end_to_end(res)
    if args.trace:
        traced = metrics.end_to_end(res, traced=True)
        overhead = {f"trace.overhead_{k}_pct":
                    (100.0 * (traced[k][0] / out[k][0] - 1.0), "%")
                    for k in ("pass_s", "op_p50_ms")}
        out = {**metrics.per_layer(res), **overhead}
    return out, attempted, failed, wrong, res


def report(prefix, out, attempted, failed, wrong, res):
    """Human-readable lines: every metric with its unit and sample count."""
    for name, why in sorted(wrong.items()):
        log(f"WRONG {prefix}{name}: {why}")
    for e in res["errors"]:
        log(f"ERROR {prefix}{e}")
    print(f"{prefix}error_rate = {failed / attempted:.6f} "
          f"({failed} of {attempted} ops)")
    for k, v in out.items():
        n = f" (n={v[2]})" if len(v) > 2 else ""
        print(f"{prefix}{k} = {v[0]:.6g} {v[1]}{n}")
    ids = metrics.steady_ids(res)
    steady = [o["ms"] for o in res["ops"] if o["pass"] in ids]
    print(f"{prefix}op_p90_ms = {metrics.percentile(steady, 90):.6g} ms "
          f"(n={len(steady)}"
          f"{'' if len(steady) >= 100 else ', not valid below 100 samples'})")
    rps, n = metrics.rows_per_s(res)
    print(f"{prefix}rows_per_s = {rps:.6g} 1/s (n={n}, not gated: "
          "rows per pass over the mean steady pass)")
    t = metrics.tail(steady)
    if t:
        print(f"{prefix}op tail: p{t[0]:.1f} = {t[1]:.6g} ms (n={t[2]}, the "
              "highest percentile with 10 samples beyond it)")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (os.path.isdir("src/main/scala") and os.path.isfile("tools/check.py")):
        log("run from the repository root: src/main/scala and tools/check.py "
            "are required")
        return 2
    # a terminated run still stops its JVM and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    import build
    build.build()
    names = sorted(WORKLOADS) if args.workload == "all" else [args.workload]
    deadline = time.time() + DEADLINE_S * len(names)
    # one run at a time per checkout: whatever an earlier, killed run left
    # behind is removed before this one starts
    runs = os.path.join(build.BUILD, "run")
    shutil.rmtree(runs, ignore_errors=True)
    correct, attempted, failed, values = True, 0, 0, {}
    for w in names:
        out, a, f, wrong, res = run_workload(args, w, runs, deadline)
        prefix = f"{w}." if len(names) > 1 else ""
        report(prefix, out, a, f, wrong, res)
        correct = correct and not wrong and f == 0
        attempted, failed = attempted + a, failed + f
        values.update({prefix + k: {"value": v[0], "unit": v[1]}
                       for k, v in out.items()})
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": values}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
