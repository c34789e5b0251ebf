"""Product-shaped benchmark of the MIW log engine, corpus dedup and the
streaming merge. Run from the repository root:

  python3 perfbench/run.py --workload miw_proxy --seed 1 --seconds 26 --trace 0
  python3 perfbench/run.py --all [--seed 1] [--seconds 26] [--trace 1]

One run builds the program if its sources changed, generates the
workload's inputs from the seed (one single-threaded generator process),
then starts one JVM that sets up a Spark session the way ``MiwCli.main``
does and drives the workload as a closed loop with one client for
``--seconds``, checking every operation's output. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). See perfbench/README.md.
"""

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ["miw_proxy", "dedup_corpus"]
# Seconds of untimed operations between set-up and the timed window (at
# least one operation). Right after set-up the JIT compiler threads still
# take most of the cores: a MIW job runs ~1.7x its later time and levels
# off after ~5 s; a dedup shard runs ~1.5x and keeps speeding up for 20 s.
WARMUP_S = {"miw_proxy": 4, "dedup_corpus": 8}
# op_s_tail's percentile. A run times too few operations for a percentile
# above the median to have ten beyond it; README.md gives the counts.
TAIL = 0.75
# A fixed heap and young generation: G1's adaptive sizing otherwise moves
# the resident high-water mark by a quarter between identical runs.
HEAP, YOUNG = "3g", "768m"
JVM_DEADLINE_S = 165
# Spark 4 on JDK 17 outside spark-submit (as build.sbt sets for tests)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

E2E = [("setup_s", "s"), ("op_s_p50", "s"), ("op_s_tail", "s"),
       ("records_per_s", "1/s"), ("peak_rss_mb", "MB")]
LAYER_UNITS = {"_ms": "ms", "_s": "s", "_bytes": "bytes", "_ratio": "ratio", "_precision": "ratio"}


def percentile(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(p * len(s)) - 1)]


def layer_unit(name):
    for suffix, unit in LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def run_jvm(workload, seed, seconds, trace, perturb, started):
    classpath = build.build()
    work = os.path.join(ROOT, ".bench_build", "perfbench", "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    paths = gen.generate(workload, seed, inputs)
    with open(os.path.join(inputs, "inputs.txt"), "w") as f:
        f.write("\n".join(paths) + "\n")
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-Xmn" + YOUNG, "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", workload, "--inputs", inputs,
              "--format", os.path.join(HERE, "formats", "proxy.json"),
              "--seconds", str(seconds), "--warmup", str(WARMUP_S[workload]), "--trace", str(trace),
              "--work", work, "--out", out, "--perturb", perturb])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=ROOT)

        def stop(signum, frame):
            proc.kill()
            proc.wait()
            sys.exit("perfbench: stopped by signal %d" % signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = proc.wait(timeout=max(10, JVM_DEADLINE_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError("benchmark JVM ran past its deadline, see %s" % log)
    if rc != 0 or not os.path.exists(out):
        with open(log) as lf:
            tail = lf.readlines()[-30:]
        raise RuntimeError("benchmark JVM exited %d, see %s:\n%s" % (rc, log, "".join(tail)))
    with open(out) as f:
        res = json.load(f)
    res["work"] = work
    return res


def summarize(workload, res, trace):
    ops = res["ops"]
    failed = sum(1 for o in ops if not o["ok"])
    timed = [o for o in ops[1:] if not o["traced"] and not o["warmup"]]
    durations = [o["s"] for o in timed]
    e2e = {
        "setup_s": res["setup_s"],
        "op_s_p50": percentile(durations, 0.5),
        "op_s_tail": percentile(durations, TAIL),
        "records_per_s": percentile([o["records"] / o["s"] for o in timed], 0.5),
        "peak_rss_mb": res["peak_rss_mb"],
    }
    if trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in res["layers"].items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E}
    report = ["workload %s: %d operations (%d timed), %d failed, %d cores"
              % (workload, len(ops), len(timed), failed, res["cores"])]
    for k, u in E2E:
        report.append("  %-16s %14.6g %s" % (k, e2e[k], u))
    report.append("  %-16s %14.6g %s" % ("failed_ratio", failed / len(ops), "ratio"))
    report.append("  %-16s %14s p%d over %d operations"
                  % ("op_s_tail is", "", round(TAIL * 100), len(durations)))
    if trace:
        for k, v in res["layers"].items():
            report.append("  %-30s %14.6g %s" % (k, v, layer_unit(k)))
        report.append("  spans: %s" % os.path.join(res["work"], "spans.jsonl"))
    report.append("  check: %s" % ("all outputs correct" if failed == 0 else "; ".join(res["errors"])))
    return {"correct": failed == 0, "attempted": len(ops), "failed": failed,
            "metrics": metrics}, report


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--all", action="store_true", help="run every workload in turn")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=26)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--perturb", choices=("none", "drop_group", "change_count", "change_state"),
                    default="none", help="corrupt the result of the first operation after set-up, "
                    "or with change_state the traced stream's final state, before it is checked")
    args = ap.parse_args()
    if not args.all and not args.workload:
        ap.error("give --workload or --all")
    started = time.time()
    results = {}
    try:
        for w in (WORKLOADS if args.all else [args.workload]):
            res = run_jvm(w, args.seed, args.seconds, args.trace, args.perturb, started)
            results[w], report = summarize(w, res, args.trace)
            print("\n".join(report), flush=True)
            started = time.time()
    except RuntimeError as e:
        sys.exit("perfbench: %s" % e)
    if args.all:
        print(json.dumps({w: {"correct": r["correct"], "attempted": r["attempted"], "failed": r["failed"]}
                          for w, r in results.items()}))
    else:
        print(json.dumps(results[args.workload]))


if __name__ == "__main__":
    main()
