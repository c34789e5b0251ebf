"""Test of the benchmark's output checker: a corrupted result must count
as a failed operation.

For each case, run.py corrupts the result of the first operation after
set-up (``--perturb``) before the check sees it; ``change_state``
corrupts instead the final state of the stream that a traced
``miw_proxy`` run feeds. The run must still exit
0 and print its result line, with ``correct`` false and exactly one
failed operation. A clean run of the same workload must report none.

Run from the repository root (about four minutes):

  python3 perfbench/test_checker.py
"""

import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
CASES = [  # (workload, perturb, trace)
    ("miw_proxy", "none", 0),           # clean
    ("miw_proxy", "drop_group", 0),     # one output group lost
    ("miw_proxy", "change_count", 0),   # one group's logs off by one
    ("dedup_corpus", "drop_group", 0),  # one survivor lost
    ("miw_proxy", "none", 1),           # clean, with the traced stream
    ("miw_proxy", "change_state", 1),   # stream state's sum(logs) off by one
]


def run(workload, perturb, trace):
    out = subprocess.run([sys.executable, RUN, "--workload", workload, "--seed", "7",
                          "--seconds", "1", "--trace", str(trace), "--perturb", perturb],
                         capture_output=True, text=True)
    if out.returncode != 0:
        raise AssertionError("%s/%s exited %d:\n%s" % (workload, perturb, out.returncode, out.stderr))
    return json.loads(out.stdout.strip().splitlines()[-1])


def main():
    bad = []
    for workload, perturb, trace in CASES:
        res = run(workload, perturb, trace)
        want_failed = 0 if perturb == "none" else 1
        ok = res["failed"] == want_failed and res["correct"] == (want_failed == 0)
        print("%-13s %-13s trace=%d attempted=%d failed=%d correct=%s  %s"
              % (workload, perturb, trace, res["attempted"], res["failed"], res["correct"],
                 "ok" if ok else "WRONG"), flush=True)
        if not ok:
            bad.append((workload, perturb, trace))
    if bad:
        sys.exit("checker test failed for %s" % bad)
    print("checker test passed")


if __name__ == "__main__":
    main()
