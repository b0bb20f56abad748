#!/usr/bin/env python3
"""Self-test of the benchmark's output checks.

Runs each workload once with ``--corrupt-expected``, which perturbs every
expected output before the comparison.  The checks are working only if
every operation is then reported as failed (``ok_ratio`` 0, ``correct``
false).  Exit code 0 when they are.

It also reports whether the known defect that the workload's inputs
leave out is still in the engine: ``jobsearch`` drops every text line
after the ``<meta charset>`` tag of a Chrome snapshot.  That report
does not change the exit code.

    python3 perfbench/selftest.py [WORKLOAD ...]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def meta_tag_defect() -> str:
    import random

    import fixtures
    from tomasz_weight_tracker_spark.pipelines.jobsearch import mhtml_text_lines

    lines = ["Your recent activity", "Data Engineer #1", "Show deleted jobs"]
    got = mhtml_text_lines(fixtures._chrome_mhtml(lines, "", random.Random(0), meta=True))
    kept = sum(ln in got for ln in lines)
    if kept == len(lines):
        return "fixed: text after <meta charset> survives; the snapshots can carry the tag again"
    return f"still present: {kept} of {len(lines)} text lines kept after <meta charset>"


def main() -> int:
    sys.path.insert(0, HERE)
    sys.path.insert(0, os.path.dirname(HERE))
    from run import WORKLOADS

    print(f"known defect, jobsearch <meta> tag: {meta_tag_defect()}")

    names = sys.argv[1:] or sorted(WORKLOADS)
    ok = True
    for name in names:
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", name, "--seed", "1",
             "--seconds", "1", "--trace", "0", "--corrupt-expected"],
            cwd=os.path.dirname(HERE), capture_output=True, text=True,
        )
        lines = proc.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
        caught = (
            res is not None
            and not res["correct"]
            and res["failed"] == res["attempted"]
            and res["metrics"]["ok_ratio"]["value"] == 0
        )
        ok &= caught
        summary = {k: res[k] for k in ("correct", "attempted", "failed")} if res else proc.stderr[-500:]
        print(f"{'PASS' if caught else 'FAIL'} {name}: {summary}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
