"""Self-test of the benchmark at toy size (sf0.001, ~50k URLs, 2 crawl
rounds).

    python3 perfbench/selftest.py [--workload NAME ...]

For each workload it asserts that:

- every metric named in BENCHMARK.json prints with its unit, traced and
  untraced, and every output check passes;
- two traced runs with the same seed record the same census
  (``compare.census_mismatches``);
- a deliberately corrupted result (``--corrupt``) fails its check;
- a directory holding only BENCHMARK.json and perfbench/ exits non-zero
  without printing a result.

Exits 0 when every assertion holds.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

from compare import census_mismatches

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ALL = ["crawl_rounds", "queries", "frontier_batch"]


def _run(cwd: str, workload: str, trace: int, *extra: str) -> tuple[int, str]:
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--size", "toy", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )
    return p.returncode, p.stdout


def _records(workload: str) -> set[str]:
    out = os.path.join(ROOT, ".perfbench_results")
    prefix = f"{workload}-seed3-trace1-"
    return {os.path.join(out, f) for f in os.listdir(out) if f.startswith(prefix)} if os.path.isdir(out) else set()


def _result(stdout: str) -> dict:
    lines = stdout.strip().splitlines()
    if not lines:
        raise AssertionError("no output")
    res = json.loads(lines[-1])
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise AssertionError(f"result keys {sorted(res)}")
    return res


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", nargs="*", default=ALL)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    problems: list[str] = []

    for workload in args.workload:
        before = _records(workload)
        for trace in (0, 1, 1):
            code, out = _run(ROOT, workload, trace)
            try:
                res = _result(out)
            except (AssertionError, ValueError) as e:
                problems.append(f"{workload} trace={trace}: exit {code}, {e}")
                continue
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want[trace]:
                missing = sorted(set(want[trace]) - set(got))
                wrong = sorted(k for k in got if k in want[trace] and got[k] != want[trace][k])
                extra = sorted(set(got) - set(want[trace]))
                problems.append(f"{workload} trace={trace}: missing {missing} wrong unit {wrong} extra {extra}")
            if code != 0 or not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{workload} trace={trace}: exit {code}, result {res['correct']}, "
                                f"{res['failed']}/{res['attempted']} failed")
            print(f"ok? {workload} trace={trace}: {res['failed']}/{res['attempted']} failed", flush=True)

        records = []
        for path in sorted(_records(workload) - before):
            with open(path) as f:
                records.append(json.load(f))
        if len(records) != 2:
            problems.append(f"{workload}: {len(records)} traced records, want 2")
        problems += [f"{workload}: census differs between runs: {m}" for m in census_mismatches(records)]
        print(f"census repeat {workload}: done", flush=True)

        code, out = _run(ROOT, workload, 0, "--corrupt")
        try:
            res = _result(out)
            if res["correct"] or res["failed"] < 1:
                problems.append(f"{workload}: corrupted result passed its output check")
        except (AssertionError, ValueError) as e:
            problems.append(f"{workload} --corrupt: exit {code}, {e}")
        print(f"corrupt {workload}: done", flush=True)

    # the benchmark alone, without the engine, must refuse to run
    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    bare = tempfile.mkdtemp(prefix="selftest-bare-", dir=os.path.join(ROOT, ".perfbench_work"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        code, out = _run(bare, ALL[0], 0)
        if code == 0 or out.strip():
            problems.append(f"bare directory: exit {code}, stdout {out.strip()[:200]!r}")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    for p in problems:
        print("FAIL", p)
    print("selftest:", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
