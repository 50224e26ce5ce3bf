"""Self-test of the benchmark at a tiny size.

    python3 perfbench/selftest.py

From the root of a checkout. For every workload of BENCHMARK.json it
runs ``run.py`` untraced and traced at a tiny input size and checks
that the last line of standard output is the result object with every
declared metric, each with its declared unit; then it runs each
workload with ``--corrupt 1``, which damages the program's output
before the checks, and requires ``"correct": false``; finally it runs
the benchmark in a directory holding only BENCHMARK.json and the
benchmark's files and requires a non-zero exit without a result.
Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TINY = ["--seed", "7", "--seconds", "2", "--scale", "0.1"]


def _run(args: list[str], cwd: str = ROOT) -> tuple[int, list[str]]:
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    proc = subprocess.run(spec["command"] + args, cwd=cwd, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
    return proc.returncode, proc.stdout.strip().splitlines()


def main() -> int:
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    failures = []

    def expect(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    for w in spec["workloads"]:
        name = w["name"]
        for trace, declared in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            rc, out = _run(["--workload", name, "--trace", str(trace)] + TINY)
            expect(rc == 0 and bool(out), f"{name} --trace {trace} exits 0 with output")
            if rc != 0 or not out:
                continue
            res = json.loads(out[-1])
            expect(set(res) == {"correct", "attempted", "failed", "metrics"}, f"{name} --trace {trace} result keys")
            expect(res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1,
                   f"{name} --trace {trace} outputs correct")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            want = {m["name"]: m["unit"] for m in declared}
            expect(got == want, f"{name} --trace {trace} prints every declared metric with its unit")
            expect(all(isinstance(v["value"], float) for v in res["metrics"].values()),
                   f"{name} --trace {trace} values are numbers")
        rc, out = _run(["--workload", name, "--trace", "0", "--corrupt", "1"] + TINY)
        res = json.loads(out[-1]) if rc == 0 and out else {}
        expect(res.get("correct") is False and res.get("failed", 0) > 0,
               f"{name} corrupted output trips its check")

    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in spec["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    rc, out = _run(["--workload", spec["workloads"][0]["name"], "--trace", "0"] + TINY, cwd=bare)
    expect(rc != 0 and not out, "without the program the benchmark exits non-zero and prints no result")
    shutil.rmtree(bare, ignore_errors=True)

    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
