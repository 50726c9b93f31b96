"""Self-test of the benchmark.  From the root of a checkout:

    python3 perfbench/selftest.py

It checks, on the tiny shape of each workload (``run.py --tiny``):

1. a run prints exactly the metric names and units BENCHMARK.json lists
   (end-to-end with ``--trace 0``, per-layer with ``--trace 1``) and
   passes its output checks;
2. a copy of the benchmark whose frozen digests are corrupted fails its
   output checks: exit code 1 and ``"correct": false``;
3. a directory holding only BENCHMARK.json and the benchmark exits
   non-zero without printing a result.

Copies live under ``.perfbench_work/`` in the checkout and are removed.
Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIMEOUT_S = 300


def bench(root: str, workload: str, trace: int):
    """(exit code, parsed last stdout line or None) of one tiny run."""
    proc = subprocess.run(
        [sys.executable, os.path.join(root, "perfbench", "run.py"),
         "--workload", workload, "--seed", "0", "--seconds", "1",
         "--trace", str(trace), "--tiny"],
        cwd=root, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=TIMEOUT_S)
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, json.loads(lines[-1]) if lines else None


def copy_bench(dst: str, with_engine: bool) -> None:
    os.makedirs(dst)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), dst)
    ignore = shutil.ignore_patterns("__pycache__")
    shutil.copytree(HERE, os.path.join(dst, "perfbench"), ignore=ignore)
    if with_engine:
        shutil.copytree(os.path.join(ROOT, "sparkcrawl"),
                        os.path.join(dst, "sparkcrawl"), ignore=ignore)


def corrupt(value: str) -> str:
    return ("0" if value[0] != "0" else "1") + value[1:]


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = []

    def expect(ok: bool, msg: str) -> None:
        print(("ok   " if ok else "FAIL ") + msg, flush=True)
        if not ok:
            failures.append(msg)

    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            rc, out = bench(ROOT, w["name"], trace)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = ({k: v["unit"] for k, v in out["metrics"].items()}
                   if out else None)
            expect(rc == 0 and out is not None and out["correct"],
                   f"{w['name']} --trace {trace}: exit 0, correct")
            expect(got == want,
                   f"{w['name']} --trace {trace}: metric names and units "
                   f"are BENCHMARK.json's {key}")

    scratch = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    try:
        bad = os.path.join(scratch, "corrupt")
        copy_bench(bad, with_engine=True)
        frozen_path = os.path.join(bad, "perfbench", "frozen.json")
        with open(frozen_path) as f:
            frozen = json.load(f)
        tiny = frozen["tiny"]
        for crawl in tiny.values():
            if "frontier_digest" in crawl:
                crawl["frontier_digest"] = corrupt(crawl["frontier_digest"])
        for leaf, (rows, dig) in tiny["analytics_warm"].items():
            tiny["analytics_warm"][leaf] = [rows, corrupt(dig)]
        with open(frozen_path, "w") as f:
            json.dump(frozen, f)
        for w in spec["workloads"]:
            rc, out = bench(bad, w["name"], 0)
            expect(rc == 1 and out is not None and not out["correct"],
                   f"{w['name']}: a corrupted frozen digest fails the run")

        bare = os.path.join(scratch, "bare")
        copy_bench(bare, with_engine=False)
        rc, out = bench(bare, spec["workloads"][0]["name"], 0)
        expect(rc != 0 and out is None,
               "without the engine: non-zero exit, no result")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print("selftest:", "FAILED" if failures else "passed", flush=True)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
