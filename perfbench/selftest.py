"""Self-test of the benchmark at tiny size.

    python3 perfbench/selftest.py

Run from the root of a checkout. For each workload it makes one untraced
run (one wave of 2 frames at 32x32, or 2 queries at sf0.001) and one traced
run with a deliberately corrupted output, and checks that:

- the last line is the result object with exactly the keys ``correct``,
  ``attempted``, ``failed`` and ``metrics``;
- every end-to-end metric of BENCHMARK.json (untraced) or per-layer metric
  (traced) is in it with its unit, and printed by name with that unit;
- the clean run is correct with ``failed == 0``;
- the corrupted run counts the corruption in ``failed``/``ops_failed``.

It also checks that the benchmark fails without printing a result in a
directory that holds only BENCHMARK.json and the benchmark's files.
Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import math
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
KEYS = {"correct", "attempted", "failed", "metrics"}


def bench(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "3", "--seconds", "1", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def check_run(workload: str, trace: int, corrupt: bool, spec: dict) -> list[str]:
    args = ["--workload", workload, "--trace", str(trace), "--scale", "tiny"]
    p = bench(ROOT, *args, *(["--corrupt"] if corrupt else []))
    what = f"{workload} trace={trace} corrupt={corrupt}"
    if p.returncode != 0:
        return [f"{what}: exit {p.returncode}\n{p.stderr[-2000:]}"]
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    errs = []
    if set(res) != KEYS:
        errs.append(f"{what}: result keys {sorted(res)}")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != want:
        errs.append(f"{what}: metrics/units {got} != {want}")
    printed = {ln.split()[0]: ln.split()[-1] for ln in lines[:-1]
               if ln and not ln.startswith("#") and len(ln.split()) == 3}
    for name, unit in {**want, "ops_failed": "count"}.items():
        if printed.get(name) != unit:
            errs.append(f"{what}: {name} not printed with unit {unit}")
    for name, m in res["metrics"].items():
        if not isinstance(m["value"], (int, float)) or not math.isfinite(m["value"]):
            errs.append(f"{what}: {name} = {m['value']!r}")
    if not trace:
        for name in want:
            if not res["metrics"][name]["value"] > 0:
                errs.append(f"{what}: end-to-end {name} is not positive")
    if corrupt:
        if res["correct"] or res["failed"] < 1:
            errs.append(f"{what}: corruption not counted (failed={res['failed']})")
        if trace and res["metrics"]["ops_failed"]["value"] < 1:
            errs.append(f"{what}: ops_failed did not count the corruption")
    elif not res["correct"] or res["failed"] != 0:
        errs.append(f"{what}: clean run failed {res['failed']} of {res['attempted']}")
    return errs


def check_bare_directory() -> list[str]:
    """Without the library next to it the benchmark must fail, not report."""
    bare = ROOT / ".perfbench_work" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    try:
        shutil.copy2(ROOT / "BENCHMARK.json", bare)
        shutil.copytree(HERE, bare / "perfbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = bench(bare, "--workload", "online_waves", "--trace", "0")
        last = p.stdout.strip().splitlines()[-1:] or [""]
        if p.returncode == 0 or last[0].startswith("{"):
            return [f"bare directory: exit {p.returncode}, last line {last[0]!r}"]
        return []
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    errs = check_bare_directory()
    for w in spec["workloads"]:
        errs += check_run(w["name"], 0, False, spec)
        errs += check_run(w["name"], 1, True, spec)
    for e in errs:
        print("FAIL", e)
    print("selftest:", "ok" if not errs else f"{len(errs)} failures")
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
