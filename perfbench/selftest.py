"""Self-test of the benchmark at toy size (sf0.001 inputs, 4 partitions).

    python3 perfbench/selftest.py

Run from the root of a repository checkout. It checks that:

* every metric named in BENCHMARK.json is printed with its unit, in the
  untraced and the traced run of each workload;
* the traced runs write spans whose parents resolve and enclose them;
* a deliberately wrong expected digest shows up as a failed operation and
  in ``ok_frac`` rather than passing;
* without the package next to it, the benchmark exits non-zero and prints
  no result.

Exits 0 when all checks pass.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def bench(workload: str, trace: int, *extra: str, cwd: Path = ROOT) -> tuple[int, dict | None]:
    cmd = [*SPEC["command"], "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace), *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return p.returncode, None


def check_metrics(result: dict, trace: int, problems: list[str], what: str) -> None:
    declared = SPEC["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    if set(got) != {m["name"] for m in declared}:
        problems.append(f"{what}: metric names differ from BENCHMARK.json")
    for m in declared:
        v = got.get(m["name"])
        if v is None or v.get("unit") != m["unit"] or not isinstance(v.get("value"), int | float):
            problems.append(f"{what}: {m['name']} missing or not in {m['unit']}")


def check_spans(workload: str, problems: list[str]) -> None:
    path = ROOT / ".perfbench" / f"spans-{workload}-7.jsonl"
    spans = [json.loads(line) for line in path.read_text().splitlines()]
    by_id = {s["id"]: s for s in spans}
    if not spans:
        problems.append(f"{workload}: no spans written")
    for s in spans:
        p = s["parent"]
        if p is None:
            continue
        parent = by_id.get(p)
        if parent is None or not (parent["start"] <= s["start"] <= s["end"] <= parent["end"]):
            problems.append(f"{workload}: span {s['id']} ({s['name']}) has no enclosing parent")
            break


def main() -> int:
    problems: list[str] = []

    bare = ROOT / ".perfbench" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    for p in SPEC["paths"]:
        shutil.copytree(ROOT / p, bare / p, ignore=shutil.ignore_patterns("__pycache__"))
    code, result = bench(SPEC["workloads"][0]["name"], 0, cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    if code == 0 or result is not None:
        problems.append("without the package the benchmark did not fail cleanly")

    code, result = bench("ops_dispatch", 0, "--toy", "--wrong-digest", "window_session")
    if code != 0 or result is None:
        problems.append("ops_dispatch with a wrong digest did not finish")
    else:
        check_metrics(result, 0, problems, "ops_dispatch/0")
        if result["correct"] or result["failed"] == 0 or result["metrics"]["ok_frac"]["value"] >= 1.0:
            problems.append("a wrong expected digest passed")

    for workload in ("ops_dispatch", "graph_memo"):
        for trace in (0, 1):
            if workload == "ops_dispatch" and trace == 0:
                continue  # covered by the wrong-digest run above
            code, result = bench(workload, trace, "--toy")
            what = f"{workload}/{trace}"
            if code != 0 or result is None:
                problems.append(f"{what}: did not finish")
                continue
            if not result["correct"] or result["failed"]:
                problems.append(f"{what}: outputs failed their checks")
            check_metrics(result, trace, problems, what)
            if trace:
                check_spans(workload, problems)

    for p in problems:
        print("FAIL", p)
    print("selftest:", "ok" if not problems else f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
