"""Closing-ritual evidence regeneration: run every offline audit at the
ACTUAL final HEAD and write the round's committed artifacts in one shot,
so they can never go stale against a late code commit (the r10 verdict's
process item: r10's plan audit, `git show 7849ccf:docs/PLAN_AUDIT_r10.txt`,
was recorded one commit before the final `epoch_shuffle` rewrite and
missed its two sanctioned BNLJ singletons).

Runs, in order:
  1. `tools/window_audit.py`  — the r{N} rotation must be staged at HEAD
  2. `tools/plan_audit.py`    — full-registry plan hygiene sweep,
                                tee'd to `docs/PLAN_AUDIT_r{N}.txt`
  3. `tools/check_oracle.py`  — full oracle sweep at the given SF,
                                tee'd to `docs/ORACLE_r{N}.txt`

Usage: python tools/regen_evidence.py ROUND [sf_dir] [--skip-oracle]
Exit 0 = every stage passed and the artifacts at docs/ match this run.
Commit the docs/ outputs in the SAME commit as (or after) the last code
change of the round; re-run after any further code commit.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _run(cmd: list[str], tee_to: Path | None = None) -> int:
    print(f"\n=== {' '.join(cmd)} ===", flush=True)
    proc = subprocess.run(
        cmd, cwd=REPO, capture_output=True, text=True, check=False
    )
    # Spark writes its progress noise to stderr; the artifact is stdout.
    sys.stdout.write(proc.stdout)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-2000:])
    if tee_to is not None:
        tee_to.write_text(proc.stdout)
        print(f"[wrote {tee_to.relative_to(REPO)}]")
    return proc.returncode


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--skip-oracle"]
    skip_oracle = "--skip-oracle" in sys.argv[1:]
    if not args or not args[0].isdigit():
        print(__doc__)
        return 2
    rnd = int(args[0])
    sf_dir = args[1] if len(args) > 1 else "/root/testdata/sf0.01"
    py = sys.executable

    failures = []
    if _run([py, "tools/window_audit.py"]) != 0:
        failures.append("window_audit")
    if _run(
        [py, "tools/plan_audit.py"],
        tee_to=REPO / "docs" / f"PLAN_AUDIT_r{rnd:02d}.txt",
    ) != 0:
        failures.append("plan_audit")
    if not skip_oracle:
        if _run(
            [py, "tools/check_oracle.py", sf_dir],
            tee_to=REPO / "docs" / f"ORACLE_r{rnd:02d}.txt",
        ) != 0:
            failures.append("check_oracle")

    if failures:
        print(f"\nEVIDENCE REGEN FAILED: {failures}")
        return 1
    print(f"\nevidence regenerated for round {rnd} at HEAD — commit docs/ now")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
