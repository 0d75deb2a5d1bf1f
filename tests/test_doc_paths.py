"""Every repo path that the docs, docstrings and tests name must exist,
and every ``SPARK_GRAFT_*`` environment variable they name must be read
by the program.

Evidence files and one-off tools get deleted once a newer round or a
general tool covers them; a citation left behind then points nowhere.
Older evidence is cited as ``git show <commit>:<path>``, which this scan
skips (the path follows a colon), as it skips absolute paths and paths
nested under another directory. A removed environment variable is the
same kind of leftover: a doc that still names it describes a knob that
does nothing.
"""

from __future__ import annotations

import re
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent

# Repo-relative references: a tools script, anything under the plans
# directory (which is git-ignored, so any reference to it dangles) and
# a capitalised docs file. The slash after "plans" is a character class
# so this line does not match itself.
_REF = re.compile(
    r"(?<![\w.:/-])"
    r"(tools/[\w-]+\.py|plans[/][\w./-]*|docs/[A-Z][\w.-]*\.(?:md|txt|json))"
)


def _scanned() -> list[Path]:
    files = [
        ROOT / "README.md",
        ROOT / "pytest.ini",
        ROOT / "bench.py",
        *sorted(ROOT.glob(".*/skills/*/SKILL.md")),
        *sorted((ROOT / "docs").glob("*.md")),
    ]
    for d in ("artigraph_spark", "tools", "tests"):
        files += sorted((ROOT / d).rglob("*.py"))
    return files


# An engine environment variable, and a read of one: the name as a quoted
# string literal (``os.environ.get("...")``, ``_ENV = "..."``), which a doc
# or docstring mention in backquotes is not.
_ENV_NAME = re.compile(r"SPARK_GRAFT_[A-Z_]+")
_ENV_READ = re.compile(r"[\"'](SPARK_GRAFT_[A-Z_]+)[\"']")


def _env_reads() -> set[str]:
    files = [ROOT / "bench.py"]
    for d in ("artigraph_spark", "perfbench", "tools"):
        files += sorted((ROOT / d).rglob("*.py"))
    return {m for f in files for m in _ENV_READ.findall(f.read_text(encoding="utf-8"))}


def _refs(text: str) -> list[str]:
    return [m.group(1).rstrip(".") for m in _REF.finditer(text)]


@pytest.mark.parametrize(
    "text, refs",
    [
        ("see `tools/check_oracle.py`.", ["tools/check_oracle.py"]),
        ("(docs/SCALE.md; docs/ORACLE_r15.txt)", ["docs/SCALE.md", "docs/ORACLE_r15.txt"]),
        # split literals: a contiguous plans path here would dangle itself
        ("dumps in plans" "/r15/x.txt.", ["plans" "/r15/x.txt"]),
        ("`git show 7849ccf:docs/ORACLE_r11.txt`", []),
        ("/abs/tools/x.py and artigraph_spark/plans/y.py", []),
        ("docs/ORACLE_r{N}.txt and docs/lowercase.md", []),
    ],
)
def test_reference_matcher(text, refs):
    assert _refs(text) == refs


def test_no_dangling_repo_paths():
    seen, dangling = 0, []
    for f in _scanned():
        for n, line in enumerate(f.read_text(encoding="utf-8").splitlines(), 1):
            for ref in _refs(line):
                seen += 1
                if not (ROOT / ref).exists():
                    dangling.append(f"{f.relative_to(ROOT)}:{n}: {ref}")
    assert seen > 0, "the scan found no path references at all"
    assert not dangling, "paths named but missing:\n" + "\n".join(dangling)


def test_named_env_vars_are_read():
    read = _env_reads()
    assert read, "the scan found no environment variable reads at all"
    unread = [
        f"{f.relative_to(ROOT)}:{n}: {name}"
        for f in _scanned()
        for n, line in enumerate(f.read_text(encoding="utf-8").splitlines(), 1)
        for name in _ENV_NAME.findall(line)
        if name not in read
    ]
    assert not unread, "environment variables named but never read:\n" + "\n".join(unread)
