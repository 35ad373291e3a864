"""Every ``scripts/*.py`` path cited by the library, the entry, the tests,
the README and the verify skill names a file that exists."""

from __future__ import annotations

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SOURCES = [
    "pyranges_1_x_spark",
    "__spark_entry__.py",
    "tests",
    "README.md",
    ".claude/skills/verify/SKILL.md",
]
CITATION = re.compile(r"scripts/([A-Za-z0-9_]+)\.py")


def _cited() -> dict[str, set[str]]:
    cited: dict[str, set[str]] = {}
    for src in SOURCES:
        path = ROOT / src
        files = sorted(path.rglob("*.py")) if path.is_dir() else [path]
        for f in files:
            for name in CITATION.findall(f.read_text(encoding="utf-8")):
                cited.setdefault(name, set()).add(str(f.relative_to(ROOT)))
    return cited


def test_cited_scripts_exist():
    cited = _cited()
    assert "check_oracle" in cited  # the scan itself finds citations
    missing = {n: sorted(w) for n, w in cited.items() if not (ROOT / "scripts" / f"{n}.py").is_file()}
    assert not missing, f"cited scripts that do not exist: {missing}"
