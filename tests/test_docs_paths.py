"""Every script the docs tell a reader to run exists in the tree."""

from __future__ import annotations

import re

from .conftest import REPO

DOCS = [REPO / "README.md", *sorted((REPO / "docs").glob("*.md")),
        REPO / ".claude" / "skills" / "verify" / "SKILL.md"]
CITED = re.compile(r"(?<![\w/.])((?:scripts|jobs|perfbench)/[\w/-]+\.py)\b")


def test_cited_script_paths_exist():
    cited = {
        (doc.relative_to(REPO).as_posix(), path)
        for doc in DOCS
        for path in CITED.findall(doc.read_text(encoding="utf-8"))
    }
    assert cited, "no script paths found: the pattern or the doc list is stale"
    missing = sorted((doc, path) for doc, path in cited if not (REPO / path).is_file())
    assert not missing, missing
