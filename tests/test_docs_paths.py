"""Every script and API name the docs tell a reader to use exists."""

from __future__ import annotations

import importlib
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


MODULE_HEADING = re.compile(r"^`(fakepilot_spark(?:\.\w+)*)`$")
BULLET_NAMES = re.compile(r"^\* ((?:`[^`]+`(?: / )?)+)")


def test_documented_names_exist():
    """Under each `fakepilot_spark.<module>` heading of docs/api.md, every
    bullet's leading backticked names (``a(...)`` / ``B.c()``) resolve on
    the imported module."""
    module = None
    checked, missing = 0, []
    for line in (REPO / "docs" / "api.md").read_text(encoding="utf-8").splitlines():
        heading = MODULE_HEADING.match(line)
        if heading:
            module = importlib.import_module(heading.group(1))
            continue
        if line.startswith("#"):
            module = None
            continue
        names = BULLET_NAMES.match(line) if module is not None else None
        if names is None:
            continue
        for token in re.findall(r"`([^`]+)`", names.group(1)):
            obj = module
            for part in token.split("(")[0].split("."):
                obj = getattr(obj, part, None)
            checked += 1
            if obj is None:
                missing.append((module.__name__, token))
    assert checked, "no documented names found: the pattern or docs/api.md is stale"
    assert not missing, missing
