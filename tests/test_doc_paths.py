"""Every ``python[3] <path>.py`` command the docs give must name a script
that exists, so the docs cannot keep pointing at deleted harnesses."""

from __future__ import annotations

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
DOCS = ("README.md", "CLAUDE.md", ".claude/skills/verify/SKILL.md")
COMMAND = re.compile(r"\bpython3?\s+([\w./-]+\.py)\b")


def test_documented_scripts_exist():
    found = {
        (doc, path)
        for doc in DOCS
        if (ROOT / doc).exists()
        for path in COMMAND.findall((ROOT / doc).read_text())
    }
    assert found, "no python commands found — the pattern no longer matches the docs"
    missing = sorted((doc, path) for doc, path in found if not (ROOT / path).is_file())
    assert not missing, missing
