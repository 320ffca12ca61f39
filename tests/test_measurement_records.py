"""The measurement record stays whole: every harness or record file the
docs name exists, and every BENCH_HISTORY.jsonl line carries the facts
needed to read it (where it came from, the commit, the host's cores)."""

import json
import os
import re

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DOCS = ("README.md", "COVERAGE.md", os.path.join(".claude", "skills", "verify", "SKILL.md"))
REF = re.compile(r"\b(tools/[\w/]+\.py|BENCH_\w+\.json)\b")


@pytest.mark.parametrize("doc", DOCS)
def test_docs_name_only_existing_records(doc):
    with open(os.path.join(ROOT, doc), encoding="utf-8") as f:
        named = set(REF.findall(f.read()))
    missing = sorted(p for p in named if not os.path.exists(os.path.join(ROOT, p)))
    assert not missing, f"{doc} names files that do not exist: {missing}"


def test_history_lines_carry_source_commit_and_host():
    with open(os.path.join(ROOT, "BENCH_HISTORY.jsonl"), encoding="utf-8") as f:
        lines = f.read().splitlines()
    assert lines
    for n, line in enumerate(lines, 1):
        rec = json.loads(line)
        assert rec.get("source") and rec.get("commit"), f"line {n}: no source/commit"
        nproc = rec.get("host", {}).get("nproc")
        assert isinstance(nproc, int) and nproc > 0, f"line {n}: no host.nproc"
