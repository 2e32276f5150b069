"""The one BASELINE.md section splice the evidence tools share
(tools/bench_cluster_scaling.replace_section): a rerun of one tool
replaces its own `## ` section and leaves every other section
byte-identical."""

from __future__ import annotations

import importlib.util
from pathlib import Path

_SRC = Path(__file__).resolve().parent.parent / "tools" / "bench_cluster_scaling.py"
_spec = importlib.util.spec_from_file_location("bench_cluster_scaling", _SRC)
_mod = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_mod)
replace_section = _mod.replace_section

FIRST = "# Report\n\nIntro text.\n\n## First\n\nfirst body\n\n### A sub-heading\n\nsub body\n"
MIDDLE = "## Middle\n\nold middle | table |\n"
LAST = "## Last\n\nlast body, no trailing blank\n"
DOC = FIRST + "\n" + MIDDLE + "\n" + LAST


def _splice(tmp_path: Path, mark: str, section: str, doc: str = DOC) -> str:
    md = tmp_path / "BASELINE.md"
    md.write_text(doc)
    replace_section(md, mark, section)
    return md.read_text()


def test_replace_middle_keeps_neighbours(tmp_path):
    out = _splice(tmp_path, "## Middle", "## Middle\n\nnew middle\n")
    assert out.startswith(FIRST + "\n")
    assert out.endswith("\n" + LAST)
    assert out == FIRST + "\n## Middle\n\nnew middle\n\n" + LAST
    assert "old middle" not in out


def test_replace_last_keeps_text_before_it(tmp_path):
    out = _splice(tmp_path, "## Last", "## Last\n\nnew last")
    assert out == FIRST + "\n" + MIDDLE + "\n## Last\n\nnew last\n"


def test_missing_heading_is_appended(tmp_path):
    out = _splice(tmp_path, "## Added", "## Added\n\nadded body\n")
    assert out == DOC.rstrip() + "\n\n## Added\n\nadded body\n"


def test_heading_must_be_a_whole_line(tmp_path):
    # a mention of the heading text in prose, or a longer heading that
    # starts with it, is not the section
    doc = "See ## Middle below.\n\n## Middle part two\n\nkeep\n\n" + DOC
    out = _splice(tmp_path, "## Middle", "## Middle\n\nnew\n", doc)
    assert out.startswith("See ## Middle below.\n\n## Middle part two\n\nkeep\n\n" + FIRST)
    assert "old middle" not in out and out.endswith("\n" + LAST)


def test_rerun_is_idempotent(tmp_path):
    once = _splice(tmp_path, "## Middle", "## Middle\n\nnew middle\n")
    assert _splice(tmp_path, "## Middle", "## Middle\n\nnew middle\n", once) == once


def test_hand_written_tail_survives_rerun(tmp_path):
    # generated text ends with END_MARK; the analysis written below it
    # is kept when the section is regenerated
    end = _mod.END_MARK
    tail = "\nReading: hand-written analysis.\n\n"
    doc = FIRST + "\n## Middle\n\nold table\n\n" + end + "\n" + tail + LAST
    new = "## Middle\n\nnew table\n\n" + end
    out = _splice(tmp_path, "## Middle", new, doc)
    assert out == FIRST + "\n" + new + "\n" + tail + LAST
    assert _splice(tmp_path, "## Middle", new, out) == out
