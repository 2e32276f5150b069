"""Every program module, script and tool compiles with warnings turned
into errors. An invalid escape such as '\\s' in a non-raw literal is a
SyntaxWarning today and a SyntaxError in a later Python, and in the
frozen oracle SQL it would silently change the string the oracle runs.
The tools and job scripts are run by hand, not imported by the suite,
so this is also what catches a broken one."""

from __future__ import annotations

import warnings
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SOURCES = (
    [ROOT / "__spark_entry__.py", ROOT / "bench.py", ROOT / "bench_extra.py"]
    + sorted((ROOT / "publicationsretriever_spark").rglob("*.py"))
    + sorted((ROOT / "tools").glob("*.py"))
    + sorted((ROOT / "jobs").glob("*.py"))
)


@pytest.mark.parametrize(
    "path", SOURCES, ids=[str(p.relative_to(ROOT)) for p in SOURCES]
)
def test_compiles_without_warnings(path):
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        compile(path.read_text(), str(path), "exec")
