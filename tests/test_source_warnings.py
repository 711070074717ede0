r"""Every source file compiles without a warning: an invalid escape such as
"\p" in a non-raw string is a DeprecationWarning on 3.11, a SyntaxWarning
on 3.12 and slated to become an error."""

from __future__ import annotations

import warnings
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _sources():
    for d in ("vectrekker_spark", "tests", "scripts"):
        yield from sorted((ROOT / d).rglob("*.py"))
    yield ROOT / "bench.py"


def test_sources_compile_without_warnings():
    failures = []
    for path in _sources():
        with warnings.catch_warnings():
            # compile-time warnings only: an "error" filter for every
            # category would also raise a ResourceWarning from whatever
            # unrelated object the garbage collector finalizes meanwhile
            warnings.simplefilter("error", SyntaxWarning)
            warnings.simplefilter("error", DeprecationWarning)
            try:
                compile(path.read_text(encoding="utf-8"), str(path), "exec")
            except (SyntaxError, SyntaxWarning, DeprecationWarning) as exc:
                failures.append(f"{path.relative_to(ROOT)}: {exc}")
    assert not failures, "\n".join(failures)
