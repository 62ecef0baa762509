"""Every Python file of the package, its tools and its tests compiles
with warnings as errors, so an invalid escape sequence (a
DeprecationWarning today, an error in a future Python) fails here
instead of printing a warning in every run."""

from __future__ import annotations

import pathlib
import warnings

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
FILES = sorted(
    p
    for d in ("osmgraft", "tools", "tests")
    for p in (ROOT / d).rglob("*.py")
)


@pytest.mark.parametrize(
    "path", FILES, ids=[str(p.relative_to(ROOT)) for p in FILES]
)
def test_compiles_without_warnings(path):
    src = path.read_text(encoding="utf-8")
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        compile(src, str(path), "exec")
