"""Every engine module compiles with compiler warnings raised as errors, so
an invalid escape sequence (a warning on every import today, a
SyntaxError in a future Python) fails here first. Python 3.12+ reports it
as SyntaxWarning, 3.11 as DeprecationWarning; both are errors here."""

import pathlib
import warnings

import pytest

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "gohangout_spark"
MODULES = sorted(PACKAGE.rglob("*.py"))


def test_modules_found():
    assert len(MODULES) > 10


@pytest.mark.parametrize("path", MODULES, ids=lambda p: str(p.relative_to(PACKAGE)))
def test_compiles_without_syntax_warning(path):
    with warnings.catch_warnings():
        warnings.simplefilter("error", SyntaxWarning)
        warnings.simplefilter("error", DeprecationWarning)
        compile(path.read_text(encoding="utf-8"), str(path), "exec")
