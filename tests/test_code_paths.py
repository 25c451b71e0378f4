"""One code path per job: no library code picks an implementation by what
happens to be importable.

An ``except ImportError`` (or ``ModuleNotFoundError``) handler, or an
``importlib.util.find_spec`` probe, lets a host with one more package
installed run a path that no test here runs. These tests parse every
module under ``dmi_ingestor_spark/`` and fail on either form.
"""

from __future__ import annotations

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "dmi_ingestor_spark"
_IMPORT_ERRORS = {"ImportError", "ModuleNotFoundError"}


def _names(node: ast.expr | None) -> set[str]:
    """The exception class names an ``except`` clause catches."""
    if node is None:
        return set()
    if isinstance(node, ast.Tuple):
        return set().union(*(_names(e) for e in node.elts))
    if isinstance(node, ast.Attribute):
        return {node.attr}
    return {node.id} if isinstance(node, ast.Name) else set()


def import_gates(source: str, filename: str) -> list[str]:
    """``file:line`` of each handler that catches ``ImportError`` or
    ``ModuleNotFoundError``, and of each ``find_spec`` call."""
    lines = [
        node.lineno
        for node in ast.walk(ast.parse(source))
        if (isinstance(node, ast.ExceptHandler) and _names(node.type) & _IMPORT_ERRORS)
        or (isinstance(node, ast.Call) and "find_spec" in _names(node.func))
    ]
    return [f"{filename}:{n}" for n in sorted(lines)]


def test_import_gate_detector_sees_each_form():
    src = (
        "try:\n"
        "    import a\n"
        "except ImportError:\n"
        "    a = None\n"
        "try:\n"
        "    import b\n"
        "except (ValueError, builtins.ModuleNotFoundError):\n"
        "    pass\n"
        "ok = importlib.util.find_spec('c') is not None\n"
        "ok = find_spec('d')\n"
        "try:\n"
        "    int('x')\n"
        "except ValueError:\n"
        "    pass\n"
    )
    assert import_gates(src, "m.py") == ["m.py:3", "m.py:7", "m.py:9", "m.py:10"]


def test_no_import_selected_code_paths():
    hits = [
        hit
        for path in sorted(PACKAGE.rglob("*.py"))
        for hit in import_gates(path.read_text(), str(path.relative_to(PACKAGE)))
    ]
    assert hits == []
