"""One mechanism per concern: the session conf changes in one place,
file metadata is cached in one place and driver-built frames have one
constructor."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "openaq_lcs_fetch_spark"


def _modules():
    for path in sorted(PKG.rglob("*.py")):
        yield path.relative_to(PKG).as_posix(), ast.parse(path.read_text(encoding="utf-8"))


def test_only_session_sets_session_conf():
    """``session.tune`` and ``session.pinned_conf`` are the only code
    that changes a session conf."""
    offenders = [
        f"{name}:{node.lineno}"
        for name, tree in _modules()
        if name != "session.py"
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "set"
        and isinstance(node.func.value, ast.Attribute)
        and node.func.value.attr == "conf"
    ]
    assert offenders == [], "use session.pinned_conf instead: " + ", ".join(offenders)


def test_only_tables_defines_a_cache():
    """``tables.file_meta`` is the only module-level cache."""
    offenders = []
    for name, tree in _modules():
        if name == "tables.py":
            continue
        for node in tree.body:
            targets = (
                node.targets if isinstance(node, ast.Assign)
                else [node.target] if isinstance(node, ast.AnnAssign)
                else []
            )
            offenders += [
                f"{name}:{node.lineno} {t.id}"
                for t in targets
                if isinstance(t, ast.Name) and t.id.endswith("_CACHE")
            ]
    assert offenders == [], "use tables.file_meta instead: " + ", ".join(offenders)


def test_only_localdf_builds_frames_from_driver_rows():
    """``local_df`` is the one constructor for frames built from Python
    rows: no other module parallelizes rows or calls
    ``createDataFrame``."""
    offenders = [
        f"{name}:{node.lineno} {node.func.attr}"
        for name, tree in _modules()
        if name != "localdf.py"
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("parallelize", "createDataFrame")
    ]
    assert offenders == [], "use localdf.local_df instead: " + ", ".join(offenders)
