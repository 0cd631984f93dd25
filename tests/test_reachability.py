"""Every package function and class is reached from an entry point.

A Spark-free AST scan. Entry points are the package itself,
``run_validation.py``, ``__spark_entry__.py``, ``bench.py``,
``bench_extra.py``, ``perfbench/`` and ``tools/``. A top-level package
function or class is reached when one of them names it (a ``Name`` or an
attribute) outside its own definition, when a package ``__init__``
re-exports it, or, for a function, when it is decorated (the
``@register`` contract queries, the ``atexit`` sweep). Names are
matched by identifier only, so a shared name counts as reached. A name
that only ``tests/`` uses is code no entry point runs: delete it with
its tests, or name it in ``TEST_ONLY`` with the reason it stays.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "assetdatavalidationtool_spark"
ENTRY_FILES = [
    *sorted(PKG.rglob("*.py")),
    *(ROOT / f for f in ("run_validation.py", "__spark_entry__.py", "bench.py", "bench_extra.py")),
    *sorted((ROOT / "perfbench").rglob("*.py")),
    *sorted((ROOT / "tools").rglob("*.py")),
]

_REFERENCE_WORKFLOW = "reference-workflow source kept for the reference's feature set"
_DATAGEN = "fixture the audio and video invariant-rule tests build their tables with"
_BUCKETED = "bucketed layout that test_plans gates and perfbench/inputs.py names"

TEST_ONLY = {
    "read_xlsx": _REFERENCE_WORKFLOW,
    "HttpPushClient": _REFERENCE_WORKFLOW,
    "package_run": _REFERENCE_WORKFLOW,
    "dedupe_sheet_names": _REFERENCE_WORKFLOW,
    "sanitize_for_xml": _REFERENCE_WORKFLOW,
    "asset_class_from_filename": _REFERENCE_WORKFLOW,
    "LdapConnector": "LDAP source connector (SURVEY source S6)",
    "read_bucketed": _BUCKETED,
    "write_bucketed": _BUCKETED,
    "generate_clips": _DATAGEN,
    "generate_videos": _DATAGEN,
    "make_audio_row": _DATAGEN,
    "make_video_row": _DATAGEN,
}


def _names(tree: ast.AST) -> list[tuple[str, int]]:
    """(identifier, line) of every Name and attribute in ``tree``."""
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out.append((node.id, node.lineno))
        elif isinstance(node, ast.Attribute):
            out.append((node.attr, node.lineno))
    return out


def unreached() -> dict[str, str]:
    """{name: defining file} of the package's top-level functions and
    classes that no entry point reaches."""
    defined: dict[str, str] = {}
    reached: set[str] = set()
    for path in ENTRY_FILES:
        tree = ast.parse(path.read_text(), str(path))
        spans = {}
        if PKG in path.parents:
            for node in tree.body:
                if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                    defined[node.name] = str(path.relative_to(ROOT))
                    spans[node.name] = (node.lineno, node.end_lineno)
                    if isinstance(node, ast.FunctionDef) and node.decorator_list:
                        reached.add(node.name)
            if path.name == "__init__.py":
                reached |= {a.name for node in ast.walk(tree)
                            if isinstance(node, ast.ImportFrom) for a in node.names}
        for name, line in _names(tree):
            lo, hi = spans.get(name, (0, -1))
            if not lo <= line <= hi:
                reached.add(name)
    return {n: f for n, f in defined.items() if n not in reached}


def test_every_package_name_is_reached_from_an_entry_point():
    dead = unreached()
    unlisted = {n: f for n, f in dead.items() if n not in TEST_ONLY}
    assert not unlisted, f"reached only from tests/ or nowhere: {unlisted}"
    stale = sorted(set(TEST_ONLY) - set(dead))
    assert not stale, f"TEST_ONLY names that are reached or gone: {stale}"
