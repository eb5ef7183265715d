"""Structure of the streaming package, read from the source: one
source (``document_stream``), one runner (``run_stream``) and no
unbounded ``dropDuplicates``. A pipeline that grows its own
``writeStream`` chain restates the checkpoint, query name and trigger
that the runner owns, and escapes whatever the runner guarantees."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "data_ingestion_task_spark"


def _attribute_sites(attr: str, root: Path = PKG) -> list[tuple[str, str | None]]:
    """``(module path, enclosing function)`` for every ``.attr`` access
    under ``root``; the function is None at module level."""
    sites = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()

        def visit(node: ast.AST, fn: str | None) -> None:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                fn = node.name if fn is None else fn
            if isinstance(node, ast.Attribute) and node.attr == attr:
                sites.append((rel, fn))
            for child in ast.iter_child_nodes(node):
                visit(child, fn)

        visit(ast.parse(path.read_text(), filename=str(path)), None)
    return sites


def test_write_stream_only_in_run_stream():
    assert _attribute_sites("writeStream") == [("streaming/ingest.py", "run_stream")]


def test_read_stream_only_in_document_stream():
    assert _attribute_sites("readStream") == [
        ("streaming/ingest.py", "document_stream")
    ]


def test_no_unbounded_stream_dedup():
    assert _attribute_sites("dropDuplicates", PKG / "streaming") == []
