"""No-Spark lint: the staged-file stream harness stays single.

``streaming/events.py`` owns how a query drives a stream: ``stage_file``
pins the mtimes that order a file-source feed, ``staged_feed`` opens it
one file per trigger, and ``run_foreach_batch`` / ``run_to_completion``
start the query and wait for it. A query module that starts a stream
itself (``.writeStream``), sets file mtimes (``utime``) or opens its own
one-file-per-trigger feed (``maxFilesPerTrigger``) is an inline copy of
that harness. The check walks the AST, so docstrings and ``doc=`` text
that mention these names are not flagged.
"""
from __future__ import annotations

import ast
from pathlib import Path

QUERIES = (
    Path(__file__).resolve().parents[1]
    / "dataintegration_csvprovider_spark"
    / "queries"
)


def _offenses(tree: ast.AST) -> list[tuple[int, str]]:
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr == "writeStream":
            found.append((node.lineno, ".writeStream"))
        if not isinstance(node, ast.Call):
            continue
        func = node.func
        name = func.attr if isinstance(func, ast.Attribute) else getattr(
            func, "id", None
        )
        if name == "utime":
            found.append((node.lineno, "utime()"))
        if (
            name == "option"
            and node.args
            and isinstance(node.args[0], ast.Constant)
            and node.args[0].value == "maxFilesPerTrigger"
        ):
            found.append((node.lineno, '.option("maxFilesPerTrigger")'))
        if any(kw.arg == "maxFilesPerTrigger" for kw in node.keywords):
            found.append((node.lineno, "maxFilesPerTrigger="))
    return found


def test_queries_use_the_stream_harness():
    offenders = [
        f"{p.relative_to(QUERIES.parent.parent)}:{ln} {what}"
        for p in sorted(QUERIES.rglob("*.py"))
        for ln, what in _offenses(ast.parse(p.read_text()))
    ]
    assert not offenders, (
        "stream plumbing outside streaming/events.py (use stage_file, "
        "staged_feed, run_foreach_batch or run_to_completion):\n"
        + "\n".join(offenders)
    )


def test_lint_ignores_prose():
    src = '''
def q(spark):
    """Runs .writeStream with maxFilesPerTrigger=1 and os.utime."""
    register(doc="staged files, .option('maxFilesPerTrigger', '1')")
'''
    assert _offenses(ast.parse(src)) == []
    assert len(_offenses(ast.parse(
        'f.writeStream.option("maxFilesPerTrigger", "1")\nos.utime(p, t)\n'
    ))) == 3
