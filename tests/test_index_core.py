"""The five persisted indexes keep their lifecycle contract in ONE place
(``functions/_index_core.py``). This guard reads the code of every
``avro_spark/functions`` module — comments and docstrings stripped —
so a per-index copy of the contract cannot creep back."""

from __future__ import annotations

import ast
import io
import pathlib
import tokenize

FUNCTIONS = pathlib.Path(__file__).resolve().parent.parent / \
    "avro_spark" / "functions"
CORE = "_index_core.py"
INDEX_MODULES = ("exact_index", "text_index", "similarity", "ivfpq_index",
                 "semantic")
#: code that belongs to the lifecycle core alone
CORE_ONLY = (
    "acquire_index_lease(",        # lease call sites
    "writeStream.foreachBatch(",   # the streaming start
    "spark.range(1).select(",      # the Spark route of meta/registry rows
    "pq.ParquetFile(",             # footer-only stats reads
)


def _code(path: pathlib.Path) -> str:
    """``path``'s source without comments and docstrings."""
    src = path.read_text()
    lines = src.splitlines()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type == tokenize.COMMENT:
            row, col = tok.start
            lines[row - 1] = lines[row - 1][:col]
    doc = set()
    for node in ast.walk(ast.parse(src)):
        body = getattr(node, "body", None)
        if (isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                              ast.AsyncFunctionDef))
                and body and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)):
            doc.update(range(body[0].lineno, body[0].end_lineno + 1))
    return "\n".join(
        line for i, line in enumerate(lines, 1) if i not in doc)


def test_lifecycle_code_lives_only_in_the_core():
    sources = {p.name: _code(p) for p in sorted(FUNCTIONS.glob("*.py"))}
    assert CORE in sources
    for needle in CORE_ONLY:
        where = sorted(n for n, code in sources.items() if needle in code)
        assert where == [CORE], f"{needle!r} appears in {where}"

    core_names = {
        node.name for node in ast.parse((FUNCTIONS / CORE).read_text()).body
        if isinstance(node, (ast.FunctionDef, ast.ClassDef))
    } | {"_PUSHDOWN_MIN_INDEX_BYTES"}
    for mod in INDEX_MODULES:
        tree = ast.parse((FUNCTIONS / f"{mod}.py").read_text())
        from_dedup = {
            alias.name for node in ast.walk(tree)
            if isinstance(node, ast.ImportFrom) and node.level == 1
            and node.module == "dedup"
            for alias in node.names
        }
        assert not from_dedup & core_names, (
            f"{mod} imports lifecycle helpers "
            f"{sorted(from_dedup & core_names)} from .dedup")
