"""The document vocabulary (tokens, shingles, the exact pair verify) is
spelled once, in extensions/doc_text.py, for the engine and for every
DuckDB oracle. A second spelling elsewhere could drift from the engine
without any test noticing, so this guard reads the package source and
fails on one."""

from __future__ import annotations

import ast
import pathlib

import mdb_to_postgres_spark

PKG = pathlib.Path(mdb_to_postgres_spark.__file__).parent
HOME = PKG / "extensions" / "doc_text.py"

# Oracle text owned by doc_text: the tokenizer, the shingle lambda, the
# shingle self-join and the Jaccard/containment score of the verify.
SQL_FRAGMENTS = (
    "string_split(lower(text), ' ')",
    "l[i+1] || ' ' || l[i+2] || ' ' || l[i+3]",
    "sh a JOIN sh b",
    "CAST(i.isect AS DOUBLE)",
)
# The Spark spelling of the tokenizer, as ast.unparse prints it.
SPARK_TOKENS = "F.split(F.lower(F.col('text')), ' ')"


def _respellings(path: pathlib.Path) -> list[str]:
    """Every fragment spelled in `path` outside doc_text, plus each
    `def _TOKS` found, as 'file:line: what'."""
    tree = ast.parse(path.read_text())
    rel = path.relative_to(PKG.parent)
    found = []
    for node in ast.walk(tree):
        # String constants include the literal parts of f-strings.
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            text = node.value
            found += [f"{rel}:{node.lineno}: {f}" for f in SQL_FRAGMENTS if f in text]
        elif isinstance(node, ast.Call) and ast.unparse(node) == SPARK_TOKENS:
            found.append(f"{rel}:{node.lineno}: {SPARK_TOKENS}")
        elif isinstance(node, ast.FunctionDef) and node.name == "_TOKS":
            found.append(f"{rel}:{node.lineno}: def _TOKS")
    return found


def test_document_vocabulary_is_spelled_once():
    outside = [f for p in sorted(PKG.rglob("*.py")) if p != HOME for f in _respellings(p)]
    assert not outside, "re-spelled outside extensions/doc_text.py:\n" + "\n".join(outside)
    home = _respellings(HOME)
    assert sum(f.endswith("def _TOKS") for f in home) == 1, home
