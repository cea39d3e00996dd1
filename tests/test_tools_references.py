"""The scripts under tools/ run in no test, so an operator they call can
be deleted or renamed without any test noticing. This checks, from the
source alone (no Spark, no imports of the package), that every
``ann.<name>``, ``knn.<name>`` and ``dedup.<name>`` attribute a tool uses
is defined at the top level of that operator module."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OPERATORS = ("ann", "knn", "dedup")


def _top_level_names(path: Path) -> set[str]:
    names: set[str] = set()
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0] for a in node.names)
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                names.update(n.id for n in ast.walk(t) if isinstance(n, ast.Name))
    return names


def _operator_aliases(tree: ast.AST) -> dict[str, str]:
    """Local name -> operator module, for every import of one anywhere in
    the file (tools import inside functions too)."""
    aliases: dict[str, str] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == (
            "vector_database_spark.operators"
        ):
            for a in node.names:
                if a.name in OPERATORS:
                    aliases[a.asname or a.name] = a.name
        elif isinstance(node, ast.Import):
            for a in node.names:
                mod = a.name.rsplit(".", 1)
                if (
                    len(mod) == 2
                    and mod[0] == "vector_database_spark.operators"
                    and mod[1] in OPERATORS
                    and a.asname
                ):
                    aliases[a.asname] = mod[1]
    return aliases


def test_tool_operator_attributes_exist():
    defined = {
        m: _top_level_names(ROOT / "vector_database_spark" / "operators" / f"{m}.py")
        for m in OPERATORS
    }
    missing, used = [], 0
    for tool in sorted((ROOT / "tools").glob("*.py")):
        tree = ast.parse(tool.read_text())
        aliases = _operator_aliases(tree)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Name)
                and node.value.id in aliases
            ):
                used += 1
                if node.attr not in defined[aliases[node.value.id]]:
                    missing.append(
                        f"{tool.name}:{node.lineno}: "
                        f"{aliases[node.value.id]}.{node.attr}"
                    )
    assert used > 0, "no operator attribute found under tools/"
    assert not missing, "tools call names their module lacks:\n" + "\n".join(missing)
