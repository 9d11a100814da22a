"""Dead-code guard: every top-level ``def`` and ``class`` in the package is
named somewhere else among the repository's Python files — a call, an
attribute, an import or a decorator; its own definition does not count.
Pure AST, no Spark."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "kgcompass_spark"


def _sources() -> list[Path]:
    files = [*PACKAGE.rglob("*.py"), *(ROOT / "tests").rglob("*.py"),
             *(ROOT / "scripts").rglob("*.py"), *(ROOT / "perfbench").rglob("*.py"),
             ROOT / "__spark_entry__.py", *ROOT.glob("bench*.py")]
    return sorted(f for f in files if f.is_file())


def _uses(tree: ast.AST) -> set[str]:
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            names.add(node.id)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
        elif isinstance(node, ast.ImportFrom):
            names.update(a.name for a in node.names)
    return names


def test_every_package_definition_is_named_elsewhere():
    used, defined = set(), []
    for path in _sources():
        tree = ast.parse(path.read_text(encoding="utf-8"), filename=str(path))
        used |= _uses(tree)
        if PACKAGE in path.parents:
            defined += [
                f"{path.relative_to(ROOT)}:{node.lineno} {node.name}"
                for node in tree.body
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            ]
    dead = [d for d in defined if d.rsplit(" ", 1)[1] not in used]
    assert not dead, "defined but never named anywhere else:\n" + "\n".join(dead)
