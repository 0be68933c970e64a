"""Every public function in the checked modules has a caller.

The checked modules are dedup.py, drift.py, incremental.py,
similarity.py and validate.py.

The roots are the code a user action runs: ``jobs/``,
``__spark_entry__.py``, ``bench.py``, ``bench_extra.py``, ``BENCH/``,
``perfbench/`` and the package's other modules, ``__init__.py`` and its
exports included. A function is reached when a root names it, or when
the body of a reached function in the checked modules names it (a
function naming itself does not count). Names are read off the AST
(names, attributes, import aliases), so comments and docstrings never
count as a use. Tests are not roots: a path only tests call is dead
code with a test attached.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "automatic_data_validator_spark"
CHECKED = (
    "dedup.py", "drift.py", "incremental.py", "similarity.py", "validate.py",
)


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def _root_files() -> list[pathlib.Path]:
    files = [ROOT / "__spark_entry__.py", ROOT / "bench.py", ROOT / "bench_extra.py"]
    for d in ("jobs", "BENCH", "perfbench"):
        files += sorted((ROOT / d).rglob("*.py"))
    files += [p for p in sorted(PACKAGE.glob("*.py")) if p.name not in CHECKED]
    return files


def _unreached() -> tuple[list[str], list[str]]:
    """(every public function of the checked modules, the unreached ones)."""
    reached: set[str] = set()
    for path in _root_files():
        reached |= _names(ast.parse(path.read_text()))
    uses: dict[str, set[str]] = {}
    public = {}
    for module in CHECKED:
        for node in ast.parse((PACKAGE / module).read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                uses.setdefault(node.name, set()).update(_names(node) - {node.name})
                if not node.name.startswith("_"):
                    public[node.name] = f"{module[:-3]}.{node.name}"
            else:
                reached |= _names(node)
    frontier = [f for f in uses if f in reached]
    seen = set(frontier)
    while frontier:
        for name in uses[frontier.pop()]:
            if name in uses and name not in seen:
                seen.add(name)
                frontier.append(name)
    return sorted(public.values()), sorted(
        qual for name, qual in public.items() if name not in seen
    )


def test_every_public_dedup_and_similarity_function_is_reached():
    public, unreached = _unreached()
    assert "dedup.neardup_dedup" in public and "similarity.brute_force_topk_arrow" in public
    assert "drift.sketch_columns" in public
    assert "validate.run_validation" in public
    assert "incremental.validate_incremental" in public
    assert not unreached, (
        "public functions no job, driver query, benchmark or package "
        f"module calls: {unreached}"
    )
