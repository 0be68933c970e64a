"""Every public function and class in the package has a caller.

Every package module but ``__init__.py`` is checked, found by glob with
no allowlist.

The roots are the code a user action runs: ``jobs/``,
``__spark_entry__.py``, ``bench.py``, ``bench_extra.py``, ``BENCH/``,
``perfbench/`` and the package's ``__init__.py`` with its exports. A
public function or class is reached when a root names it, or when a
module-level statement of a package module (a constant, a decorator, a
table) names it, or when the body of a reached function or class names
it (a definition naming itself does not count). Names are read off the
AST (names, attributes, import aliases), so comments and docstrings
never count as a use. Tests are not roots: a path only tests call is
dead code with a test attached.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "automatic_data_validator_spark"
CHECKED = tuple(p.name for p in sorted(PACKAGE.glob("*.py")) if p.name != "__init__.py")
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


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
    """(every public function and class of the checked modules, the
    unreached ones)."""
    reached: set[str] = set()
    for path in _root_files():
        reached |= _names(ast.parse(path.read_text()))
    uses: dict[str, set[str]] = {}
    public = {}
    for module in CHECKED:
        for node in ast.parse((PACKAGE / module).read_text()).body:
            if isinstance(node, _DEFS):
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


def test_every_public_function_and_class_is_reached():
    public, unreached = _unreached()
    # a glob or parse slip must not pass on an empty set
    assert len(public) >= 100, public
    assert "dedup.neardup_dedup" in public and "similarity.brute_force_topk_arrow" in public
    assert "validate.run_validation" in public and "validate.ValidationResult" in public
    assert "incremental.validate_incremental" in public
    assert not unreached, (
        "public functions and classes no job, driver query, benchmark or "
        f"package module calls: {unreached}"
    )


def _annotation_names(tree: ast.AST) -> set[str]:
    """Names inside quoted annotations (``x: "A | None"``), which the
    AST holds as string constants."""
    out = set()
    for n in ast.walk(tree):
        anns = []
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
            a = n.args
            anns = [x.annotation for x in
                    a.posonlyargs + a.args + a.kwonlyargs + [a.vararg, a.kwarg]
                    if x is not None] + [n.returns]
        elif isinstance(n, ast.AnnAssign):
            anns = [n.annotation]
        for ann in anns:
            for s in ast.walk(ann) if ann is not None else ():
                if isinstance(s, ast.Constant) and isinstance(s.value, str):
                    out |= {m.id for m in ast.walk(ast.parse(s.value, mode="eval"))
                            if isinstance(m, ast.Name)}
    return out


def _unused_in(tree: ast.AST, name: str) -> list[str]:
    """Imports a scope (the module or a function) binds but never uses
    within itself, nested scopes included."""
    out = []
    scopes = [tree] + [n for n in ast.walk(tree)
                       if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
    for scope in scopes:
        bound = {}
        todo = list(ast.iter_child_nodes(scope))
        while todo:  # this scope's statements, not nested functions'
            node = todo.pop()
            if isinstance(node, ast.Import):
                for a in node.names:
                    bound[a.asname or a.name.split(".")[0]] = node.lineno
            elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
                for a in node.names:
                    bound[a.asname or a.name] = node.lineno
            elif not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                todo += ast.iter_child_nodes(node)
        used = {n.id for n in ast.walk(scope) if isinstance(n, ast.Name)}
        used |= _annotation_names(scope)
        out += [f"{name}:{line} {b}" for b, line in sorted(bound.items(), key=lambda t: t[1])
                if b not in used]
    return out


def test_every_module_level_import_is_used():
    """Package, job and test modules import nothing they do not use,
    at module level or inside a function; ``__init__.py``'s re-exports
    are its purpose and are exempt."""
    files = [p for p in sorted(PACKAGE.glob("*.py")) if p.name != "__init__.py"]
    files += sorted((ROOT / "tests").glob("*.py"))
    files += sorted((ROOT / "jobs").glob("*.py"))
    assert len(files) >= 45, files
    # a quoted-annotation-only use counts (refcheck's ``Any``)
    assert "Any" in _annotation_names(ast.parse((PACKAGE / "refcheck.py").read_text()))
    # a function-local import is checked against its own function
    probe = ast.parse("import os\ndef f():\n    import os\n    return 1\nos.sep\n")
    assert _unused_in(probe, "probe.py") == ["probe.py:3 os"]
    unused = [u for p in files
              for u in _unused_in(ast.parse(p.read_text(), filename=str(p)), p.name)]
    assert not unused, unused


def _callers(tree: ast.AST, callee: str) -> list[str]:
    """Top-level definitions whose bodies call ``callee`` by name or
    attribute; a call at module level reports ``<module>``."""
    found = []
    for top in tree.body:
        scope = top.name if isinstance(top, _DEFS) else "<module>"
        for n in ast.walk(top):
            if isinstance(n, ast.Call) and callee in (
                getattr(n.func, "id", None), getattr(n.func, "attr", None)
            ):
                found.append(scope)
    return found


def test_one_neardup_body():
    """Near-dup verify and the bucket aggregate have one caller in the
    package, the runner ``neardup_dedup`` and ``incremental_neardup``
    share (plus ``minhash_lsh_duplicates`` for the aggregate), so a
    second near-dup body cannot grow back beside it."""
    callers: dict[str, list[str]] = {"ngram_jaccard": [], "_bucket_lists": []}
    for path in sorted(PACKAGE.glob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for callee, found in callers.items():
            found += [f"{path.stem}.{s}" for s in _callers(tree, callee)]
    assert {k: sorted(v) for k, v in callers.items()} == {
        "ngram_jaccard": ["dedup._neardup_pairs"],
        "_bucket_lists": ["dedup._neardup_pairs", "dedup.minhash_lsh_duplicates"],
    }, callers
