"""Package code that no production entry point reaches is dead weight.

A generated census over the source AST, no Spark needed. The defs are the
package's top-level functions and classes, and its module-level constants:
an assignment that binds only plain, non-dunder names. The roots are every
other module-level statement of the package (imports, ``__all__``, ...)
plus the scripts that drive the engine: ``bench.py``, ``__spark_entry__.py``,
``perfbench/*.py`` and ``tools/*.py``. A reference is a ``Name``, an
``Attribute``, an import alias, or a ``str`` constant that is a single
identifier (dict keys and ``getattr`` lookups); docstrings and comments
never count. References are followed transitively through def bodies and
constant values. Tests are not roots, so a def or constant that only
``tests/`` use is flagged: delete it, move it into the test that uses it
as a reference, or put it on ``ALLOWLIST`` with its reason.
"""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "exome_qc_library_spark"
ROOT_SCRIPTS = ["bench.py", "__spark_entry__.py", "perfbench/*.py", "tools/*.py"]

ALLOWLIST = {
    "IcebergFormat": "the only implementation of the Iceberg snapshots the north star "
    "names; its contract test in test_sources is skipped where no Iceberg runtime is present",
    "read_pages": "the pages-table reader of the input contract; it routes outside "
    "input between a path and a catalog table",
    "import_delimited": "the only implementation of operator S4 (OPERATORS.md)",
    "export_tsv": "the only implementation of operator S7 (OPERATORS.md); "
    "_stringify_complex is reached through it",
}


def _parse(path):
    return ast.parse(path.read_text(), filename=str(path))


def _docstrings(tree):
    """The ids of every docstring constant in ``tree``."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            body = node.body
            if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
                out.add(id(body[0].value))
    return out


def _refs(nodes, docstrings):
    """Identifiers referenced anywhere under ``nodes``."""
    out = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                out.add(node.id)
            elif isinstance(node, ast.Attribute):
                out.add(node.attr)
            elif isinstance(node, ast.alias):
                out.add(node.name.split(".")[-1])
            elif (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and node.value.isidentifier()
                and id(node) not in docstrings
            ):
                out.add(node.value)
    return out


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _constant_names(stmt):
    """The names a module-level assignment binds when they are all plain,
    non-dunder names (``X = ...``, ``A, B = ...``, ``X: T = ...``), else
    ``[]`` and the statement is a root."""
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign) and stmt.value is not None:
        targets = [stmt.target]
    else:
        return []
    names = []
    for target in targets:
        elts = target.elts if isinstance(target, ast.Tuple) else [target]
        if not all(isinstance(e, ast.Name) for e in elts):
            return []
        names += [e.id for e in elts]
    if any(n.startswith("__") and n.endswith("__") for n in names):
        return []
    return names


def _census(allowlist):
    """Return ``(defs, reached)``: every top-level package def and constant
    as ``name -> [(relpath, line, node, docstrings)]`` and the names
    reached from the roots, with the ``allowlist`` defs counted as roots."""
    defs, frontier = {}, set(allowlist)
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = _parse(path)
        docs = _docstrings(tree)
        rel = path.relative_to(ROOT).as_posix()
        for stmt in tree.body:
            if isinstance(stmt, _DEFS):
                defs.setdefault(stmt.name, []).append((rel, stmt.lineno, stmt, docs))
                # decorators and default values run at import time
                frontier |= _refs(stmt.decorator_list, docs)
                if not isinstance(stmt, ast.ClassDef):
                    frontier |= _refs(stmt.args.defaults + stmt.args.kw_defaults, docs)
            elif names := _constant_names(stmt):
                for name in names:
                    defs.setdefault(name, []).append((rel, stmt.lineno, stmt, docs))
            else:
                frontier |= _refs([stmt], docs)
    for pattern in ROOT_SCRIPTS:
        for path in sorted(ROOT.glob(pattern)):
            tree = _parse(path)
            frontier |= _refs([tree], _docstrings(tree))
    reached = set()
    while frontier:
        name = frontier.pop()
        if name in reached:
            continue
        reached.add(name)
        for _rel, _line, node, docs in defs.get(name, ()):
            frontier |= _refs([node], docs) - reached
    return defs, reached


def test_every_package_def_is_reached_from_a_production_root():
    defs, reached = _census(ALLOWLIST)
    unreached = sorted(
        (rel, line, name)
        for name, sites in defs.items()
        if name not in reached
        for rel, line, _node, _docs in sites
    )
    assert not unreached, (
        f"{len(unreached)} package defs or constants are reached only from tests/ "
        "or not at all; "
        "delete them, move them into the test that uses them, or add them to ALLOWLIST "
        "with a reason:\n" + "\n".join(f"  {rel}:{line} {name}" for rel, line, name in unreached)
    )


def test_allowlist_entries_are_live_and_needed():
    defs, reached = _census(())
    assert all(reason.strip() for reason in ALLOWLIST.values())
    missing = sorted(set(ALLOWLIST) - set(defs))
    assert not missing, f"ALLOWLIST names defs that no longer exist: {missing}"
    # An allowlisted def that a root reaches no longer needs its entry.
    needless = sorted(name for name in ALLOWLIST if name in reached)
    assert not needless, f"ALLOWLIST entries a production root already reaches: {needless}"


def _unused_imports(tree):
    bound = {}
    for stmt in tree.body:
        if isinstance(stmt, ast.ImportFrom) and stmt.module == "__future__":
            continue
        if isinstance(stmt, (ast.Import, ast.ImportFrom)):
            for alias in stmt.names:
                name = alias.asname or alias.name.split(".")[0]
                bound[name] = stmt.lineno
    used = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            used.add(node.id)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            used.add(node.value)  # string annotations and __all__
    return sorted((line, name) for name, line in bound.items() if name not in used)


def test_no_package_module_has_an_unused_module_level_import():
    unused = [
        f"  {path.relative_to(ROOT).as_posix()}:{line} {name}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for line, name in _unused_imports(_parse(path))
    ]
    assert not unused, "module-level imports the module never uses:\n" + "\n".join(unused)
