"""Package code and options that no production entry point reaches are dead weight.

Two generated censuses over the source AST, no Spark needed.

The def census. The defs are the package's top-level functions and
classes, the methods of those classes, and its module-level constants: an
assignment that binds only plain, non-dunder names. The roots are every
other module-level statement of the package (imports, ``__all__``, ...)
plus the scripts that drive the engine: ``bench.py``, ``__spark_entry__.py``,
``perfbench/*.py`` and ``tools/*.py``. A reference is a ``Name``, an
``Attribute`` or an import alias; strings, docstrings and comments never
count, so a registry key does not keep a def of the same name alive. A
method is reached only through an attribute reference
(``x.name``) once its class is reached; a dunder is reached with its
class. References are followed transitively through def bodies and
constant values. Tests are not roots, so a def, method or constant that
only ``tests/`` use is flagged: delete it, move it into the test that uses
it as a reference, or put it on ``ALLOWLIST`` with its reason.

The option census. An option is a defaulted parameter of a package
function or method. It is live if some root, the package included, passes
it at a call to that def's name, by keyword or by position; a ``*args``
forward passes no named parameter. Two kinds of call pass on only what
reaches their def: keywords given to a def that forwards ``**kw`` count
for the callee, and a keyword that relays one of the def's own parameters
under its own name (``p=p``) counts only once that parameter is live. An
option no root passes is flagged: make it a constant with its default
value, or put it on ``OPTION_ALLOWLIST`` with one of the
``OPTION_REASONS``.
"""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "exome_qc_library_spark"
ROOT_SCRIPTS = ["bench.py", "__spark_entry__.py", "perfbench/*.py", "tools/*.py"]

ALLOWLIST = {
    "import_delimited": "the only implementation of operator S4 (OPERATORS.md)",
    "export_tsv": "the only implementation of operator S7 (OPERATORS.md); "
    "_stringify_complex is reached through it",
}


def _parse(path):
    return ast.parse(path.read_text(), filename=str(path))


def _refs(nodes):
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
    if any(_is_dunder(n) for n in names):
        return []
    return names


def _is_dunder(name):
    return name.startswith("__") and name.endswith("__")


def _class_nodes(cls):
    """What defining ``cls`` runs: its decorators, bases, class-level
    statements, and its methods' decorators and defaults, but not the
    method bodies."""
    nodes = [*cls.decorator_list, *cls.bases, *cls.keywords]
    for stmt in cls.body:
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
            nodes += [*stmt.decorator_list, *stmt.args.defaults]
            nodes += [d for d in stmt.args.kw_defaults if d is not None]
        else:
            nodes.append(stmt)
    return nodes


def _attrs(nodes):
    """Attribute names (``x.name``) referenced anywhere under ``nodes``."""
    return {n.attr for top in nodes for n in ast.walk(top) if isinstance(n, ast.Attribute)}


def _census(allowlist):
    """Return ``(defs, reached)``: every top-level package def and constant
    as ``name -> [(relpath, line)]``, every method of a
    top-level class as ``Class.method -> [...]``, and the keys reached from
    the roots, with the ``allowlist`` defs counted as roots.

    A top-level def or constant is reached by any reference to its name. A
    method is reached once its class is, and then only through an
    attribute reference (``x.name``), unless it is a dunder, which Python
    calls itself."""
    defs, names, attrs = {}, set(allowlist), set()
    own_refs = {}  # key -> [(names, attrs)] the def references once reached

    def add(key, nodes):
        own_refs.setdefault(key, []).append((_refs(nodes), _attrs(nodes)))

    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(ROOT).as_posix()
        for stmt in _parse(path).body:
            if isinstance(stmt, _DEFS):
                defs.setdefault(stmt.name, []).append((rel, stmt.lineno))
                # decorators and default values run at import time
                names |= _refs(stmt.decorator_list)
                if isinstance(stmt, ast.ClassDef):
                    add(stmt.name, _class_nodes(stmt))
                    for fn in stmt.body:
                        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                            key = f"{stmt.name}.{fn.name}"
                            defs.setdefault(key, []).append((rel, fn.lineno))
                            add(key, [fn])
                else:
                    names |= _refs(stmt.args.defaults + stmt.args.kw_defaults)
                    add(stmt.name, [stmt])
            elif names_bound := _constant_names(stmt):
                for name in names_bound:
                    defs.setdefault(name, []).append((rel, stmt.lineno))
                    add(name, [stmt])
            else:
                names |= _refs([stmt])
                attrs |= _attrs([stmt])
    for pattern in ROOT_SCRIPTS:
        for path in sorted(ROOT.glob(pattern)):
            tree = _parse(path)
            names |= _refs([tree])
            attrs |= _attrs([tree])

    def is_reached(key):
        cls, _, meth = key.rpartition(".")
        if not cls:
            return key in names
        return cls in reached and (_is_dunder(meth) or meth in attrs)

    reached, grew = set(), True
    while grew:
        grew = False
        for key in defs:
            if key not in reached and is_reached(key):
                reached.add(key)
                grew = True
                for key_names, key_attrs in own_refs[key]:
                    names |= key_names
                    attrs |= key_attrs
    return defs, reached


def test_every_package_def_is_reached_from_a_production_root():
    defs, reached = _census(ALLOWLIST)
    unreached = sorted(
        (rel, line, name)
        for name, sites in defs.items()
        if name not in reached
        for rel, line in sites
    )
    assert not unreached, (
        f"{len(unreached)} package defs, methods or constants are reached only from tests/ "
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


# ------------------------------------------------------------ option census

OPTION_REASONS = (
    "deployment input",
    "scale-path seam",
    "interface of an ALLOWLIST def",
)

# ``def(param, ...)`` -> reason. The reason starts with one of
# OPTION_REASONS; a scale-path seam names the test that lowers it as
# ``tests/<file>.py::<test>``, and an interface entry names its ALLOWLIST def.
OPTION_ALLOWLIST = {
    "sketch_pairs(max_bucket)": "scale-path seam: the per-bucket cap only "
    "a degenerate bucket of 200+ docs crosses; "
    "tests/test_dedup.py::test_minhash_degenerate_bucket_capped lowers it to 5",
    "connected_components_df(max_iter)": "scale-path seam: the round bound only a "
    "component of diameter 20+ crosses; "
    "tests/test_dedup.py::test_connected_components_df_raises_when_unconverged lowers it to 2",
    "flag_near_duplicates(max_driver_pairs)": "scale-path seam: the size gate to the "
    "distributed clustering path only 5M+ pairs cross; "
    "tests/test_dedup.py::test_distributed_cc_path_matches_driver_path lowers it to 0",
    "ivf_assign(max_inline)": "scale-path seam: the model-size gate to the pandas path "
    "only a 50k-value centroid table crosses; "
    "tests/test_similarity.py::test_ivf_assign_pandas_path_matches_inline lowers it to 1",
    "flag_over_key_cap(salt_buckets)": "scale-path seam: the salt fan-out of the "
    "two-phase top-N that a hot key spreads over; "
    "tests/test_decontaminate_sampling.py::test_over_key_cap_matches_naive_window lowers it to 8",
    "with_media_dims(scan_bytes)": "scale-path seam: the 64 KB header window only "
    "real-world JPEGs reach into; "
    "tests/test_tokenize_multimodal.py::test_jpeg_dims_behind_exif_app1 lowers it to 2 KB",
    "with_media_dims(max_segments)": "scale-path seam: the JPEG marker-hop bound only "
    "real-world JPEGs approach; "
    "tests/test_tokenize_multimodal.py::test_jpeg_dims_marker_walk_is_bounded lowers it to 16",
    "import_delimited(delimiter, header, impute, missing, key, schema)": "interface of an "
    "ALLOWLIST def: operator S4 reads any delimited table",
    "export_tsv(compress, single_file)": "interface of an ALLOWLIST def: operator S7 "
    "exports any table",
    "quality_stages(blocklist, host_metadata, url_substrings)": "deployment input: the "
    "blocklist table, host-metadata table and URL substrings that switch on the S1 "
    "enrich and S2 blocklist stages",
}


def _defaulted(fn):
    a = fn.args
    pos = a.posonlyargs + a.args
    out = [x.arg for x in pos[len(pos) - len(a.defaults) :]] if a.defaults else []
    return out + [x.arg for x, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]


def _callables(tree):
    """``(label, callee, fn, bound)`` for every top-level function and every
    method of a top-level class in the module ``tree``. ``callee`` is the name a call
    site uses: the function or method name, the class name for
    ``__init__``. ``bound`` is how many leading parameters the call binds
    itself (``self``/``cls``)."""
    for stmt in tree.body:
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield stmt.name, stmt.name, stmt, 0
        elif isinstance(stmt, ast.ClassDef):
            for fn in stmt.body:
                if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    static = any(
                        isinstance(d, ast.Name) and d.id == "staticmethod"
                        for d in fn.decorator_list
                    )
                    init = fn.name == "__init__"
                    label = stmt.name if init else f"{stmt.name}.{fn.name}"
                    yield label, stmt.name if init else fn.name, fn, 0 if static else 1


def _callee_name(call):
    f = call.func
    return f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None


def _passed(call, fn, bound):
    """The parameter names ``call`` passes to ``fn``, by keyword or by
    position (a ``*args`` passes none from its position on)."""
    pos = [x.arg for x in fn.args.posonlyargs + fn.args.args][bound:]
    out = {kw.arg for kw in call.keywords if kw.arg is not None}
    for i, arg in enumerate(call.args):
        if isinstance(arg, ast.Starred):
            break
        out |= set(pos[i : i + 1])
    return out


def _option_census():
    """Return ``(options, live)``: every defaulted parameter of a package
    function or method as ``(label, param) -> (relpath, line)``, and the set
    of those some root passes. Keywords passed to a def that forwards
    ``**kw`` count for every call in its body that passes ``**kw`` on; a
    keyword ``p=p`` that relays the enclosing def's option ``p`` counts once
    that option is live."""
    trees = {path: _parse(path) for path in sorted(PACKAGE.rglob("*.py"))}
    defs = []
    for path, tree in trees.items():
        rel = path.relative_to(ROOT).as_posix()
        defs += [(rel, *c) for c in _callables(tree)]
    by_callee = {}
    for rel, label, callee, fn, bound in defs:
        by_callee.setdefault(callee, []).append((label, fn, bound))
    # call node id -> (label, options) of the package def whose body holds it
    enclosing = {
        id(node): (label, set(_defaulted(fn)))
        for _rel, label, _callee, fn, _bound in defs
        for node in ast.walk(fn)
        if isinstance(node, ast.Call)
    }
    passed = {}  # label -> names the roots pass, including ones **kw takes
    relays = []  # (relaying def's label, the option it relays, callee name)
    roots = list(trees.values()) + [
        _parse(p) for pattern in ROOT_SCRIPTS for p in sorted(ROOT.glob(pattern))
    ]
    for tree in roots:
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            outer, outer_options = enclosing.get(id(node), (None, set()))
            relayed = {
                k.arg
                for k in node.keywords
                if isinstance(k.value, ast.Name)
                and k.value.id == k.arg
                and k.arg in outer_options
            }
            relays += [(outer, param, _callee_name(node)) for param in relayed]
            for label, fn, bound in by_callee.get(_callee_name(node), ()):
                passed.setdefault(label, set()).update(_passed(node, fn, bound) - relayed)
    forwards = []  # (forwarder label, its named params, callee name)
    for _rel, label, _callee, fn, _bound in defs:
        kw = fn.args.kwarg
        if kw is None:
            continue
        named = {x.arg for x in fn.args.posonlyargs + fn.args.args + fn.args.kwonlyargs}
        for node in ast.walk(fn):
            if isinstance(node, ast.Call) and any(
                k.arg is None and isinstance(k.value, ast.Name) and k.value.id == kw.arg
                for k in node.keywords
            ):
                forwards.append((label, named, _callee_name(node)))
    grew = True
    while grew:
        grew = False
        edges = [(passed.get(label, set()) - named, callee) for label, named, callee in forwards]
        edges += [(passed.get(label, set()) & {param}, callee) for label, param, callee in relays]
        for extra, callee in edges:
            for target, _fn, _bound in by_callee.get(callee, ()):
                got = passed.setdefault(target, set())
                if not extra <= got:
                    got |= extra
                    grew = True
    options = {
        (label, param): (rel, fn.lineno)
        for rel, label, _callee, fn, _bound in defs
        for param in _defaulted(fn)
    }
    live = {(label, param) for label, param in options if param in passed.get(label, ())}
    return options, live


def _allowlisted_options():
    """``{(label, param): (entry, reason)}`` from ``OPTION_ALLOWLIST``."""
    out = {}
    for entry, reason in OPTION_ALLOWLIST.items():
        label, _, params = entry.partition("(")
        assert params.endswith(")"), f"OPTION_ALLOWLIST key is not def(param, ...): {entry!r}"
        for param in params[:-1].split(","):
            out[(label, param.strip())] = (entry, reason)
    return out


def test_every_option_is_set_by_a_production_root():
    options, live = _option_census()
    allowed = _allowlisted_options()
    flagged = sorted(
        (rel, line, label, param)
        for (label, param), (rel, line) in options.items()
        if (label, param) not in live and (label, param) not in allowed
    )
    assert not flagged, (
        f"{len(flagged)} defaulted parameters that no production root ever passes; make "
        "each one a constant with its default value, or add it to OPTION_ALLOWLIST with "
        "a reason:\n"
        + "\n".join(f"  {rel}:{line} {label}({param})" for rel, line, label, param in flagged)
    )


def test_option_allowlist_entries_exist_have_a_reason_and_are_needed():
    options, live = _option_census()
    for (label, param), (entry, reason) in _allowlisted_options().items():
        assert (label, param) in options, f"{entry}: {label}({param}) is not a defaulted parameter"
        assert (label, param) not in live, (
            f"{entry}: a production root already passes {label}({param}); drop it from the entry"
        )
        kind = reason.split(":")[0]
        assert kind in OPTION_REASONS, f"{entry}: reason must start with one of {OPTION_REASONS}"
        if kind == "interface of an ALLOWLIST def":
            assert label in ALLOWLIST, f"{entry}: {label} is not on ALLOWLIST"
        if kind == "scale-path seam":
            # the named test must pass the seam by keyword, or nothing
            # shows that the other side of the gate still works
            named = reason.split("tests/")[1].split()[0].rstrip(".,;)")
            test_file, _, test_name = named.partition("::")
            tree = _parse(ROOT / "tests" / test_file)
            test_fn = next(
                (n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == test_name),
                None,
            )
            assert test_fn is not None, f"{entry}: no test tests/{test_file}::{test_name}"
            callee = label.rpartition(".")[2]
            assert any(
                isinstance(n, ast.Call)
                and _callee_name(n) == callee
                and param in {k.arg for k in n.keywords}
                for n in ast.walk(test_fn)
            ), f"{entry}: tests/{test_file}::{test_name} never passes {param}= to {callee}"


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


def test_no_test_module_has_an_unused_module_level_import():
    unused = [
        f"  {path.relative_to(ROOT).as_posix()}:{line} {name}"
        for path in sorted((ROOT / "tests").glob("*.py"))
        for line, name in _unused_imports(_parse(path))
    ]
    assert not unused, "module-level imports the module never uses:\n" + "\n".join(unused)
