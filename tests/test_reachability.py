"""Every top-level package definition is reached from an entry point.

A name-based AST scan: the roots are the registered queries
(``@register`` functions in ``queries.py``), ``pipelines.py``,
``cli.py``, ``__main__.py``, module-level code and ``from`` imports of
every package module, ``__spark_entry__.py``, ``bench.py``, ``tools/``
and ``perfbench/`` outside its tests. A definition is reached when its
name appears (as a name or an attribute) in a root or in a reached
definition. Test files are not roots: code only tests call is a second
implementation of something, or dead.

``KEEP`` lists the unreached definitions that stay, each with its
reason: a test uses it as ground truth, or it is the only
implementation of a reference operator in COVERAGE.md.

The scan is by name, so a second definition of a reached name counts
as reached too. The second test therefore fails when two package
modules define the same top-level name, unless ``SAME_NAME`` lists it
with its reason.

The third test applies the same rule to options: every defaulted
parameter of a top-level package function is passed by some call in
the package, ``tools/``, ``perfbench/``, ``bench.py``,
``__spark_entry__.py`` or ``tests/``, and every ``**kwargs`` parameter
is filled by some call with a keyword the function does not name. A
value no call sets is a constant, not an option.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "data_pipeline_rsna_spark"

_TEST_REF = "test reference"

KEEP = {
    "functions/md5np.py::md5_digest_bytes": _TEST_REF,
    "functions/md5np.py::u28_draws": _TEST_REF,
    "functions/md5np.py::md5_hashlib_fallback": _TEST_REF,
    "sinks/tfrecord.py::frame_record": _TEST_REF,
    "plans/audit.py::assert_columns_pruned": _TEST_REF,
    "plans/audit.py::assert_filter_pushed": _TEST_REF,
    "plans/audit.py::unbounded_nested_loop_joins": _TEST_REF,
    "sources/readers.py::read_labels_csv": "reference operator O1",
    "operators/image_kernels.py::cut_paste_box": "reference operator O16",
    "operators/image_kernels.py::zoom_box_region": "reference operator O17",
    "operators/multimodal.py::apply_stage_chain": "reference operators O19-O21",
    "sources/readers.py::read_box_annotations_json": "reference operator O23",
    "sources/readers.py::read_caption_annotations_json": "reference operator O23",
    "sources/readers.py::read_examples_list": "reference operator O36",
    "sources/readers.py::parse_label_map_text": "reference operator O42",
    "sources/readers.py::parse_label_map_binary": "reference operator O42",
    "sources/readers.py::read_label_map": "reference operator O42",
    "sources/readers.py::create_categories_from_labelmap": "reference operator O44",
    "sources/readers.py::create_category_index_from_labelmap": "reference operator O44",
}

SAME_NAME = {
    "register": "queries.register is the query-registry decorator; "
                "pydatasource.register registers its Spark data source "
                "format with the session",
    "_decode_scan": "the JPEG and JPEG-LS codecs each decode their own "
                    "entropy-coded scan format",
}

_WHOLE_MODULES = ("pipelines.py", "cli.py", "__main__.py")


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _registered(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call)
        and isinstance(d.func, ast.Name)
        and d.func.id == "register"
        for d in getattr(node, "decorator_list", ())
    )


def _top_level_defs() -> dict[str, list[tuple[str, ast.AST]]]:
    """Every top-level def/class of the package by name, with the
    module that defines it."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    for path in sorted(PKG.rglob("*.py")):
        mod = path.relative_to(PKG).as_posix()
        for stmt in ast.parse(path.read_text()).body:
            if isinstance(
                stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                defs.setdefault(stmt.name, []).append((mod, stmt))
    return defs


def same_name_definitions() -> dict[str, list[str]]:
    """Top-level names defined in more than one package module, with
    the modules that define them."""
    return {
        n: [mod for mod, _ in found]
        for n, found in _top_level_defs().items()
        if len({mod for mod, _ in found}) > 1
    }


def _callee(call: ast.Call) -> str | None:
    f = call.func
    if isinstance(f, ast.Name):
        return f.id
    if isinstance(f, ast.Attribute):
        return f.attr
    return None


def _defaulted(fn: ast.FunctionDef) -> list[tuple[int | None, str]]:
    """(positional index or None for keyword-only, name) of every
    parameter with a default."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    out = [(i, p.arg) for i, p in enumerate(pos) if i >= first]
    out += [
        (None, p.arg)
        for p, d in zip(a.kwonlyargs, a.kw_defaults)
        if d is not None
    ]
    return out


def _bound_names(tree: ast.Module) -> dict[str, str]:
    """Local name -> original name of everything the file imports with
    ``from`` (at any depth) or defines at top level."""
    out = {
        stmt.name: stmt.name
        for stmt in tree.body
        if isinstance(
            stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        )
    }
    for n in ast.walk(tree):
        if isinstance(n, ast.ImportFrom):
            out.update((a.asname or a.name, a.name) for a in n.names)
    return out


def unpassed_options() -> list[str]:
    """``module::function(param)`` of every defaulted parameter of a
    top-level package function that no call passes, by keyword or
    positionally, and ``module::function(**kwargs)`` of every ``**``
    parameter that no call fills with a keyword the function does not
    name. A call matches by callee name. Exempt: names defined
    more than once in the package, names also used as values (passed
    around, so their calls are not all visible by name), functions
    some call reaches with ``*``/``**``, and ``KEEP`` entries. A bare
    name counts as a value only in a file that imports it or defines it
    at top level; elsewhere it is some other, local binding."""
    files = [
        *PKG.rglob("*.py"),
        *(ROOT / "tools").rglob("*.py"),
        *(ROOT / "perfbench").rglob("*.py"),
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
        *(ROOT / "tests").rglob("*.py"),
    ]
    calls: dict[str, list[ast.Call]] = {}
    values: set[str] = set()
    for path in files:
        tree = ast.parse(path.read_text())
        bound = _bound_names(tree)
        callees = set()
        for n in ast.walk(tree):
            if isinstance(n, ast.Call):
                callees.add(id(n.func))
                name = _callee(n)
                if name:
                    calls.setdefault(name, []).append(n)
        for n in ast.walk(tree):
            if id(n) not in callees:
                if isinstance(n, ast.Name) and n.id in bound:
                    values.add(bound[n.id])
                elif isinstance(n, ast.Attribute):
                    values.add(n.attr)
    out = []
    for name, found in _top_level_defs().items():
        if len(found) > 1 or name in values:
            continue
        mod, fn = found[0]
        if isinstance(fn, ast.ClassDef) or f"{mod}::{name}" in KEEP:
            continue
        cs = calls.get(name, [])
        if any(
            any(isinstance(a, ast.Starred) for a in c.args)
            or any(k.arg is None for k in c.keywords)
            for c in cs
        ):
            continue
        for i, param in _defaulted(fn):
            if not any(
                any(k.arg == param for k in c.keywords)
                or (i is not None and len(c.args) > i)
                for c in cs
            ):
                out.append(f"{mod}::{name}({param})")
        a = fn.args
        named = {p.arg for p in a.posonlyargs + a.args + a.kwonlyargs}
        if a.kwarg and not any(
            k.arg not in named for c in cs for k in c.keywords
        ):
            out.append(f"{mod}::{name}(**{a.kwarg.arg})")
    return sorted(out)


def unreached_definitions() -> list[str]:
    """``module::name`` of every top-level def/class no root reaches."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    seeds: set[str] = set()
    for path in sorted(PKG.rglob("*.py")):
        mod = path.relative_to(PKG).as_posix()
        whole = mod in _WHOLE_MODULES
        for stmt in ast.parse(path.read_text()).body:
            if isinstance(
                stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                if whole or (mod == "queries.py" and _registered(stmt)):
                    seeds |= _names(stmt)
                else:
                    defs.setdefault(stmt.name, []).append((mod, stmt))
            elif isinstance(stmt, ast.ImportFrom):
                seeds |= {a.name for a in stmt.names}
            elif not isinstance(stmt, ast.Import):
                seeds |= _names(stmt)
    entry = [
        ROOT / "__spark_entry__.py",
        ROOT / "bench.py",
        *sorted((ROOT / "tools").glob("*.py")),
        *sorted((ROOT / "perfbench").glob("*.py")),
    ]
    for path in entry:
        seeds |= _names(ast.parse(path.read_text()))

    reached: set[str] = set()
    todo = list(seeds)
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for _, node in defs.get(name, ()):
            todo.extend(_names(node))
    return sorted(
        f"{mod}::{name}"
        for name, found in defs.items()
        if name not in reached
        for mod, _ in found
    )


def test_every_definition_is_reached_or_kept():
    unreached = set(unreached_definitions())
    extra = sorted(unreached - KEEP.keys())
    assert not extra, (
        "unreached package definitions (delete them, or add a KEEP entry "
        "with its reason): " + ", ".join(extra)
    )
    stale = sorted(KEEP.keys() - unreached)
    assert not stale, f"KEEP entries that are reached or gone: {stale}"


def test_no_top_level_name_defined_twice():
    dups = same_name_definitions()
    extra = {n: m for n, m in dups.items() if n not in SAME_NAME}
    assert not extra, (
        "top-level names defined in more than one package module (keep "
        f"one definition, or add a SAME_NAME entry with its reason): {extra}"
    )
    stale = sorted(SAME_NAME.keys() - dups.keys())
    assert not stale, f"SAME_NAME entries no longer duplicated: {stale}"


def test_every_option_is_passed_by_some_call():
    unpassed = unpassed_options()
    assert not unpassed, (
        f"{len(unpassed)} defaulted parameters no call passes (make each "
        "a constant, or pass it where a caller needs another value): "
        + ", ".join(unpassed)
    )
