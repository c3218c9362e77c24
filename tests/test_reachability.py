"""Every package module, and every top-level definition in it, is
reachable from an entry surface.

Both walks use ``ast`` only (no Spark, nothing is imported). The entry
surfaces are the query registry (``__spark_entry__.py``), the CLI
(``__main__``), the CDC controller, the root benches and audits, and
``perfbench/``.

The module walk follows the import graph; imports inside functions
count, including relative ``from . import x``. No directory is a root:
a module is reached only through an import. The definition walk works
by name: a top-level function, class or assignment is reached when its
name appears in an entry surface, in a module-level statement of any
package module, or in the body of a reached definition. Code that no entry surface reaches is
a capability nothing uses: delete it, wire it to an entry surface, or
list it (``UNWIRED`` for a module, ``ENTRY_POINTS`` for a definition)
with the reason it stays.
"""
from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "aws_big_data_blog_dmscdc_walkthrough_spark"

ROOT_SCRIPTS = [
    "__spark_entry__.py",
    "bench.py",
    "stream_bench.py",
    "profile_query.py",
    "plan_audit.py",
    "scale_data.py",
]

# Library modules kept although no entry surface imports them, each with
# its reason. The list is exact: a module that becomes reachable, or is
# deleted, must leave it too.
UNWIRED: dict[str, str] = {}

# Top-level definitions kept although no entry surface names them, as
# "<module under the package>.<name>" -> reason. Exact, like UNWIRED.
ENTRY_POINTS = {
    "sources.lake_writer.read_change_feed": "subscriber side of the "
    "controller's change_feed flag: the feed files committed versions list",
    "operators.text.poly_fingerprint": "reference implementation "
    "tests/test_text.py compares the live fingerprint against",
    "operators.dedup.incremental_minhash_pairs": "reference implementation "
    "tests/test_dedup.py pins split_minhash_pairs against",
    "operators.similarity.dequantize_embeddings": "reference implementation "
    "the quantization error-bound test reads codes back with",
}


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), filename=path)


def _entry_files() -> list[str]:
    perfbench = os.path.join(ROOT, "perfbench")
    return [os.path.join(ROOT, s) for s in ROOT_SCRIPTS] + sorted(
        os.path.join(perfbench, f) for f in os.listdir(perfbench) if f.endswith(".py")
    )


def _package_modules() -> dict[str, str]:
    """Dotted module name -> file path, for every ``.py`` in the package."""
    mods = {}
    for dirpath, _, files in os.walk(os.path.join(ROOT, PKG)):
        rel = os.path.relpath(dirpath, ROOT).replace(os.sep, ".")
        for f in files:
            if not f.endswith(".py"):
                continue
            name = rel if f == "__init__.py" else f"{rel}.{f[:-3]}"
            mods[name] = os.path.join(dirpath, f)
    return mods


def _imported(path: str, module: str | None, mods: dict[str, str]) -> set[str]:
    """Package modules one file imports. ``module`` is the file's dotted
    name (None for scripts outside the package); relative imports resolve
    against it."""
    tree = _parse(path)
    is_pkg = path.endswith("__init__.py")
    found = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                parts = module.split(".")
                parts = parts[: len(parts) - node.level + is_pkg]
                base = ".".join(parts + ([node.module] if node.module else []))
            else:
                base = node.module or ""
            # ``from pkg import sub`` imports the submodule ``pkg.sub``
            names = [base] + [f"{base}.{a.name}" for a in node.names]
        else:
            continue
        for name in names:
            # importing a.b.c also runs a/__init__ and a/b/__init__
            parts = name.split(".")
            for i in range(1, len(parts) + 1):
                prefix = ".".join(parts[:i])
                if prefix in mods:
                    found.add(prefix)
    return found


def _unreached(
    mods: dict[str, str], entry_files: list[str], root_modules: set[str]
) -> list[str]:
    """Modules in ``mods`` that neither ``root_modules`` nor the
    ``entry_files`` import, directly or through another module."""
    seen = set(root_modules)
    todo = list(seen)
    for path in entry_files:
        for m in _imported(path, None, mods) - seen:
            seen.add(m)
            todo.append(m)
    while todo:
        m = todo.pop()
        for dep in _imported(mods[m], m, mods) - seen:
            seen.add(dep)
            todo.append(dep)
    return sorted(set(mods) - seen)


def test_every_package_module_is_reached_from_an_entry_surface():
    unreached = _unreached(
        _package_modules(),
        _entry_files(),
        {f"{PKG}.__main__", f"{PKG}.pipeline.controller"},
    )
    unlisted = [m for m in unreached if m not in UNWIRED]
    assert not unlisted, (
        "package modules no entry surface imports (delete them, wire "
        "them to an entry surface, or list them in UNWIRED with a "
        "reason): " + ", ".join(unlisted)
    )
    stale = sorted(set(UNWIRED) - set(unreached))
    assert not stale, (
        "UNWIRED lists modules that are reached or gone: " + ", ".join(stale)
    )


def _names(node: ast.AST) -> set[str]:
    """Identifiers a node refers to: ``Name``s, ``Attribute`` names,
    import aliases and identifier-shaped string constants (registries
    that name a function by string)."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
        elif (
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and n.value.isidentifier()
        ):
            out.add(n.value)
    return out


def _definitions(
    pkg_dir: str, root_modules: set[str]
) -> tuple[dict[str, ast.AST], set[str]]:
    """Every top-level definition under ``pkg_dir`` as ``"<module>.<name>"``
    -> node, and the names the roots refer to: each module's statements
    that define nothing, and the whole of each module in
    ``root_modules``."""
    defs, roots = {}, set()
    for dirpath, _, files in os.walk(pkg_dir):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            rel = os.path.relpath(path, pkg_dir)[: -len(".py")].split(os.sep)
            module = ".".join(rel[:-1] if rel[-1] == "__init__" else rel)
            prefix = f"{module}." if module else ""
            tree = _parse(path)
            if module in root_modules:
                roots |= _names(tree)
            for stmt in tree.body:
                if isinstance(
                    stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                ):
                    defs[prefix + stmt.name] = stmt
                elif isinstance(stmt, ast.Assign) and all(
                    isinstance(t, ast.Name) for t in stmt.targets
                ):
                    for t in stmt.targets:
                        defs[prefix + t.id] = stmt.value
                elif isinstance(stmt, ast.AnnAssign) and isinstance(
                    stmt.target, ast.Name
                ):
                    defs[prefix + stmt.target.id] = stmt
                else:
                    roots |= _names(stmt)
    return defs, roots


def _reached(defs: dict[str, ast.AST], names: set[str], seeds=()) -> set[str]:
    """Definitions whose name is in ``names`` or in the body of a reached
    definition; ``seeds`` are reached from the start."""
    names = set(names)
    reached = set(seeds)
    for key in reached:
        names |= _names(defs[key])
    grew = True
    while grew:
        grew = False
        for key, node in defs.items():
            if key not in reached and key.rsplit(".", 1)[-1] in names:
                reached.add(key)
                names |= _names(node)
                grew = True
    return reached


def _check_definitions(
    pkg_dir: str, root_files: list[str], root_modules: set[str], entry_points
) -> tuple[list[str], list[str]]:
    """(unreached definitions not in ``entry_points``, stale entries). An
    entry is stale when it no longer exists or is reached without the
    entries; the rest are then walked from as roots."""
    defs, roots = _definitions(pkg_dir, root_modules)
    for path in root_files:
        roots |= _names(_parse(path))
    reached = _reached(defs, roots)
    stale = sorted(e for e in entry_points if e not in defs or e in reached)
    reached = _reached(defs, roots, [e for e in entry_points if e in defs])
    unlisted = sorted(set(defs) - reached - set(entry_points))
    return unlisted, stale


def test_every_top_level_definition_is_reached_from_an_entry_surface():
    unlisted, stale = _check_definitions(
        os.path.join(ROOT, PKG),
        _entry_files(),
        {"__main__", "pipeline.controller"},
        ENTRY_POINTS,
    )
    assert not unlisted, (
        "top-level definitions no entry surface reaches (delete them, "
        "wire them to an entry surface, or list them in ENTRY_POINTS with "
        "a reason): " + ", ".join(unlisted)
    )
    assert not stale, (
        "ENTRY_POINTS lists definitions that are reached or gone: "
        + ", ".join(stale)
    )


def test_definition_walk_roots_and_exactness(tmp_path):
    """A definition only a test names is unreached; one named in a reached
    body, or by a string in a module-level registry, is reached; an entry
    that is reached anyway, or gone, is stale."""
    pkg = tmp_path / "p"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "a.py").write_text(
        "QUERIES = ('by_string',)\n"
        "def by_string():\n    return helper()\n"
        "def helper():\n    return 1\n"
        "def only_tests():\n    pass\n"
        "def entry():\n    return from_entry()\n"
        "def from_entry():\n    pass\n"
        "def listed_and_reached():\n    pass\n"
    )
    (pkg / "b.py").write_text("REGISTRY = {'k': 'by_registry'}\n")
    (pkg / "c.py").write_text(
        "def by_registry():\n    pass\n"
        "if __name__ == '__main__':\n    listed_and_reached()\n"
    )
    script = tmp_path / "run.py"
    script.write_text("from p.a import QUERIES\nfrom p.b import REGISTRY\n")
    (tmp_path / "test_a.py").write_text("from p.a import only_tests\n")
    entries = {"a.entry": "", "a.listed_and_reached": "", "a.gone": ""}
    unlisted, stale = _check_definitions(str(pkg), [str(script)], set(), entries)
    assert unlisted == ["a.only_tests"]
    assert stale == ["a.gone", "a.listed_and_reached"]


def test_walk_follows_function_local_relative_imports(tmp_path):
    """The walk sees ``from . import x`` inside a function body, and a
    package ``__init__``'s ``.`` is the package itself. No directory is
    a root: a ``streaming/`` module nothing imports is unreached."""
    pkg = tmp_path / "p"
    (pkg / "sub").mkdir(parents=True)
    (pkg / "streaming").mkdir()
    files = {
        "p": pkg / "__init__.py",
        "p.a": pkg / "a.py",
        "p.b": pkg / "b.py",
        "p.sub": pkg / "sub" / "__init__.py",
        "p.sub.x": pkg / "sub" / "x.py",
        "p.streaming": pkg / "streaming" / "__init__.py",
        "p.streaming.s": pkg / "streaming" / "s.py",
    }
    for f in files.values():
        f.write_text("")
    files["p.a"].write_text("def f():\n    from . import b\n")
    files["p.sub"].write_text("from .. import a\nfrom .x import g\n")
    mods = {name: str(f) for name, f in files.items()}
    assert _imported(mods["p.a"], "p.a", mods) == {"p", "p.b"}
    assert _imported(mods["p.sub"], "p.sub", mods) == {"p", "p.a", "p.sub", "p.sub.x"}
    assert _unreached(mods, [], {"p.sub"}) == ["p.streaming", "p.streaming.s"]
