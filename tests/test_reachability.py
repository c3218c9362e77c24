"""Every package module is reachable from an entry surface.

Walks the package's import graph (``ast`` only, no Spark, nothing is
imported) from the entry surfaces: the driver contract
(``__spark_entry__.py``), the CLI (``__main__``), the CDC controller,
every ``streaming/`` module, the root benches and audits, and
``perfbench/``. Imports inside functions count, including relative
``from . import x``. A module that no entry surface reaches is a
capability nothing uses: delete it, wire it to an entry surface, or
list it in ``UNWIRED`` with the reason it stays.
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
UNWIRED = {
    f"{PKG}.sources.delta_log": "read-only Delta transaction-log reader for "
    "pointing the read surface at an existing Delta table",
}


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
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), filename=path)
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


def _unreached() -> list[str]:
    mods = _package_modules()
    entries = [os.path.join(ROOT, s) for s in ROOT_SCRIPTS]
    perfbench = os.path.join(ROOT, "perfbench")
    entries += sorted(
        os.path.join(perfbench, f) for f in os.listdir(perfbench) if f.endswith(".py")
    )
    seen = {f"{PKG}.__main__", f"{PKG}.pipeline.controller"}
    seen |= {m for m in mods if m.startswith(f"{PKG}.streaming.")}
    todo = list(seen)
    for path in entries:
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
    unreached = _unreached()
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


def test_walk_follows_function_local_relative_imports(tmp_path):
    """The walk sees ``from . import x`` inside a function body, and a
    package ``__init__``'s ``.`` is the package itself."""
    pkg = tmp_path / "p"
    (pkg / "sub").mkdir(parents=True)
    files = {
        "p": pkg / "__init__.py",
        "p.a": pkg / "a.py",
        "p.b": pkg / "b.py",
        "p.sub": pkg / "sub" / "__init__.py",
        "p.sub.x": pkg / "sub" / "x.py",
    }
    for f in files.values():
        f.write_text("")
    files["p.a"].write_text("def f():\n    from . import b\n")
    files["p.sub"].write_text("from .. import a\nfrom .x import g\n")
    mods = {name: str(f) for name, f in files.items()}
    assert _imported(mods["p.a"], "p.a", mods) == {"p", "p.b"}
    assert _imported(mods["p.sub"], "p.sub", mods) == {"p", "p.a", "p.sub", "p.sub.x"}
