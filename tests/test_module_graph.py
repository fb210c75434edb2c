"""Static import-graph checks over the package source (AST only, no Spark).

Function-level (lazy) imports never run when ``registry`` is imported, so a
stale ``from .operators import x`` inside one query body would only fail when
that query runs. These tests resolve every relative import statically and
check that no package module is orphaned.
"""

import ast
import pathlib

PKG = "practicum2_nof1_adhd_bd_spark"
ROOT = pathlib.Path(__file__).resolve().parent.parent / PKG
ENTRY_POINTS = ("registry", "pipeline", "__main__", "session")


def _modules() -> dict[str, pathlib.Path]:
    """Dotted name (relative to the package, "" for its __init__) -> path."""
    out = {}
    for path in ROOT.rglob("*.py"):
        parts = list(path.relative_to(ROOT).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts = parts[:-1]
        out[".".join(parts)] = path
    return out


MODULES = _modules()


def _top_level_names(mod: str) -> set[str]:
    tree = ast.parse(MODULES[mod].read_text())
    names = set()
    for st in tree.body:
        if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(st.name)
        elif isinstance(st, (ast.Assign, ast.AnnAssign)):
            targets = st.targets if isinstance(st, ast.Assign) else [st.target]
            names |= {t.id for t in targets if isinstance(t, ast.Name)}
        elif isinstance(st, (ast.Import, ast.ImportFrom)):
            names |= {(a.asname or a.name).split(".")[0] for a in st.names}
    return names


def _join(*parts: str) -> str:
    return ".".join(p for p in parts if p)


def _imports(mod: str):
    """Yield (lineno, base module, imported name) for every package-internal
    ``from ... import ...`` in ``mod``, at any nesting depth."""
    is_pkg = MODULES[mod].name == "__init__.py"
    here = mod.split(".") if mod else []
    pkg = here if is_pkg else here[:-1]
    for node in ast.walk(ast.parse(MODULES[mod].read_text())):
        if not isinstance(node, ast.ImportFrom):
            continue
        if node.level:
            up = pkg[: len(pkg) - (node.level - 1)]
            base = _join(*up, node.module or "")
        elif (node.module or "").split(".")[0] == PKG:
            base = node.module[len(PKG) + 1:]
        else:
            continue
        for alias in node.names:
            yield node.lineno, base, alias.name


def _targets(base: str, name: str) -> list[str]:
    """Modules an import of ``name`` from ``base`` loads: the base, its
    parent packages, and ``base.name`` when that is a submodule."""
    parts = base.split(".") if base else []
    mods = [_join(*parts[:i]) for i in range(len(parts) + 1)]
    if _join(base, name) in MODULES:
        mods.append(_join(base, name))
    return mods


def test_every_relative_import_resolves():
    broken = []
    for mod in MODULES:
        for lineno, base, name in _imports(mod):
            where = f"{MODULES[mod].relative_to(ROOT.parent)}:{lineno}"
            if base not in MODULES:
                broken.append(f"{where}: no module {base!r}")
            elif _join(base, name) not in MODULES and (
                name not in _top_level_names(base)
            ):
                broken.append(f"{where}: {base!r} has no {name!r}")
    assert not broken, "\n".join(broken)


def test_every_module_reachable_from_an_entry_point():
    seen = set()
    todo = list(ENTRY_POINTS)
    while todo:
        mod = todo.pop()
        if mod in seen or mod not in MODULES:
            continue
        seen.add(mod)
        for _, base, name in _imports(mod):
            todo.extend(_targets(base, name))
        parts = mod.split(".")
        todo.extend(_join(*parts[:i]) for i in range(len(parts)))
    orphans = sorted(set(MODULES) - seen)
    assert not orphans, orphans


REPO = ROOT.parent
CALLER_ROOTS = (ROOT, REPO / "tests", REPO / "tools", REPO / "perfbench")
CALLER_FILES = (REPO / "bench.py", REPO / "__spark_entry__.py")


def _named() -> set[str]:
    """Every identifier used as a Name, Attribute or import alias in the
    package and in the code that drives it."""
    paths = [p for r in CALLER_ROOTS for p in r.rglob("*.py")]
    paths += [p for p in CALLER_FILES if p.exists()]
    names = set()
    for path in paths:
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.alias):
                names.add(node.name.split(".")[-1])
                if node.asname:
                    names.add(node.asname)
    return names


def test_every_package_function_has_a_caller():
    """An undecorated top-level function that nothing names is dead code
    (decorated ones, e.g. registered queries, are reached through their
    decorator)."""
    named = _named()
    dead = []
    for path in MODULES.values():
        for st in ast.parse(path.read_text()).body:
            if (
                isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef))
                and not st.decorator_list
                and st.name not in named
            ):
                dead.append(f"{path.relative_to(REPO)}:{st.lineno} {st.name}")
    assert not dead, "\n".join(dead)
