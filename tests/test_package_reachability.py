"""Every package module is reached from a runner, not only from tests, and
every top-level name of a package module is used outside tests.

Walks imports with `ast`, starting from the non-test entry points (the
driver contract, `bench.py`, `scripts/` and `perfbench/`), and
follows package imports transitively. A module that only tests import is
dead code; delete it with its tests, or record here why it stays. The same
holds for a top-level function, class or constant that no non-test file
names (as a name, an attribute or an import) outside its own definition.
"""

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "finance_sc_relations_spark"

# Each stays for an open capability decision recorded in ROADMAP item B.
ALLOWED_UNREACHED = {
    "operators.llm_verify": "the paper's relabel verification, not yet a KG_STAGES stage",
    "sources.catalog": "the only Iceberg-aware code, not yet wired into run_job's writes",
}


# Each is used only by tests, for the reason given.
ALLOWED_TEST_ONLY_NAMES = {
    "operators.dedup.embedding_near_dup_pairs":
        "exact all-pairs oracle the LSH variant is checked against",
    "functions.tagging.extract_tagged_names":
        "oracle of the tagging property tests",
}


def _entry_points() -> list[Path]:
    return [REPO / "__spark_entry__.py", REPO / "bench.py",
            *sorted((REPO / "scripts").glob("*.py")),
            *sorted((REPO / "perfbench").glob("*.py"))]


def _module_name(path: Path) -> str:
    rel = path.relative_to(REPO / PKG).with_suffix("")
    parts = rel.parts[:-1] if rel.name == "__init__" else rel.parts
    return ".".join((PKG,) + parts)


def _imported(path: Path) -> set[str]:
    """Fully qualified names this file imports, including each `from X
    import y` as both X and X.y (y may be a submodule)."""
    is_pkg = path.name == "__init__.py"
    inside = REPO / PKG in path.parents
    here = _module_name(path).split(".") if inside else []
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = here if is_pkg else here[:-1]
                base = base[:len(base) - node.level + 1]
                mod = ".".join(base + ([node.module] if node.module else []))
            else:
                mod = node.module
            names.add(mod)
            names.update(f"{mod}.{a.name}" for a in node.names)
    return names


def test_every_package_module_is_reached_from_a_runner():
    modules = {_module_name(p): p for p in (REPO / PKG).rglob("*.py")}
    reached: set[str] = set()
    todo = list(_entry_points())
    while todo:
        for name in _imported(todo.pop()):
            # importing a.b.c also imports the packages a and a.b
            parts = name.split(".")
            for i in range(1, len(parts) + 1):
                prefix = ".".join(parts[:i])
                if prefix in modules and prefix not in reached:
                    reached.add(prefix)
                    todo.append(modules[prefix])
    unreached = {m.removeprefix(PKG + ".") for m in modules.keys() - reached}
    # the package holding an allowlisted module may be unreached with it
    unreached -= {a.rsplit(".", 1)[0] for a in ALLOWED_UNREACHED}
    assert unreached == set(ALLOWED_UNREACHED), (
        f"test-only modules: {sorted(unreached - set(ALLOWED_UNREACHED))}; "
        f"allowlisted but reached: {sorted(set(ALLOWED_UNREACHED) - unreached)}")


def _top_level_names(stmt) -> set[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return {stmt.name}
    targets = (stmt.targets if isinstance(stmt, ast.Assign)
               else [stmt.target] if isinstance(stmt, ast.AnnAssign) else [])
    return {t.id for t in targets if isinstance(t, ast.Name)}


def _used_names(node) -> set[str]:
    names = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
            names.add(n.id)
        elif isinstance(n, ast.Attribute):
            names.add(n.attr)
        elif isinstance(n, ast.alias):
            names.add(n.name.rsplit(".", 1)[-1])
    return names


def test_every_package_name_is_used_outside_tests():
    package = sorted((REPO / PKG).rglob("*.py"))
    used: set[str] = set()
    defined = []  # (qualified name, bare name)
    for path in package + _entry_points():
        tree = ast.parse(path.read_text(), str(path))
        in_pkg = path in package
        for stmt in tree.body:
            own = _top_level_names(stmt)
            # a definition's references to itself do not count
            used |= _used_names(stmt) - own
            if in_pkg:
                mod = _module_name(path).removeprefix(PKG + ".")
                defined += [(f"{mod}.{n}", n) for n in own
                            if not n.startswith("__")]
    unused = {q for q, n in defined
              if n not in used and q.rsplit(".", 1)[0] not in ALLOWED_UNREACHED}
    assert unused == set(ALLOWED_TEST_ONLY_NAMES), (
        f"test-only names: {sorted(unused - set(ALLOWED_TEST_ONLY_NAMES))}; "
        f"allowlisted but used: {sorted(set(ALLOWED_TEST_ONLY_NAMES) - unused)}")
