"""Every package module is reached from a runner, not only from tests.

Walks imports with `ast`, starting from the non-test entry points (the
driver contract, the bench scripts, `scripts/` and `perfbench/`), and
follows package imports transitively. A module that only tests import is
dead code; delete it with its tests, or record here why it stays.
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


def _entry_points() -> list[Path]:
    return [REPO / "__spark_entry__.py", REPO / "bench.py",
            REPO / "bench_extra.py",
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
