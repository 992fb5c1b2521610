"""Import-integrity guard (VERDICT r11 task 2).

Round 11 shipped a commit that clobbered a ``def`` line
(``queries/llm_dedup.py::components_writer``): the symbol vanished, the
registry sweeps stayed green (nothing in the registry calls it), and the
breakage surfaced only inside one streaming test's body — i.e. after a
23-minute full-suite run. This guard is the judge's AST sweep as a
<1 s test with NO Spark session: walk every ``from gmall_flink_spark...
import X`` (and ``import gmall_flink_spark.Y``) in ``tests/`` and the
repo-root entry points, import the module, and assert every ``X``
resolves. A clobbered def now fails collection-speed fast, not
suite-speed slow.

Deliberately import-only: calling anything would need Spark. Function-
LOCAL imports are included (ast.walk, not just module top level) —
that's exactly where the r11 breakage hid.

``scripts/`` is swept too, and there every import of ``bench`` (and every
attribute read off an ``import bench`` alias) or of a sibling script must
resolve: a deleted script that another one still imports fails here, not
an hour into an sf1 run.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
PACKAGE = "gmall_flink_spark"

SCRIPTS = REPO / "scripts"

# Repo-root entry points the driver imports directly.
EXTRA_FILES = [REPO / "__spark_entry__.py", REPO / "bench.py"]


def _imports(tree):
    """Yield (module_name, symbol_or_None, bound_name) for every absolute
    import appearing ANYWHERE (incl. inside function bodies) in ``tree``.
    symbol None means a bare ``import module``."""
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module and not node.level:
            for alias in node.names:
                yield node.module, alias.name, alias.asname or alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                yield alias.name, None, alias.asname or alias.name


def _parse(path):
    return ast.parse(path.read_text(), filename=str(path))


def _referenced_symbols():
    """Yield (source_file, module_name, symbol_or_None) for every
    package import in tests/, the entry points and scripts/."""
    files = (
        sorted((REPO / "tests").glob("*.py"))
        + [p for p in EXTRA_FILES if p.exists()]
        + sorted(SCRIPTS.glob("*.py"))
    )
    for path in files:
        for module, symbol, _ in _imports(_parse(path)):
            if module.split(".")[0] == PACKAGE:
                yield path, module, symbol


def _is_local(module: str) -> bool:
    """bench, a sibling script, or a module nothing installed provides —
    which, imported from a script, can only be a deleted sibling."""
    top = module.split(".")[0]
    return (
        top == "bench"
        or (SCRIPTS / f"{top}.py").exists()
        or importlib.util.find_spec(top) is None
    )


def _script_local_symbols():
    """Yield (script, module_name, symbol_or_None) for every import of
    bench or of a sibling script in scripts/, plus (script, "bench", attr)
    for every attribute read off a bare ``import bench`` alias."""
    for path in sorted(SCRIPTS.glob("*.py")):
        tree = _parse(path)
        bench_aliases = set()
        for module, symbol, bound in _imports(tree):
            if _is_local(module):
                yield path, module, symbol
                if module == "bench" and symbol is None:
                    bench_aliases.add(bound)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Name)
                and node.value.id in bench_aliases
            ):
                yield path, "bench", node.attr


def _resolve(module: str, symbol: str | None) -> str | None:
    """Return an error string if (module, symbol) does not resolve."""
    try:
        mod = importlib.import_module(module)
    except ImportError:
        # ``from pkg.mod import X`` where X is itself a submodule.
        if symbol is not None:
            try:
                importlib.import_module(f"{module}.{symbol}")
                return None
            except ImportError as exc:
                return f"module {module!r} not importable: {exc}"
        return f"module {module!r} not importable"
    if symbol is None or symbol == "*":
        return None
    if hasattr(mod, symbol):
        return None
    try:  # ``from pkg import submodule`` without an attr re-export
        importlib.import_module(f"{module}.{symbol}")
        return None
    except ImportError:
        return f"{module}.{symbol} does not resolve"


def test_every_package_symbol_referenced_by_tests_resolves():
    refs = list(_referenced_symbols())
    assert refs, "sweep found no package imports — the walker is broken"
    failures = []
    for path, module, symbol in refs:
        err = _resolve(module, symbol)
        if err:
            failures.append(f"{path.name}: {err}")
    assert not failures, "unresolvable package imports:\n" + "\n".join(
        sorted(set(failures))
    )


def test_every_bench_and_sibling_import_in_scripts_resolves(monkeypatch):
    monkeypatch.syspath_prepend(str(SCRIPTS))
    refs = list(_script_local_symbols())
    assert any(m == "bench" and s for _, m, s in refs), (
        "sweep found no bench symbol in scripts/ — the walker is broken"
    )
    failures = [
        f"{path.name}: {err}" for path, m, s in refs if (err := _resolve(m, s))
    ]
    assert not failures, "unresolvable script imports:\n" + "\n".join(
        sorted(set(failures))
    )


def test_guard_detects_a_missing_symbol():
    """The guard must FAIL on a deleted def (simulated): resolving a
    symbol that does not exist reports an error rather than passing
    silently — the r11 failure mode, pinned. A script module that no
    longer exists is local by definition, so its import fails too."""
    err = _resolve("gmall_flink_spark.queries.llm_dedup", "components_writer")
    assert err is None, f"restored symbol should resolve: {err}"
    err = _resolve(
        "gmall_flink_spark.queries.llm_dedup", "symbol_that_never_existed"
    )
    assert err is not None and "does not resolve" in err
    assert _is_local("scaling_probe") and _resolve("scaling_probe", "build_scaled_dir")


def test_every_package_module_imports_clean():
    """Belt-and-braces: import every .py under the package (the judge's
    module-level sweep). Catches syntax errors and broken module-level
    imports even in modules no test references yet."""
    pkg_root = REPO / PACKAGE
    failures = []
    for path in sorted(pkg_root.rglob("*.py")):
        rel = path.relative_to(REPO).with_suffix("")
        module = ".".join(rel.parts)
        if module.endswith(".__init__"):
            module = module[: -len(".__init__")]
        try:
            importlib.import_module(module)
        except Exception as exc:  # noqa: BLE001 — report any breakage
            failures.append(f"{module}: {type(exc).__name__}: {exc}")
    assert not failures, "broken package modules:\n" + "\n".join(failures)


if __name__ == "__main__":
    raise SystemExit(pytest.main([__file__, "-q"]))
