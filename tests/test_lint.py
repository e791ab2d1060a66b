"""Source lint over the package.

- No runtime ``assert`` statements: ``python -O`` strips asserts, so a
  check that guards a plan shape or an input would silently disappear;
  such checks must raise explicitly.
- The set of options the package reads (``spark.movie_etl.*`` confs and
  ``SPARK_GRAFT_*`` environment variables) is pinned.
- Every tool imports: a kept tool that imports a deleted module fails
  here, not at its next manual run.
"""

from __future__ import annotations

import ast
import importlib.util
import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "movie_etl_spark"
TOOLS = PKG.parent / "tools"


def test_package_has_no_assert_statements():
    hits = [
        f"{path.relative_to(PKG.parent)}:{node.lineno}"
        for path in sorted(PKG.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Assert)
    ]
    assert hits == [], f"assert statements in the package: {hits}"


#: every option the package reads: one conf key and the deployment
#: environment. A new knob must change this set on purpose.
OPTIONS = {
    "spark.movie_etl.ensureParallelism.enabled",
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_WAREHOUSE",
}


def test_package_reads_only_the_pinned_options():
    option = re.compile(r"spark\.movie_etl\.[\w.]+|SPARK_GRAFT_\w+")
    found = {
        node.value
        for path in sorted(PKG.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and option.fullmatch(node.value)
    }
    assert found == OPTIONS


def test_every_tool_imports():
    """Load each tool as a module (its ``main`` runs only as a script)."""
    broken = {}
    for path in sorted(TOOLS.glob("*.py")):
        spec = importlib.util.spec_from_file_location(f"_tool_{path.stem}", path)
        try:
            spec.loader.exec_module(importlib.util.module_from_spec(spec))
        except Exception as exc:  # noqa: BLE001 — report every tool at once
            broken[path.name] = f"{type(exc).__name__}: {exc}"
    assert broken == {}
