"""shipping.guard_zip_caches: the once-per-worker zipimport guard.

A rewritten archive is still re-read, an unchanged one is not, every
Python kernel in the package calls the guard first, and the guard ships
by value into workers that cannot import the package."""

from __future__ import annotations

import ast
import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

from streamprocessing_spark.shipping import guard_zip_caches

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "streamprocessing_spark"
GUARD = "guard_zip_caches"

needs_zip_rescan = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="CPython >= 3.12 invalidates zip caches lazily"
)


def _write_zip(path: Path, files: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


@pytest.fixture()
def zip_on_path(tmp_path, monkeypatch):
    """A fresh archive on sys.path; the zipimporter patch, importer cache
    and imported modules are all restored afterwards."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"zg_pkg/__init__.py": "", "zg_pkg/a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    yield archive
    for name in [m for m in sys.modules if m == "zg_pkg" or m.startswith("zg_pkg.")]:
        del sys.modules[name]


@needs_zip_rescan
def test_rewritten_zip_is_reread(zip_on_path):
    importlib.import_module("zg_pkg.a")
    guard_zip_caches()
    importlib.invalidate_caches()
    _write_zip(zip_on_path, {"zg_pkg/__init__.py": "", "zg_pkg/a.py": "X = 1\n", "zg_pkg/b.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zg_pkg.b").Y == 2


@needs_zip_rescan
def test_unchanged_archive_is_not_reread(zip_on_path, monkeypatch):
    # two importers on one archive: the root and the zg_pkg/ prefix
    importlib.import_module("zg_pkg.a")
    real = zipimport._read_directory
    reads: list[str] = []

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)

    def reads_of_archive_per_call() -> int:
        reads.clear()
        importlib.invalidate_caches()
        return reads.count(str(zip_on_path))

    assert reads_of_archive_per_call() == 2  # stock: every importer re-reads
    guard_zip_caches()
    guard_zip_caches()  # a second call in the same process is a no-op
    assert reads_of_archive_per_call() == 1  # first guarded call: one read serves both
    assert reads_of_archive_per_call() == 0
    assert reads_of_archive_per_call() == 0
    _write_zip(zip_on_path, {"zg_pkg/__init__.py": "", "zg_pkg/a.py": "X = 1\n", "zg_pkg/c.py": ""})
    assert reads_of_archive_per_call() == 1
    assert reads_of_archive_per_call() == 0
    assert importlib.import_module("zg_pkg.c") is not None


# -- coverage: every Python kernel in the package calls the guard first --

KERNEL_APIS = {"mapInPandas", "applyInPandas", "applyInPandasWithState", "mapInArrow", "applyInArrow"}
UDF_DECORATORS = {"pandas_udf", "udtf"}
# methods Spark runs inside the Python worker, by base-class name
WORKER_METHODS = {
    "DataSourceReader": ("read",),
    "SimpleDataSourceStreamReader": ("read", "readBetweenOffsets"),
    "DataSourceArrowWriter": ("write",),
    "DataSourceWriter": ("write",),
}
FUNC_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _starts_with_guard(fn: ast.FunctionDef) -> bool:
    body = fn.body
    if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
        body = body[1:]  # docstring
    return bool(body) and (
        isinstance(body[0], ast.Expr)
        and isinstance(body[0].value, ast.Call)
        and isinstance(body[0].value.func, ast.Name)
        and body[0].value.func.id == GUARD
        and not body[0].value.args
    )


def _own_nodes(scope: ast.AST):
    """Nodes of ``scope``'s own body: nested defs are yielded but not
    entered."""
    todo = list(ast.iter_child_nodes(scope))
    while todo:
        node = todo.pop()
        yield node
        if not isinstance(node, (*FUNC_DEFS, ast.ClassDef, ast.Lambda)):
            todo.extend(ast.iter_child_nodes(node))


def _defs_in_scope(scope: ast.AST) -> dict[str, ast.FunctionDef]:
    """Functions defined directly in ``scope``."""
    return {n.name: n for n in _own_nodes(scope) if isinstance(n, FUNC_DEFS)}


def _module_defs() -> dict[str, list[tuple[ast.Module, ast.FunctionDef]]]:
    """Module-level functions of the whole package by name, for factories
    called through a module alias (``S.cell_verify_kernel(...)``)."""
    index: dict[str, list[tuple[ast.Module, ast.FunctionDef]]] = {}
    for p in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(p.read_text())
        for node in tree.body:
            if isinstance(node, FUNC_DEFS):
                index.setdefault(node.name, []).append((tree, node))
    return index


MODULE_DEFS = _module_defs()


def _resolve(expr: ast.expr, scopes: list[ast.AST], pick: int | None = None) -> ast.FunctionDef | None:
    """The def a kernel argument names: a function in an enclosing scope,
    or the inner function a factory call returns (``pick`` indexes a
    returned tuple), directly or through a local assignment."""
    if isinstance(expr, ast.Tuple) and pick is not None:
        return _resolve(expr.elts[pick], scopes)
    if isinstance(expr, ast.Name):
        for scope in reversed(scopes):
            fn = _defs_in_scope(scope).get(expr.id)
            if fn is not None:
                return fn
            for node in _own_nodes(scope):
                if not isinstance(node, ast.Assign) or len(node.targets) != 1:
                    continue
                target = node.targets[0]
                if isinstance(target, ast.Name) and target.id == expr.id:
                    return _resolve(node.value, scopes)
                if isinstance(target, ast.Tuple):
                    names = [e.id if isinstance(e, ast.Name) else None for e in target.elts]
                    if expr.id in names:
                        return _resolve(node.value, scopes, names.index(expr.id))
        return None
    if isinstance(expr, ast.Call):
        if isinstance(expr.func, ast.Attribute):
            found = MODULE_DEFS.get(expr.func.attr, [])
            if len(found) != 1:
                return None
            tree, factory = found[0]
            outer = [tree]
        else:
            factory = _resolve(expr.func, scopes)
            outer = scopes
        if factory is None:
            return None
        returned = [n.value for n in _own_nodes(factory) if isinstance(n, ast.Return) and n.value is not None]
        if len(returned) == 1:
            return _resolve(returned[0], [*outer, factory], pick)
    return None


def _kernel_sites(path: Path):
    """(label, def-or-None) for every Python worker entry point in a module."""
    tree = ast.parse(path.read_text())
    sites = []

    def visit(node: ast.AST, scopes: list[ast.AST]) -> None:
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute) and node.func.attr in KERNEL_APIS:
            arg = node.args[0] if node.args else next((k.value for k in node.keywords if k.arg == "func"), None)
            sites.append((f"{node.func.attr}@{node.lineno}", _resolve(arg, scopes) if arg is not None else None))
        if isinstance(node, (*FUNC_DEFS, ast.ClassDef)):
            names = {
                (d.func if isinstance(d, ast.Call) else d).id
                for d in node.decorator_list
                if isinstance(d.func if isinstance(d, ast.Call) else d, ast.Name)
            }
            if names & UDF_DECORATORS:
                if isinstance(node, ast.ClassDef):  # a UDTF: guarded once per instance
                    init = _defs_in_scope(node).get("__init__")
                    sites.append((f"udtf@{node.lineno}", init))
                else:
                    sites.append((f"pandas_udf@{node.lineno}", node))
        if isinstance(node, ast.ClassDef):
            bases = {b.id for b in node.bases if isinstance(b, ast.Name)}
            methods = _defs_in_scope(node)
            for base in bases & WORKER_METHODS.keys():
                for m in WORKER_METHODS[base]:
                    if m in methods:
                        sites.append((f"{node.name}.{m}@{methods[m].lineno}", methods[m]))
        inner = [*scopes, node] if isinstance(node, FUNC_DEFS) else scopes
        for child in ast.iter_child_nodes(node):
            visit(child, inner)

    visit(tree, [tree])
    return sites


def test_every_python_kernel_calls_the_guard_first():
    sites = {
        f"{p.relative_to(REPO)}:{label}": fn
        for p in sorted(PACKAGE.rglob("*.py"))
        for label, fn in _kernel_sites(p)
    }
    unresolved = sorted(s for s, fn in sites.items() if fn is None)
    unguarded = sorted(s for s, fn in sites.items() if fn is not None and not _starts_with_guard(fn))
    assert not unresolved, f"kernel argument not traceable to a def: {unresolved}"
    assert not unguarded, f"kernels that do not call {GUARD}() first: {unguarded}"
    api_sites = [s for s in sites if s.split(":")[1].split("@")[0] in KERNEL_APIS]
    assert len(api_sites) >= 28, api_sites  # the sweep must keep finding the known sites


# -- the guard in real workers, from a cwd outside the repo --

_PROBE = """
import json
import os
import sys

sys.path.insert(0, {repo!r})  # driver only: workers get no path to the package

import pandas as pd
from pyspark.sql import SparkSession

from streamprocessing_spark.shipping import ensure_shippable, guard_zip_caches

ensure_shippable()
SCHEMA = "api string, pre boolean, post boolean, pkg boolean"


def report(api):
    import zipimport

    def guarded():
        return bool(getattr(zipimport.zipimporter.invalidate_caches, "stat_guarded", False))

    pre = guarded()
    guard_zip_caches()
    return pd.DataFrame(
        [(api, pre, guarded(), "streamprocessing_spark" in sys.modules)],
        columns=["api", "pre", "post", "pkg"],
    )


def map_kernel(batches):
    for _ in batches:
        pass
    yield report("mapInPandas")


def group_kernel(pdf):
    return report("applyInPandas")


def state_kernel(key, pdfs, state):
    for _ in pdfs:
        pass
    yield report("applyInPandasWithState")


spark = (
    SparkSession.builder.master("local[1]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.local.dir", os.path.abspath("spark-local"))
    .getOrCreate()
)
rows = spark.range(0, 4, 1, 4).mapInPandas(map_kernel, SCHEMA).collect()
nums = spark.range(4)
rows += nums.groupBy((nums.id % 2).alias("g")).applyInPandas(group_kernel, SCHEMA).collect()
spark.range(4).write.parquet("src")
q = (
    spark.readStream.schema("id long").parquet("src")
    .groupBy("id")
    .applyInPandasWithState(state_kernel, SCHEMA, "n long", "append", "NoTimeout")
    .writeStream.format("memory").queryName("probe").outputMode("append")
    .option("checkpointLocation", os.path.abspath("ckpt"))
    .trigger(availableNow=True).start()
)
q.awaitTermination()
rows += spark.table("probe").collect()
spark.stop()
print(json.dumps([r.asDict() for r in rows]))
"""


@needs_zip_rescan
def test_kernels_install_the_guard_in_workers_outside_the_repo(tmp_path):
    script = tmp_path / "probe.py"
    script.write_text(_PROBE.format(repo=str(REPO)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    rows = json.loads(proc.stdout.strip().splitlines()[-1])
    by_api = {api: [r for r in rows if r["api"] == api] for api in ("mapInPandas", "applyInPandas", "applyInPandasWithState")}
    for api, got in by_api.items():
        assert got, f"{api} kernel never ran"
        assert all(r["post"] for r in got), f"{api}: guard not installed in its worker"
        assert not any(r["pkg"] for r in got), f"{api}: worker imported the package"
    # local[1] runs the 4 map tasks one after another in a reused worker:
    # the guard installed by the first task is still there for the next
    assert any(r["pre"] for r in by_api["mapInPandas"]), by_api["mapInPandas"]
