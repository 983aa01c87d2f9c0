"""The Python worker daemon that local ``get_spark`` sessions start.

``graft_daemon.demote_spark_zips`` moves Spark's pyspark/py4j zips behind
an installed pyspark of the same build, and only then; local sessions
run their kernels on that pyspark without importing this package;
cluster masters keep Spark's own daemon."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
import zipfile
from pathlib import Path

from streamprocessing_spark.session import DAEMON_DIR, DAEMON_MODULE, worker_daemon_confs

REPO = Path(__file__).resolve().parent.parent


def _daemon_module():
    spec = importlib.util.spec_from_file_location(DAEMON_MODULE, Path(DAEMON_DIR) / f"{DAEMON_MODULE}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


graft_daemon = _daemon_module()


def _version_py(version: str) -> str:
    return f"__version__: str = {version!r}\n"


def _site(tmp_path: Path, version: str) -> Path:
    """A site directory holding an installed pyspark of ``version``."""
    pkg = tmp_path / "site" / "pyspark"
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "version.py").write_text(_version_py(version))
    return pkg.parent


def _spark_zips(lib: Path, version: str) -> list[str]:
    """Spark's python/lib zips, the pyspark one built as ``version``."""
    lib.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", _version_py(version))
    with zipfile.ZipFile(lib / "py4j-0.10.9.9-src.zip", "w") as z:
        z.writestr("py4j/__init__.py", "")
    return [str(lib / "pyspark.zip"), str(lib / "py4j-0.10.9.9-src.zip")]


def test_a_matching_build_moves_the_zips_behind_site_packages(tmp_path):
    site = str(_site(tmp_path, "4.1.2"))
    zips = _spark_zips(tmp_path / "spark" / "python" / "lib", "4.1.2")
    path = [str(tmp_path), *zips, DAEMON_DIR, site]
    assert graft_daemon.demote_spark_zips(path) == [str(tmp_path), DAEMON_DIR, site, *zips]


def test_a_zip_inside_the_installed_package_is_its_own_build(tmp_path):
    # a pip install: SPARK_HOME is the package dir, and its version.py is
    # not compared (here the zip's differs)
    site = _site(tmp_path, "4.1.2")
    zips = _spark_zips(site / "pyspark" / "python" / "lib", "0.0.0")
    path = [*zips, str(site)]
    assert graft_daemon.demote_spark_zips(path) == [str(site), *zips]


def test_a_mismatched_build_leaves_the_path_untouched(tmp_path):
    site = str(_site(tmp_path, "4.1.2"))
    zips = _spark_zips(tmp_path / "spark" / "python" / "lib", "4.0.0")
    path = [*zips, site]
    assert graft_daemon.demote_spark_zips(path) == [*zips, site]


def test_no_installed_pyspark_leaves_the_path_untouched(tmp_path):
    zips = _spark_zips(tmp_path / "spark" / "python" / "lib", "4.1.2")
    path = [*zips, str(tmp_path / "empty")]
    assert graft_daemon.demote_spark_zips(path) == path


def test_no_zip_on_the_path_changes_nothing(tmp_path):
    path = [str(tmp_path), str(_site(tmp_path, "4.1.2")), DAEMON_DIR]
    assert graft_daemon.demote_spark_zips(path) == path


def test_only_local_masters_get_the_daemon():
    for master in ("spark://host:7077", "yarn", "k8s://https://host:443", "mesos://host:5050"):
        assert worker_daemon_confs(master, "/srv/libs") == {}, master
    confs = worker_daemon_confs("local[4,2]")
    assert confs == {"spark.python.daemon.module": DAEMON_MODULE, "spark.executorEnv.PYTHONPATH": DAEMON_DIR}


def test_an_executor_path_already_set_stays_behind_the_daemon_dir():
    kept = os.pathsep.join(["/srv/libs", DAEMON_DIR, "/srv/more"])
    confs = worker_daemon_confs("local[2]", kept)
    assert confs["spark.executorEnv.PYTHONPATH"] == os.pathsep.join([DAEMON_DIR, "/srv/libs", "/srv/more"])


_SCHEMA = "pyspark_file string, pkg boolean"


def _worker_report(spark) -> list[dict]:
    def kernel(batches):
        import sys

        import pandas as pd
        import pyspark

        for _ in batches:
            pass
        yield pd.DataFrame(
            [(pyspark.__file__, "streamprocessing_spark" in sys.modules)], columns=["pyspark_file", "pkg"]
        )

    return [r.asDict() for r in spark.range(0, 2, 1, 2).mapInPandas(kernel, _SCHEMA).collect()]


def _assert_bytecode_cached_workers(rows: list[dict]) -> None:
    assert rows, "the kernel never ran"
    for r in rows:
        assert ".zip" not in r["pyspark_file"], r
        assert not r["pkg"], f"worker imported the package: {r}"


def test_session_workers_import_pyspark_outside_the_zip(spark):
    _assert_bytecode_cached_workers(_worker_report(spark))


_PROBE = """
import json
import sys

sys.path.insert(0, {repo!r})  # this process only: workers get no path to it

import pandas as pd

from streamprocessing_spark.session import get_spark


def kernel(batches):
    import pyspark

    for _ in batches:
        pass
    yield pd.DataFrame(
        [(pyspark.__file__, "streamprocessing_spark" in sys.modules)], columns=["pyspark_file", "pkg"]
    )


spark = get_spark("daemon-probe", master="local[1]")
rows = spark.range(0, 2, 1, 2).mapInPandas(kernel, {schema!r}).collect()
spark.stop()
print(json.dumps([r.asDict() for r in rows]))
"""


def test_a_session_started_elsewhere_finds_the_daemon(tmp_path):
    script = tmp_path / "probe.py"
    script.write_text(_PROBE.format(repo=str(REPO), schema=_SCHEMA))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    env["SPARK_GRAFT_LOCAL_DIR"] = str(tmp_path / "local")
    proc = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    _assert_bytecode_cached_workers(json.loads(proc.stdout.strip().splitlines()[-1]))

