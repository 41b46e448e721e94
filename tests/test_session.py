"""The session factory: master parsing, the conf it builds, the content-named
package zip shipped once per application, and the Python worker daemon that
local sessions run their workers under."""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import types
import uuid
import zipfile

import pytest

from ocr_platform_spark import session
from ocr_platform_spark.session import (
    _SHIPPED_APPS,
    _package_zip,
    ensure_shipped,
    local_cores,
    session_conf,
)

DAEMON = "spark.python.daemon.module"
EXEC_PATH = "spark.executorEnv.PYTHONPATH"
PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))


@pytest.mark.parametrize(
    "master, cores",
    [
        ("local", 1),
        ("local[3]", 3),
        ("local[*]", os.cpu_count()),
        ("local[4,2]", 4),
        ("local[4 , 2]", 4),
        ("local[*,3]", os.cpu_count()),
        ("yarn", None),
        ("spark://host:7077", None),
        ("local-cluster[2,1,1024]", None),
        ("local[]", None),
    ],
)
def test_local_cores_parses_every_local_master_form(master, cores):
    assert local_cores(master) == cores


def test_shuffle_partitions_follow_the_master():
    assert session_conf("local")["spark.sql.shuffle.partitions"] == "8"
    assert session_conf("local[4,2]")["spark.sql.shuffle.partitions"] == "8"
    assert session_conf("local[12]")["spark.sql.shuffle.partitions"] == "24"
    assert session_conf("yarn")["spark.sql.shuffle.partitions"] == "64"
    assert session_conf("local[12]", 5)["spark.sql.shuffle.partitions"] == "5"


def test_daemon_conf_only_for_local_masters():
    for master in ("local", "local[2]", "local[*]", "local[4,2]"):
        conf = session_conf(master)
        assert conf[DAEMON] == "ocr_platform_spark._daemon"
        assert conf[EXEC_PATH] == PKG_ROOT
    for master in ("yarn", "spark://host:7077", "k8s://https://host:6443"):
        conf = session_conf(master, extra_conf={EXEC_PATH: "/srv/libs"})
        assert DAEMON not in conf
        assert conf[EXEC_PATH] == "/srv/libs"


def test_caller_pythonpath_and_daemon_survive():
    own = os.pathsep.join(["/srv/libs", PKG_ROOT, "/srv/more"])
    conf = session_conf("local[2]", extra_conf={EXEC_PATH: own})
    assert conf[EXEC_PATH] == os.pathsep.join([PKG_ROOT, "/srv/libs", "/srv/more"])
    conf = session_conf("local[2]", extra_conf={DAEMON: "pyspark.daemon"})
    assert conf[DAEMON] == "pyspark.daemon"


def _zip_sources(path: str) -> dict[str, bytes]:
    with zipfile.ZipFile(path) as zf:
        return {n: zf.read(n) for n in zf.namelist()}


def test_package_zip_is_named_by_content(tmp_path, monkeypatch):
    """Two checkouts whose sources differ ship different zips, whichever is
    older on disk; the same sources reuse one zip."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    pkg = os.path.dirname(os.path.abspath(session.__file__))
    copies = {}
    for name in ("a", "b"):
        dst = tmp_path / name / "ocr_platform_spark"
        shutil.copytree(pkg, dst, ignore=shutil.ignore_patterns("__pycache__"))
        copies[name] = dst
    (copies["b"] / "added.py").write_text("X = 1\n")
    zips = {}
    for name in ("a", "b"):
        monkeypatch.setattr(session, "__file__", str(copies[name] / "session.py"))
        zips[name] = _package_zip()
        for root, _dirs, files in os.walk(copies[name]):
            for fn in files:  # a later checkout may hold older files
                os.utime(os.path.join(root, fn), (1_000_000, 1_000_000))
    assert zips["a"] != zips["b"]
    assert "ocr_platform_spark/added.py" in _zip_sources(zips["b"])
    assert "ocr_platform_spark/added.py" not in _zip_sources(zips["a"])
    assert _zip_sources(zips["a"])["ocr_platform_spark/session.py"] == (
        copies["a"] / "session.py"
    ).read_bytes()
    monkeypatch.setattr(session, "__file__", str(copies["a"] / "session.py"))
    assert _package_zip() == zips["a"]
    assert sorted(os.listdir(tmp_path)) == sorted(
        ["a", "b", os.path.basename(zips["a"]), os.path.basename(zips["b"])]
    )


def test_package_ships_once_per_application(spark):
    sc = spark.sparkContext
    assert sc.applicationId in _SHIPPED_APPS
    ensure_shipped(spark)
    shipped = [f for f in sc._python_includes if f.startswith("ocr_platform_spark-")]
    assert shipped == [os.path.basename(_package_zip())]


class _ForeignSession:
    """What ``ensure_shipped`` touches on a session built without get_spark:
    its app id, SparkConf, ``addPyFile`` and the runtime conf."""

    def __init__(self, conf_tz: str | None):
        self.py_files: list[str] = []
        self.runtime: dict[str, str] = {}
        spark_conf = {} if conf_tz is None else {"spark.sql.session.timeZone": conf_tz}
        self.sparkContext = types.SimpleNamespace(
            applicationId=f"app-{uuid.uuid4().hex}",
            getConf=lambda: spark_conf,
            addPyFile=self.py_files.append,
        )
        self.conf = types.SimpleNamespace(set=self.runtime.__setitem__)


@pytest.mark.parametrize(
    "conf_tz, runtime",
    [
        (None, {"spark.sql.session.timeZone": "UTC"}),
        ("America/New_York", {"spark.sql.session.timeZone": "UTC"}),
        ("UTC", {}),
    ],
)
def test_foreign_session_ships_once_and_runs_in_utc(conf_tz, runtime):
    foreign = _ForeignSession(conf_tz)
    ensure_shipped(foreign)
    ensure_shipped(foreign)
    assert foreign.py_files == [_package_zip()]
    assert foreign.runtime == runtime


def test_daemon_invalidates_caches_only_when_sys_path_changed(monkeypatch):
    """Importing the daemon module patches nothing (only running it does);
    its wrapper calls the real invalidation once per ``sys.path`` length."""
    import importlib

    from ocr_platform_spark import _daemon

    assert importlib.invalidate_caches.__module__ == "importlib"
    calls = []
    monkeypatch.setattr(_daemon, "_invalidate_caches", lambda: calls.append(len(sys.path)))
    monkeypatch.setattr(_daemon, "_path_len", -1)
    monkeypatch.setattr(sys, "path", list(sys.path))
    for _ in range(3):
        _daemon._invalidate_caches_when_path_changed()
    sys.path.insert(1, "/nonexistent-added-path")
    for _ in range(3):
        _daemon._invalidate_caches_when_path_changed()
    n = len(sys.path)
    assert calls == [n - 1, n]


def test_workers_fork_from_the_package_daemon(spark):
    """The test session comes from get_spark on a local master, so its
    workers run under ``ocr_platform_spark._daemon`` with the wrapped
    ``importlib.invalidate_caches``."""
    assert spark.sparkContext.getConf().get(DAEMON) == "ocr_platform_spark._daemon"

    def probe(_):
        import importlib
        import sys

        main = sys.modules["__main__"]
        return (main.__spec__.name, importlib.invalidate_caches.__name__)

    got = set(spark.sparkContext.parallelize(range(4), 4).map(probe).collect())
    assert got == {("ocr_platform_spark._daemon", "_invalidate_caches_when_path_changed")}


def _pids(spark, n: int = 4) -> set[int]:
    return set(spark.sparkContext.parallelize(range(n), n).map(lambda _: os.getpid()).collect())


def _import_on_workers(spark, module: str, n: int = 4) -> list[tuple[int, int]]:
    def load(_):
        import importlib

        return (os.getpid(), importlib.import_module(module).VALUE)

    return spark.sparkContext.parallelize(range(n), n).map(load).collect()


def test_zip_added_mid_session_imports_on_running_workers(spark, tmp_path):
    """A zip shipped with ``addPyFile`` grows ``sys.path`` on the worker, so
    the daemon's wrapper runs the real cache invalidation."""
    before = _pids(spark)
    module = f"shipped_zip_{uuid.uuid4().hex[:12]}"
    zpath = tmp_path / f"{module}.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.writestr(f"{module}/__init__.py", "VALUE = 41\n")
    spark.sparkContext.addPyFile(str(zpath))
    got = _import_on_workers(spark, module)
    assert [v for _pid, v in got] == [41] * 4
    assert before & {pid for pid, _v in got}, "no already-running worker took part"


def test_py_file_added_mid_session_imports_on_running_workers(spark, tmp_path):
    """A plain ``.py`` lands in the SparkFiles directory, already on the
    worker's ``sys.path``, so ``sys.path`` does not grow; the import still
    finds it."""
    before = _pids(spark)
    module = f"shipped_py_{uuid.uuid4().hex[:12]}"
    path = tmp_path / f"{module}.py"
    path.write_text("VALUE = 42\n")
    spark.sparkContext.addPyFile(str(path))
    got = _import_on_workers(spark, module)
    assert [v for _pid, v in got] == [42] * 4
    assert before & {pid for pid, _v in got}, "no already-running worker took part"
