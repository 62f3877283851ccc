"""How the Python daemons of a ``get_spark()`` context start: the
``worker_site`` startup hook, the session setting that puts it on their
path, the package shipping it makes unnecessary, and the lazy package
import that keeps those processes from importing ``engine``."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile
from types import SimpleNamespace

from pyspark import SparkContext

from duckdb_redis_olap_scanner_spark import engine
from duckdb_redis_olap_scanner_spark.worker_site.sitecustomize import (
    strip_spark_archives,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HOOK = engine.WORKER_SITE


def _worker_facts(batches):
    import importlib
    import time
    import zipimport

    import pyarrow as pa
    import pyspark

    for _ in batches:
        pass
    spark_archives = [
        k for k, v in sys.path_importer_cache.items()
        if isinstance(v, zipimport.zipimporter)
        and ("pyspark.zip" in k or "py4j" in k or ".jar" in k)
    ]
    costs = []
    for _ in range(3):
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        costs.append(time.perf_counter() - t0)
    yield pa.RecordBatch.from_pydict({
        "spark_archives": ["\n".join(spark_archives)],
        "pyspark_file": [pyspark.__file__],
        "invalidate_s": [min(costs)],
    })


def test_workers_import_pyspark_from_its_directory(spark):
    assert spark.sparkContext.getConf().get("spark.executorEnv.PYTHONPATH") == HOOK
    row = spark.range(1, numPartitions=1).mapInArrow(
        _worker_facts,
        "spark_archives string, pyspark_file string, invalidate_s double",
    ).collect()[0]
    assert row.spark_archives == ""
    assert ".zip" not in row.pyspark_file
    assert row.invalidate_s < 0.010


def test_planners_import_pyspark_from_its_directory(spark):
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class PlannerFactsReader(DataSourceReader):
        def partitions(self):
            # Runs in the plan_data_source_read planner process.
            import zipimport

            import pyspark

            zips = sum(isinstance(v, zipimport.zipimporter)
                       for v in sys.path_importer_cache.values())
            return [InputPartition((zips, pyspark.__file__))]

        def read(self, partition):
            yield partition.value

    class PlannerFacts(DataSource):
        @classmethod
        def name(cls):
            return "planner_facts"

        def schema(self):
            return "zipimporters long, pyspark_file string"

        def reader(self, schema):
            return PlannerFactsReader()

    spark.dataSource.register(PlannerFacts)
    row = spark.read.format("planner_facts").load().collect()[0]
    assert row.zipimporters == 0
    assert ".zip" not in row.pyspark_file


def _run_python(tmp_path, pythonpath: list[str], code: str) -> str:
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(pythonpath))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stderr == ""
    return out.stdout


def test_hook_runs_the_sitecustomize_it_shadows(tmp_path):
    shadowed = tmp_path / "shadowed"
    shadowed.mkdir()
    marker = tmp_path / "marker"
    (shadowed / "sitecustomize.py").write_text(
        f"open({str(marker)!r}, 'w').write(__name__)\n")
    out = _run_python(tmp_path, [HOOK, str(shadowed)], (
        "import sys\n"
        "print(sys.modules['sitecustomize'].__file__)\n"
        "print('pyspark' in sys.modules)\n"
    ))
    assert out.splitlines() == [os.path.join(HOOK, "sitecustomize.py"), "False"]
    assert marker.read_text() == "sitecustomize"


def test_hook_changes_nothing_without_pyspark_zip(tmp_path):
    # Spark's py4j zip and a jar on the path, but no pyspark.zip.
    lib = tmp_path / "lib"
    lib.mkdir()
    archives = [str(lib / "py4j-0.10.9.9-src.zip"), str(lib / "user.jar")]
    for archive in archives:
        with zipfile.ZipFile(archive, "w") as zf:
            zf.writestr("placeholder.txt", "")
    code = (
        "import json, sys, zipimport\n"
        "print(json.dumps([sys.path, sorted(\n"
        "    k for k, v in sys.path_importer_cache.items()\n"
        "    if isinstance(v, zipimport.zipimporter)),\n"
        "    getattr(sys.modules.get('sitecustomize'), '__file__', None)]))\n"
    )
    empty = tmp_path / "empty"
    empty.mkdir()
    with_hook = json.loads(_run_python(tmp_path, [*archives, HOOK], code))
    without = json.loads(_run_python(tmp_path, [*archives, str(empty)], code))
    assert with_hook[0] == [HOOK if p == str(empty) else p for p in without[0]]
    assert with_hook[1] == without[1] == archives
    assert with_hook[2] == os.path.join(HOOK, "sitecustomize.py")
    assert without[2] is None


def _package_facts(batches):
    import fnmatch

    import pyarrow as pa

    import duckdb_redis_olap_scanner_spark as pkg

    for _ in batches:
        pass
    yield pa.RecordBatch.from_pydict({
        "shipped": ["\n".join(fnmatch.filter(sys.path, "*-pyfiles-*.zip"))],
        "package_file": [pkg.__file__],
    })


def test_daemon_workers_import_the_package_without_a_shipped_zip(spark):
    engine.ship_package(spark)  # a no-op here, as at every call site
    row = spark.range(1, numPartitions=1).mapInArrow(
        _package_facts, "shipped string, package_file string",
    ).collect()[0]
    assert row.shipped == ""
    assert row.package_file == os.path.join(
        REPO, "duckdb_redis_olap_scanner_spark", "__init__.py")


def _spark_lib(tmp_path, version: bytes):
    """A ``$SPARK_HOME/python/lib``-like dir and the sys.path a worker
    would start with: Spark's zips and jar, then a user zip elsewhere."""
    lib = tmp_path / "spark" / "python" / "lib"
    lib.mkdir(parents=True)
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as zf:
        zf.writestr("pyspark/__init__.py", "")
        zf.writestr("pyspark/version.py", version)
    with zipfile.ZipFile(lib / "py4j-0.10.9.9-src.zip", "w") as zf:
        zf.writestr("py4j/__init__.py", "")
    jar = tmp_path / "spark" / "jars" / "spark-core.jar"
    jar.parent.mkdir()
    jar.write_bytes(b"")
    user_zip = tmp_path / "user.zip"
    user_zip.write_bytes(b"")
    return [str(lib / "pyspark.zip"), str(lib / "py4j-0.10.9.9-src.zip"),
            str(jar), str(user_zip)]


def _site(tmp_path, version: bytes | None, py4j: bool = True) -> str:
    site = tmp_path / "site"
    site.mkdir()
    if version is not None:
        (site / "pyspark").mkdir()
        (site / "pyspark" / "__init__.py").write_text("")
        (site / "pyspark" / "version.py").write_bytes(version)
    if py4j:
        (site / "py4j").mkdir()
        (site / "py4j" / "__init__.py").write_text("")
    return str(site)


def _cache_for(path: list[str]) -> dict:
    cache = {p: object() for p in path}
    cache[path[0] + os.sep + "pyspark"] = object()  # a subpackage importer
    return cache


V1 = b"__version__: str = '9.9.1'\n"
V2 = b"__version__: str = '9.9.2'\n"


def test_strip_removes_spark_archives_when_versions_match(tmp_path):
    archives = _spark_lib(tmp_path, V1)
    path = archives + [_site(tmp_path, V1)]
    cache = _cache_for(path)
    assert strip_spark_archives(path, cache) == archives[:3]
    assert path == archives[3:] + [str(tmp_path / "site")]
    assert sorted(cache) == sorted(path)


def test_strip_keeps_everything_when_versions_differ(tmp_path):
    path = _spark_lib(tmp_path, V1) + [_site(tmp_path, V2)]
    before, cache = list(path), _cache_for(path)
    cached = dict(cache)
    assert strip_spark_archives(path, cache) == []
    assert path == before and cache == cached


def test_strip_keeps_everything_without_an_installed_pyspark(tmp_path):
    for site in (_site(tmp_path, None), None):
        path = _spark_lib(tmp_path / str(site is None), V1)
        if site:
            path.append(site)
        before, cache = list(path), _cache_for(path)
        cached = dict(cache)
        assert strip_spark_archives(path, cache) == []
        assert path == before and cache == cached


def test_strip_keeps_everything_without_an_installed_py4j(tmp_path):
    path = _spark_lib(tmp_path, V1) + [_site(tmp_path, V1, py4j=False)]
    before, cache = list(path), _cache_for(path)
    assert strip_spark_archives(path, cache) == []
    assert path == before


class _RecordingBuilder:
    def __init__(self, spark) -> None:
        self.spark, self.conf = spark, {}

    def appName(self, _name):
        return self

    def master(self, master):
        self.conf["spark.master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.spark


_OWN_JVM = object()


def _built_conf(monkeypatch, spark, master, active, jvm=_OWN_JVM):
    """The settings ``get_spark(master=master)`` gives its builder when
    ``active`` is the active context and ``jvm`` the running JVM (None:
    none yet; by default the test session's own)."""
    sc = spark.sparkContext
    # restored after the test, whatever get_spark marks on the context
    monkeypatch.setattr(sc, "_pkg_on_worker_path",
                        getattr(sc, "_pkg_on_worker_path", False), raising=False)
    builder = _RecordingBuilder(spark)
    monkeypatch.setattr(engine, "SparkSession", SimpleNamespace(builder=builder))
    monkeypatch.setattr(SparkContext, "_active_spark_context", active)
    if jvm is not _OWN_JVM:
        monkeypatch.setattr(SparkContext, "_jvm", jvm)
    engine.get_spark(master=master)
    return builder.conf


def _hook_path(monkeypatch, spark, master, active, jvm=_OWN_JVM):
    """The workers' extra path ``get_spark`` asks for in that case."""
    conf = _built_conf(monkeypatch, spark, master, active, jvm)
    return conf.get("spark.executorEnv.PYTHONPATH")


def _jvm_with_pythonpath(value):
    system = SimpleNamespace(getenv=lambda key: value)
    return SimpleNamespace(java=SimpleNamespace(lang=SimpleNamespace(System=system)))


def test_worker_site_only_when_starting_a_local_context(spark, monkeypatch):
    sc = spark.sparkContext
    assert _hook_path(monkeypatch, spark, "local[2]", None) == HOOK
    assert _hook_path(monkeypatch, spark, "local", None) == HOOK
    # No JVM yet: the one launched now inherits the PYTHONPATH export.
    assert _hook_path(monkeypatch, spark, "local[2]", None, jvm=None) == HOOK
    assert _hook_path(monkeypatch, spark, "local[2]", sc) is None
    assert _hook_path(monkeypatch, spark, "spark://h:7077", None) is None
    assert _hook_path(monkeypatch, spark, "yarn", None) is None
    assert _hook_path(monkeypatch, spark, "local-cluster[2,1,1024]", None) is None
    # A JVM left from a stopped context keeps the PYTHONPATH it was
    # launched with; its workers could not import the package.
    assert _hook_path(
        monkeypatch, spark, "local[2]", None, jvm=_jvm_with_pythonpath(None)
    ) is None
    assert _hook_path(
        monkeypatch, spark, "local[2]", None, jvm=_jvm_with_pythonpath("/elsewhere")
    ) is None
    assert _hook_path(
        monkeypatch, spark, "local[2]", None, jvm=_jvm_with_pythonpath(REPO)
    ) == HOOK


def test_package_import_leaves_pyspark_unimported(tmp_path):
    code = (
        "import sys\n"
        "import duckdb_redis_olap_scanner_spark\n"
        "assert 'pyspark' not in sys.modules, 'package import loaded pyspark'\n"
        "import duckdb_redis_olap_scanner_spark.sources.redis_source\n"
        "for name in ('duckdb_redis_olap_scanner_spark.engine', 'pandas'):\n"
        "    assert name not in sys.modules, 'source import loaded ' + name\n"
        "from duckdb_redis_olap_scanner_spark import testing\n"
        "from duckdb_redis_olap_scanner_spark import (\n"
        "    Engine, get_spark, load_tables, register_datasources)\n"
        "from duckdb_redis_olap_scanner_spark.engine import Engine as E\n"
        "assert Engine is E and callable(get_spark)\n"
        "assert callable(load_tables) and callable(register_datasources)\n"
        "assert testing.FakeRedisServer\n"
    )
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr


class _FakeSession:
    def __init__(self) -> None:
        self.shipped: list[str] = []
        self.sparkContext = SimpleNamespace(addPyFile=self.shipped.append)


def test_package_ships_only_without_the_hook(monkeypatch):
    monkeypatch.setattr(engine, "register_datasources", lambda spark: None)
    # An existing context: its workers never saw the PYTHONPATH export.
    existing = _FakeSession()
    assert _hook_path(monkeypatch, existing, "local[2]", object()) is None
    assert existing._pkg_shipped is True
    (zip_path,) = existing.shipped
    with zipfile.ZipFile(zip_path) as zf:
        assert "duckdb_redis_olap_scanner_spark/engine.py" in zf.namelist()
    # A context started now: its workers import the package directly.
    fresh = _FakeSession()
    assert _hook_path(monkeypatch, fresh, "local[2]", None) == HOOK
    assert fresh.shipped == [] and not hasattr(fresh, "_pkg_shipped")
    engine.ship_package(fresh)  # later call sites skip it too
    assert fresh.shipped == []


def test_local_cores_default_to_the_affinity_count(spark, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    n = len(os.sched_getaffinity(0))
    assert engine.local_cores() == n
    conf = _built_conf(monkeypatch, spark, None, None)
    assert conf["spark.master"] == f"local[{n}]"
    assert conf["spark.sql.shuffle.partitions"] == str(n)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert _built_conf(monkeypatch, spark, None, None)["spark.master"] == "local[3]"
