"""The engine's Python worker daemon (``honors_p1_mapreduce_spark.pydaemon``).

Archive selection is tested without Spark on a fake layout of Spark's
archives and an installed pyspark; the daemon's fallback and its stdout
protocol on a daemon process started by hand; the prepared worker state
and the worker import path on real sessions. Assertions are structural:
no timing bounds.
"""

from __future__ import annotations

import gc
import json
import os
import struct
import subprocess
import sys
import zipfile
from pathlib import Path

import pandas as pd

from honors_p1_mapreduce_spark import pydaemon

REPO = Path(__file__).resolve().parent.parent
VERSION = b'__version__: str = "4.1.2"\n'


def _zip(path: Path, files: dict[str, bytes]) -> str:
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as zf:
        for name, data in files.items():
            zf.writestr(name, data)
    return str(path)


def _layout(tmp_path: Path, installed_version: bytes = VERSION, with_pyspark_zip: bool = True):
    """A worker path as Spark builds it (archives first), plus a
    non-Spark zip and plain directories, and an importer cache holding
    an entry for each and for the archives' subpackages."""
    site = tmp_path / "site"
    (site / "pyspark").mkdir(parents=True)
    (site / "pyspark" / "__init__.py").write_text("")
    (site / "pyspark" / "version.py").write_bytes(installed_version)
    (site / "py4j").mkdir()
    (site / "py4j" / "__init__.py").write_text("")
    (tmp_path / "cwd").mkdir()
    archives = [
        _zip(tmp_path / "lib" / "py4j-0.10.9.9-src.zip", {"py4j/__init__.py": b""}),
        _zip(tmp_path / "jars" / "spark-core_2.13-4.1.2.jar", {"pyspark/__init__.py": b""}),
    ]
    if with_pyspark_zip:
        archives.insert(0, _zip(tmp_path / "lib" / "pyspark.zip", {"pyspark/version.py": VERSION}))
    others = [
        str(tmp_path / "cwd"),
        _zip(tmp_path / "user" / "deps.zip", {"dep.py": b""}),
        str(site),
    ]
    path = [others[0], *archives, *others[1:]]
    cache = {p: object() for p in path}
    for a in archives:
        cache[a + os.sep + "pyspark"] = object()
    return path, cache, archives, others


def test_matching_version_drops_archives_and_their_importers(tmp_path):
    path, cache, archives, others = _layout(tmp_path)
    dropped = pydaemon.drop_spark_archives(path, cache)
    assert sorted(dropped) == sorted(archives)
    assert path == others
    assert set(cache) == set(others)


def test_mismatched_version_leaves_path_untouched(tmp_path):
    path, cache, _, _ = _layout(tmp_path, installed_version=b'__version__: str = "4.0.0"\n')
    before_path, before_cache = list(path), dict(cache)
    assert pydaemon.drop_spark_archives(path, cache) == []
    assert path == before_path and cache == before_cache


def test_no_pyspark_zip_leaves_path_untouched(tmp_path):
    path, cache, _, _ = _layout(tmp_path, with_pyspark_zip=False)
    before_path, before_cache = list(path), dict(cache)
    assert pydaemon.drop_spark_archives(path, cache) == []
    assert path == before_path and cache == before_cache


def test_no_installed_pyspark_leaves_path_untouched(tmp_path):
    path, cache, _, _ = _layout(tmp_path)
    path.remove(str(tmp_path / "site"))
    before_path = list(path)
    assert pydaemon.spark_archives(path) == []
    assert path == before_path


def test_failed_preload_restores_path_and_cache(tmp_path, monkeypatch):
    path, cache, _, _ = _layout(tmp_path)
    monkeypatch.setattr(sys, "path", path)
    monkeypatch.setattr(sys, "path_importer_cache", cache)
    monkeypatch.setattr(pydaemon, "PRELOAD", ("no_such_module_for_pydaemon",))
    before_path, before_cache = list(path), dict(cache)
    assert pydaemon.prepare() is False
    assert sys.path == before_path
    assert sys.path_importer_cache == before_cache


def _daemon_stdout(tmp_path: Path, pythonpath: list[str]) -> tuple[bytes, str]:
    """Start the daemon as Spark does, close its stdin (Spark's signal to
    exit), and return all it wrote to stdout and stderr. The exit code
    is not checked: pyspark's daemon exits 1 even on that signal."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYTHONPATH"] = os.pathsep.join(pythonpath)
    proc = subprocess.Popen(
        [sys.executable, "-m", "honors_p1_mapreduce_spark.pydaemon", "pyspark.worker"],
        cwd=tmp_path,
        env=env,
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
    )
    port = proc.stdout.read(4)
    out, err = proc.communicate(input=b"", timeout=120)
    return port + out, err.decode()


def test_daemon_stdout_carries_only_the_port(tmp_path):
    out, err = _daemon_stdout(tmp_path, [str(REPO)])
    assert len(out) == 4 and 0 < struct.unpack("!i", out)[0] < 65536, err
    assert "falling back" not in err


def test_daemon_falls_back_to_stock_when_preload_fails(tmp_path):
    broken = tmp_path / "broken" / "pyarrow"
    broken.mkdir(parents=True)
    (broken / "__init__.py").write_text("raise ImportError('pyarrow unavailable')\n")
    out, err = _daemon_stdout(tmp_path, [str(broken.parent), str(REPO)])
    assert len(out) == 4 and 0 < struct.unpack("!i", out)[0] < 65536, err
    assert "falling back to the stock pyspark.daemon" in err


def test_worker_runs_prepared(spark):
    def report(batches):
        import pyspark
        import zipimport

        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "pyspark_file": [pyspark.__file__],
                "zipimporters": [
                    sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
                ],
                "frozen": [gc.get_freeze_count()],
            }
        )

    row = spark.range(1, numPartitions=1).mapInPandas(
        report, "pyspark_file string, zipimporters long, frozen long"
    ).collect()[0]
    assert os.path.isfile(row.pyspark_file)  # not a member of an archive
    assert row.zipimporters == 0
    assert row.frozen > 0


def test_workers_find_the_daemon_without_pythonpath(tmp_path):
    script = tmp_path / "wc.py"
    script.write_text(
        f"""import json, sys
sys.path.insert(0, {str(REPO)!r})
from honors_p1_mapreduce_spark.mapreduce import map_reduce
from honors_p1_mapreduce_spark.session import get_spark

spark = get_spark(cpus=2)
lines = spark.createDataFrame([("a b a",), ("b a c",)], ["value"])
out = map_reduce(lines, lambda line: ((w, 1) for w in line.split()), lambda k, vs: [(k, len(vs))])
print(json.dumps(sorted((r.key, r.value) for r in out.collect())))
spark.stop()
"""
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    counts = json.loads(proc.stdout.strip().splitlines()[-1])
    assert counts == [["a", "3"], ["b", "2"], ["c", "1"]]
