"""Session layer: the Python worker launch and the fan-out cache bound."""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import zipfile

import pyarrow as pa
import pyspark
import pytest
from pyspark.find_spark_home import _find_spark_home

from postrack_spark import session as S
from postrack_spark.sources.postgres_cdc import (
    PostgresCDCBatchReader,
    PostgresCDCDataSource,
    PostgresCDCStreamReader,
    write_frame_file,
)
from tests.test_pgoutput import golden_frames


def _fake_spark_home(root, version: str | None) -> str:
    """A SPARK_HOME whose python/lib/pyspark.zip holds `version`
    (no zip at all when None)."""
    lib = os.path.join(root, "python", "lib")
    os.makedirs(lib)
    if version is not None:
        with zipfile.ZipFile(os.path.join(lib, "pyspark.zip"), "w") as z:
            z.writestr("pyspark/version.py", f"__version__: str = '{version}'\n")
    return str(root)


def test_worker_launch_left_alone_on_version_mismatch(tmp_path, monkeypatch):
    monkeypatch.setenv("PYSPARK_PYTHON", "python-as-set")
    for name, version in (("other", "0.0.1"), ("nozip", None)):
        home = _fake_spark_home(tmp_path / name, version)
        assert S._worker_python(home) is None
        with S._worker_launch(home):
            assert os.environ["PYSPARK_PYTHON"] == "python-as-set"
        assert os.environ["PYSPARK_PYTHON"] == "python-as-set"


def test_worker_launch_on_version_match(tmp_path, monkeypatch):
    monkeypatch.setenv("PYSPARK_PYTHON", "python-as-set")
    home = _fake_spark_home(tmp_path / "same", pyspark.__version__)
    launcher = S._worker_python(home)
    assert launcher is not None and os.access(launcher, os.X_OK)
    with S._worker_launch(home):
        assert os.environ["PYSPARK_PYTHON"] == launcher
    assert os.environ["PYSPARK_PYTHON"] == "python-as-set"
    # the launcher drops Spark's zip and jar and keeps every other entry
    path = os.pathsep.join(
        [
            "/spark/python/lib/py4j-0.10.9.9-src.zip",
            "/spark/python/lib/pyspark.zip",
            "/spark/jars/spark-core_2.13-4.1.2.jar",
            "/repo",
            "/with space/dir",
        ]
    )
    out = subprocess.run(
        [launcher, "-c", "import os, sys; print(os.environ['PYTHONPATH']); print(sys.executable)"],
        env={**os.environ, "PYTHONPATH": path},
        capture_output=True,
        text=True,
        check=True,
    ).stdout.splitlines()
    assert out == [
        "/spark/python/lib/py4j-0.10.9.9-src.zip:/repo:/with space/dir",
        sys.executable,
    ]


def test_python_workers_import_installed_pyspark(spark, tmp_path):
    """Every Python process kind a get_spark session spawns reports the
    pyspark it imported: a mapInArrow task, a postgres_cdc batch read
    task, and a postgres_cdc streaming query's source runner and read
    task. With the zip's version equal to the installed one, none runs
    from pyspark.zip."""
    zip_path = os.path.join(_find_spark_home(), "python", "lib", "pyspark.zip")
    if S._zip_pyspark_version(zip_path) != pyspark.__version__:
        pytest.skip("pyspark.zip holds another version: the launch is left as is")
    capture = str(tmp_path / "capture")
    os.makedirs(capture)
    write_frame_file(os.path.join(capture, "000001.pgout"), golden_frames())
    seen_dir = str(tmp_path / "seen")
    os.makedirs(seen_dir)

    def record(kind):
        import pyspark

        with open(os.path.join(seen_dir, f"{kind}.{os.getpid()}"), "w") as f:
            f.write(pyspark.__file__)

    # Local classes: cloudpickle ships them by value to the workers.
    class BatchReader(PostgresCDCBatchReader):
        def read(self, partition):
            record("batch_read")
            yield from PostgresCDCBatchReader.read(self, partition)

    class StreamReader(PostgresCDCStreamReader):
        def initialOffset(self):
            record("stream_runner")
            return PostgresCDCStreamReader.initialOffset(self)

        def read(self, partition):
            record("stream_read")
            yield from PostgresCDCStreamReader.read(self, partition)

    class Probe(PostgresCDCDataSource):
        @classmethod
        def name(cls):
            return "postgres_cdc_pyspark_probe"

        def reader(self, schema):
            return BatchReader(self.options)

        def streamReader(self, schema):
            return StreamReader(self.options)

    def arrow_task(batches):
        import pyspark

        for _ in batches:
            yield pa.RecordBatch.from_pydict({"f": [pyspark.__file__]})

    files = {"map_in_arrow": spark.range(1).mapInArrow(arrow_task, "f string").first()["f"]}
    spark.dataSource.register(Probe)
    reader = spark.read.format(Probe.name()).option("capture_dir", capture)
    assert reader.load().count() == 6
    q = (
        spark.readStream.format(Probe.name())
        .option("capture_dir", capture)
        .load()
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    for name in sorted(os.listdir(seen_dir)):
        with open(os.path.join(seen_dir, name)) as f:
            files[name.split(".")[0]] = f.read()
    assert set(files) == {"map_in_arrow", "batch_read", "stream_runner", "stream_read"}
    assert not [kind for kind, path in files.items() if "pyspark.zip" in path], files
    assert {os.path.dirname(p) for p in files.values()} == {os.path.dirname(pyspark.__file__)}


def test_fan_out_cache_is_lru_capped(spark):
    saved = S._FANOUT_CACHE.copy()
    S._FANOUT_CACHE.clear()
    try:
        n = S._FANOUT_MAX
        frames = [spark.range(i + 1) for i in range(n + 1)]
        for df in frames[:n]:
            S.fan_out(df, 1)
        S.fan_out(frames[0], 1)  # a hit makes frames[0] most recent
        S.fan_out(frames[n], 1)
        assert len(S._FANOUT_CACHE) == n
        cached = {k[0] for k in S._FANOUT_CACHE}
        assert id(frames[0]) in cached and id(frames[1]) not in cached
    finally:
        S._FANOUT_CACHE.clear()
        S._FANOUT_CACHE.update(saved)


def test_fan_out_cache_concurrent_callers(spark, monkeypatch):
    """Threads hitting and evicting each other's entries never raise,
    always get their own frame back, and leave the cache within its cap."""
    monkeypatch.setattr(S, "_FANOUT_MAX", 4)
    saved = S._FANOUT_CACHE.copy()
    S._FANOUT_CACHE.clear()
    frames = [spark.range(i + 1) for i in range(12)]
    errors: list[BaseException] = []

    def worker(tid: int) -> None:
        try:
            for i in range(20):
                df = frames[(tid * 5 + i) % len(frames)]
                assert S.fan_out(df, 1) is df
        except BaseException as ex:  # noqa: BLE001 — collect to re-raise
            errors.append(ex)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(k,)) for k in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
        assert not any(th.is_alive() for th in threads)
        assert not errors, errors
        assert len(S._FANOUT_CACHE) <= 4
    finally:
        sys.setswitchinterval(interval)
        S._FANOUT_CACHE.clear()
        S._FANOUT_CACHE.update(saved)
