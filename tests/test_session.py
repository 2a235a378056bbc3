"""session.get_spark defaults and the Python worker daemon it selects."""

import json
import os
import subprocess
import sys
from types import SimpleNamespace

import pytest

import __spark_entry__
from imposm2_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize(
    "master, expected",
    [
        ("local[4]", 8),
        ("local[16]", 16),
        ("local[4,2]", 8),
        ("local[12, 3]", 12),
        ("local-cluster[2,1,1024]", 8),
        ("local-cluster[3, 4, 1024]", 12),
        ("local[*]", os.cpu_count()),
        ("local[*,2]", os.cpu_count()),
        ("local", os.cpu_count()),
        ("yarn", os.cpu_count()),
    ],
)
def test_default_shuffle_partitions(monkeypatch, master, expected):
    """get_spark's shuffle-partition default, read from the builder's
    config without starting a session."""
    conf = {}

    class Builder:
        def master(self, m):
            return self

        def appName(self, name):
            return self

        def config(self, key, value):
            conf[key] = value
            return self

        def getOrCreate(self):
            return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda level: None))

    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=Builder()))
    session.get_spark(master=master)
    assert conf["spark.sql.shuffle.partitions"] == str(expected)


@pytest.mark.spark
def test_python_workers_run_on_the_worker_daemon(spark):
    """Every pandas UDF task of a get_spark session runs in a worker forked
    from imposm2_spark.worker_daemon, with its zipimport patch in place."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def daemon_state(s: pd.Series) -> pd.Series:
        import sys
        import zipimport

        main = sys.modules["__main__"]
        spec = getattr(main, "__spec__", None)
        patched = zipimport.zipimporter.invalidate_caches is getattr(
            main, "invalidate_caches_if_changed", None
        )
        return pd.Series([f"{spec.name if spec else None}:{patched}"] * len(s))

    rows = spark.range(0, 4, 1, 4).select(daemon_state("id").alias("s")).collect()
    assert {r.s for r in rows} == {"imposm2_spark.worker_daemon:True"}


_ZIP_SEMANTICS = r"""
import importlib, json, os, sys, zipfile, zipimport

zpath = os.path.join(sys.argv[1], "mods.zip")

def write_zip(extra):
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("zm_a.py", "X = 1\n")
        z.writestr("zm_pkg/__init__.py", "")
        z.writestr("zm_pkg/sub.py", "Y = 2\n")
        for name, src in extra.items():
            z.writestr(name, src)

write_zip({})
sys.path.insert(0, zpath)
import zm_a, zm_pkg.sub  # one importer for the archive, one for zm_pkg/

from imposm2_spark import worker_daemon
worker_daemon.install()

reads = []
stock_read = zipimport._read_directory
def counting_read(path):
    reads.append(path)
    return stock_read(path)
zipimport._read_directory = counting_read

importlib.invalidate_caches()
first = reads.count(zpath)
for _ in range(10):
    importlib.invalidate_caches()
repeat = reads.count(zpath) - first

write_zip({"zm_b.py": "Z = 3\n", "zm_pkg/new.py": "W = 4\n"})
importlib.invalidate_caches()
after_rewrite = reads.count(zpath) - first - repeat
import zm_b, zm_pkg.new
print(json.dumps({"first": first, "repeat": repeat, "after_rewrite": after_rewrite,
                  "imported": [zm_b.Z, zm_pkg.new.W]}))
"""


def test_zip_invalidation_rereads_only_changed_archives(tmp_path):
    """Run in a subprocess: the patch must not leak into this process."""
    out = subprocess.run(
        [sys.executable, "-c", _ZIP_SEMANTICS, str(tmp_path)],
        capture_output=True, text=True, timeout=120, check=True,
        env={**os.environ, "PYTHONPATH": REPO},
    )
    got = json.loads(out.stdout.strip().splitlines()[-1])
    # the archive's two importers share one read; the ten repeats read nothing
    assert got["first"] == 1
    assert got["repeat"] == 0
    # a rewritten archive is read again, and both importers see the new names
    assert got["after_rewrite"] == 1
    assert got["imported"] == [3, 4]


@pytest.mark.spark
def test_python_workers_fork_from_a_frozen_heap(spark):
    """A reused worker runs gc.collect() after every task (pyspark.daemon).
    Forked from the frozen daemon heap, it walks only what it created after
    the fork: after running the spine's row functions on a spine page batch,
    a task sees a frozen generation and fewer than 10k tracked objects (a
    worker tracks ~74k with the import heap unfrozen)."""
    import pyarrow as pa

    from imposm2_spark.sources import testdata

    def heap(batches):
        import gc

        from imposm2_spark.functions.geotag import geotag_pair
        from imposm2_spark.functions.textx import extract_text_bytes
        from imposm2_spark.operators.pip import PolygonIndex  # noqa: F401

        for rb in batches:
            for url, html in zip(rb.column("url").to_pylist(), rb.column("html").to_pylist()):
                geotag_pair(url, html)
                extract_text_bytes(html)
        gc.collect()
        yield pa.RecordBatch.from_pydict(
            {"frozen": [gc.get_freeze_count()], "tracked": [len(gc.get_objects())]}
        )

    pages = testdata.synth_documents_web(testdata.load(spark, testdata.DEFAULT_SF_DIR, "documents"))
    rows = pages.select("url", "html").repartition(4).mapInArrow(
        heap, "frozen long, tracked long").collect()
    assert len(rows) == 4
    assert all(r.frozen > 0 for r in rows)
    assert max(r.tracked for r in rows) < 10_000


_FROZEN_HEAP = r"""
import gc, json, weakref
from imposm2_spark import worker_daemon

worker_daemon.freeze_heap()
frozen, tracked = gc.get_freeze_count(), len(gc.get_objects())

class Node:
    pass

a, b = Node(), Node()
a.peer, b.peer = b, a
ref = weakref.ref(a)
del a, b
gc.collect()
print(json.dumps({"frozen": frozen, "tracked": tracked, "cycle_collected": ref() is None}))
"""


def test_frozen_heap_still_collects_new_cycles():
    """After worker_daemon.freeze_heap the import heap sits in the permanent
    generation, and a reference cycle created later is still collected.
    Run in a subprocess: freezing would change this process's collector."""
    out = subprocess.run(
        [sys.executable, "-c", _FROZEN_HEAP],
        capture_output=True, text=True, timeout=120, check=True,
        env={**os.environ, "PYTHONPATH": REPO},
    )
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["frozen"] > 10_000  # pandas, pyarrow and pyspark are frozen
    assert got["tracked"] < 100
    assert got["cycle_collected"]


_CURATE_ACROSS_RESTART = r"""
import json
from imposm2_spark import session
from imposm2_spark.plans.curate import curate

def run():
    spark = session.get_spark(master="local[2]")
    docs = spark.createDataFrame(
        [(i, f"the quick brown fox {i % 7} jumps over the lazy dog again")
         for i in range(40)],
        "doc_id long, text string",
    )
    return spark, curate(docs).count()

spark, first = run()
spark.stop()
spark, second = run()
held = session._SCOPES["curate"]
print(json.dumps({"first": first, "second": second,
                  "cached": [df.storageLevel.useMemory for df in held]}))
spark.stop()
"""


def test_cache_scope_survives_session_restart():
    """curate(), spark.stop(), a new get_spark() and curate() again: the
    second call must not unpersist the stopped session's frames in the JVM
    (that raised a NullPointerException), and its own frames are cached.
    Run in a subprocess: stopping the suite's session would end it."""
    out = subprocess.run(
        [sys.executable, "-c", _CURATE_ACROSS_RESTART],
        capture_output=True, text=True, timeout=300,
        env={**os.environ, "PYTHONPATH": REPO, "SPARK_GRAFT_DRIVER_MEM": "1g"},
    )
    assert out.returncode == 0, out.stderr[-3000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["second"] == got["first"] > 0
    assert got["cached"] == [True]  # curate holds one frame: its gated scan


def _cached_partitions(spark, df) -> int:
    """Partitions of `df`'s CacheManager entry held in the block manager."""
    entry = spark._jsparkSession.sharedState().cacheManager().lookupCachedData(df._jdf)
    if entry.isEmpty():
        return 0
    rdd_id = entry.get().cachedRepresentation().cacheBuilder().cachedColumnBuffers().id()
    return sum(
        info.numCachedPartitions()
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        if info.id() == rdd_id
    )


@pytest.mark.spark
@pytest.mark.parametrize("name", sorted(__spark_entry__.queries()))
def test_second_invocation_keeps_scopes_live(spark, name):
    """A query invoked again holds the same cache_scope entries as its first
    invocation, and every held frame is cached with data in it (the r5 bug
    released the rerun's shared CacheManager entry, so reruns ran uncached).
    Scope entries are counted, not persistent RDDs: localCheckpoint blocks
    are freed on GC, so that count flickers."""
    from conftest import SF_SMOKE

    query = __spark_entry__.queries()[name]
    snapshots = []
    for _ in range(2):
        before = dict(session._SCOPES)
        query(spark, SF_SMOKE).write.format("noop").mode("overwrite").save()
        opened = {k: v for k, v in session._SCOPES.items() if v is not before.get(k)}
        snapshots.append({k: len(v) for k, v in opened.items()})
        for scope, frames in opened.items():
            for df in frames:
                assert df.storageLevel.useMemory, scope
                assert _cached_partitions(spark, df) > 0, scope
    assert snapshots[1] == snapshots[0]
