"""Session factory: Spark's codegen cache holds a workload's classes, and
streaming checkpoints commit through the FileSystem-based manager.

Spark keeps compiled whole-stage classes in an LRU of
``spark.sql.codegen.cache.maxEntries`` entries. A pass of the 14 reference
analytics generates more distinct classes than Spark's default of 100,
so at the default every class is evicted before the next pass asks for it
and each repeat pass compiles them all again.

The FileSystem-based checkpoint manager must keep what the FileContext
default guarantees to concurrent writers: a second non-overwriting atomic
create of a committed file fails on close with a Hadoop
``FileAlreadyExistsException`` (``HDFSMetadataLog`` turns it into the
concurrent-query error) and leaves the committed bytes and checksum alone.
"""

from __future__ import annotations

import functools

import pytest
from py4j.protocol import Py4JJavaError

from gmall_flink_20_spark.queries import QUERIES
from gmall_flink_20_spark.session import CHECKPOINT_FILE_MANAGER, CODEGEN_CACHE_ENTRIES
from perfbench.workloads import WORKLOADS

REFERENCE_ANALYTICS = WORKLOADS["events_batch"].queries


def _classes_compiled(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _empty_codegen_cache(spark) -> None:
    """Drop every compiled class, so the first pass below compiles its
    whole working set whatever ran earlier in this JVM."""
    jvm = spark._jvm
    gen = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    )
    field = gen.getDeclaredField("cache")
    field.setAccessible(True)
    field.get(gen.getField("MODULE$").get(None)).invalidateAll()


def test_codegen_cache_sized_by_the_factory(spark):
    conf = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    assert int(conf) == CODEGEN_CACHE_ENTRIES


def test_repeat_pass_of_reference_analytics_compiles_nothing(spark, sf_dir):
    _empty_codegen_cache(spark)
    compiled = []
    for _ in range(2):
        before = _classes_compiled(spark)
        for q in REFERENCE_ANALYTICS:
            QUERIES[q](spark, sf_dir).toPandas()
        compiled.append(_classes_compiled(spark) - before)
    first, repeat = compiled
    # more than Spark's default cache holds, so eviction is exercised
    assert first > 100, f"first pass compiled only {first} classes"
    assert repeat == 0, f"repeat pass compiled {repeat} classes"


_CHECKPOINTING = "org.apache.spark.sql.execution.streaming.checkpointing."


def _hadoop_conf(spark):
    return spark._jsparkSession.sessionState().newHadoopConf()


def test_checkpoint_file_manager_set_by_the_factory(spark):
    conf = spark.conf.get("spark.sql.streaming.checkpointFileManagerClass")
    assert conf == CHECKPOINT_FILE_MANAGER


def test_checkpoint_file_manager_resolves_for_a_local_path(spark, tmp_path):
    jvm = spark._jvm
    factory = (
        jvm.java.lang.Class.forName(_CHECKPOINTING + "CheckpointFileManager$")
        .getField("MODULE$")
        .get(None)
    )
    path = jvm.org.apache.hadoop.fs.Path(str(tmp_path))
    manager = factory.create(path, _hadoop_conf(spark))
    assert manager.getClass().getName() == CHECKPOINT_FILE_MANAGER


def _atomic_write(manager, path, data: bytes) -> None:
    out = manager.createAtomic(path, False)
    out.write(bytearray(data))
    out.close()


@pytest.mark.parametrize(
    "manager_class",
    [CHECKPOINT_FILE_MANAGER, _CHECKPOINTING + "FileContextBasedCheckpointFileManager"],
    ids=["filesystem", "filecontext"],
)
def test_second_atomic_create_of_a_committed_file_fails(spark, tmp_path, manager_class):
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(str(tmp_path))
    manager = functools.reduce(getattr, manager_class.split("."), jvm)(root, _hadoop_conf(spark))
    target = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "0"))
    _atomic_write(manager, target, b"first")

    with pytest.raises(Py4JJavaError) as err:
        _atomic_write(manager, target, b"second")
    exists_error = jvm.java.lang.Class.forName("org.apache.hadoop.fs.FileAlreadyExistsException")
    assert exists_error.isInstance(err.value.java_exception)
    assert (tmp_path / "0").read_bytes() == b"first"
    assert (tmp_path / ".0.crc").exists()
