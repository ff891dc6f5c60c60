"""io_sinks.run_concurrently: non-pinned Py4J mode, and a thunk that
fails mid-write inside the LSH compactors' concurrent legs."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from gmall_flink_20_spark import io_sinks
from gmall_flink_20_spark.io import load_table
from gmall_flink_20_spark.operators import dedup, sampling


def test_run_concurrently_without_pinned_threads(spark, monkeypatch):
    """With PYSPARK_PIN_THREAD=false the gateway is not a ClientServer
    and inheritable_thread_target(session) returns the session itself;
    run_concurrently must still run its thunks."""
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "_gateway", object())
    assert io_sinks.run_concurrently(lambda: 1, lambda: 2) == [1, 2]


class InjectedFault(RuntimeError):
    pass


def _fail_mid_write(out_dir: str):
    """Leave a torn parquet part in ``out_dir``, then die."""
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "part-00000-torn.snappy.parquet"), "wb") as f:
        f.write(b"PAR1 torn")
    raise InjectedFault(out_dir)


def _grown_index(spark, sf_dir, tmp_path):
    """LSH index on shards 2-3 plus shard 1 in two segments; returns the
    query thunk over shard 0 and its expected (docs_neardup_incremental)
    rows."""
    docs = load_table(spark, sf_dir, "documents")
    shard = F.pmod(sampling.sample_hash("doc_id", "incr"), F.lit(4))
    path = str(tmp_path / "lsh")
    dedup.lsh_index_write(docs.filter(shard.isin(2, 3)), path)
    s1 = docs.filter(shard == 1)
    half = F.pmod(F.col("doc_id"), F.lit(2))
    dedup.lsh_index_append(s1.filter(half == 0), path, "a0")
    dedup.lsh_index_append(s1.filter(half == 1), path, "a1")

    def answer():
        return {
            tuple(r)
            for r in dedup.lsh_index_query_incremental(
                spark, path, docs.filter(shard == 0)
            ).collect()
        }

    expected = {tuple(r) for r in dedup.neardup_incremental(docs).collect()}
    return path, answer, expected


def test_full_compact_survives_failed_shingles_leg(spark, sf_dir, tmp_path, monkeypatch):
    path, answer, expected = _grown_index(spark, sf_dir, tmp_path)
    assert answer() == expected

    def torn(spark_, src, dst, **kw):
        _fail_mid_write(dst)

    with monkeypatch.context() as m:
        m.setattr(io_sinks, "compact_small_files", torn)
        with pytest.raises(InjectedFault):
            dedup.lsh_index_compact(spark, path)
    # the bands leg finished, the shingles leg left a torn rewrite; no
    # swap ran, the lease is released, readers see the full index
    assert os.path.isdir(f"{path}/shingles_compacting")
    assert not os.path.exists(f"{path}/_maintenance_lease")
    assert answer() == expected
    # the next compaction heals the site and completes
    assert dedup.lsh_index_compact(spark, path) > 0
    assert not [n for n in os.listdir(path) if n.startswith(("seg_", ".stage_"))]
    assert not os.path.isdir(f"{path}/shingles_compacting")
    assert answer() == expected


def test_incremental_compact_survives_failed_merge_leg(spark, sf_dir, tmp_path, monkeypatch):
    path, answer, expected = _grown_index(spark, sf_dir, tmp_path)

    def torn(spark_, root, frame, **kw):
        _fail_mid_write(f"{io_sinks.stage_segment_dir(root, 'mtorn')}/{frame}")

    with monkeypatch.context() as m:
        m.setattr(io_sinks, "merge_segment_frames", torn)
        with pytest.raises(InjectedFault):
            dedup.lsh_index_compact_incremental(spark, path, max_fragments=1)
    # the bands cells folded in; the shingle merge left a torn staging
    # dir that no reader lists
    assert os.path.isdir(io_sinks.stage_segment_dir(path, "mtorn"))
    assert not os.path.exists(f"{path}/_maintenance_lease")
    assert answer() == expected
    # the next incremental pass purges the torn stage and merges
    dedup.lsh_index_compact_incremental(spark, path, max_fragments=1)
    assert not os.path.isdir(io_sinks.stage_segment_dir(path, "mtorn"))
    assert io_sinks.superseded_tokens(path, "shingles") == {"a0", "a1"}
    assert answer() == expected
