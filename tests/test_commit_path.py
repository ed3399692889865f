"""The one commit path (LakeTable._commit_change) and what rides on it.

- a change is arbitrated on the base version its snapshot copy was taken
  from: a merge that lands on the SAME handle between compact()'s copy
  and its commit is never lost, and the ledger never goes backwards
- every commit writes one uniform lineage record (schema evolution and
  the view's watermark-only commit included), trimmed to max_lineage
- every prepared batch passes the CHECK gate, the replayer's included
- the prebucketed writer path names a null ``_bucket`` instead of
  reporting a garbage bucket number
"""

import pyarrow as pa
import pytest
from pyspark.sql import types as T

from cdm_cbioportal_etl_spark.cdc.replayer import CdcReplayer
from cdm_cbioportal_etl_spark.lake import (
    ConcurrentCommitError,
    IncrementalAggView,
    LakeTable,
)
from cdm_cbioportal_etl_spark.lake.table import ConstraintViolationError
from cdm_cbioportal_etl_spark.lake.writer import LakeDeltaBatchWriter

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType()),
        T.StructField("grp", T.StringType()),
        T.StructField("v", T.LongType()),
    ]
)

_BATCH = T.StructType(
    [
        T.StructField("lsn", T.LongType()),
        T.StructField("op", T.StringType()),
        *SCHEMA.fields,
    ]
)


def _mk(spark, tmp_path, name, **props):
    return LakeTable.create(
        spark, str(tmp_path / name), SCHEMA, ["k"], n_buckets=2,
        properties=props or None,
    )


def _merge(t, rows):
    t.merge(t.spark.createDataFrame(rows, _BATCH))


def _state(t):
    return {(r.k, r.grp, r.v) for r in t.read().collect()}


def test_same_handle_merge_during_compact_is_not_lost(spark, tmp_path):
    t = _mk(spark, tmp_path, "race")
    _merge(t, [(1, "upsert", "k1", "a", 1)])
    _merge(t, [(2, "upsert", "k1", "b", 2)])
    real_write = t._write_bucket_files
    fired = []

    def write_with_racing_merge(*args, **kwargs):
        # compact() has taken its snapshot copy and is rewriting files:
        # another caller of the same handle lands a merge right now
        if not fired:
            fired.append(True)
            _merge(t, [(3, "upsert", "k2", "c", 3)])
        return real_write(*args, **kwargs)

    t._write_bucket_files = write_with_racing_merge
    try:
        t.compact(max_files_per_bucket=0)
    except ConcurrentCommitError:
        pass  # compact does not retry: raising is the correct outcome
    finally:
        del t._write_bucket_files
    assert fired
    t.refresh()
    assert t.applied_lsn() == 3
    assert _state(t) == {("k1", "b", 2), ("k2", "c", 3)}


def test_replayer_enforces_check_constraints(spark, tmp_path):
    t = _mk(spark, tmp_path, "cons")
    t.add_constraint("v_pos", "v > 0")
    version = t.snapshot["version"]
    events = spark.createDataFrame(
        [(1, "upsert", "k1", "a", 5), (2, "upsert", "k2", "a", -5)], _BATCH
    )
    with pytest.raises(ConstraintViolationError, match="v_pos"):
        CdcReplayer(t).replay_range_batches(events, 0, 3, 10)
    t.refresh()
    assert t.snapshot["version"] == version
    assert t.applied_lsn() == -1 and t.read().count() == 0


def test_history_lists_schema_evolution(spark, tmp_path):
    t = _mk(spark, tmp_path, "evolve")
    _merge(t, [(1, "upsert", "k1", "a", 1)])
    wider = T.StructType(
        list(SCHEMA.fields) + [T.StructField("extra", T.StringType())]
    )
    assert t.evolve_schema(wider)
    last = t.history().collect()[-1]
    assert last["operation"] == "evolve_schema"


def test_history_labels_view_watermark_commit(spark, tmp_path):
    src = _mk(spark, tmp_path, "src", merge_mode="mor")
    _merge(src, [(1, "upsert", "k1", "a", 1)])
    _merge(src, [(2, "upsert", "k1", "a", 2)])
    view = IncrementalAggView.create(
        spark, str(tmp_path / "view"), src, ["grp"], ["v"]
    )
    assert src.compact() > 0  # structural-only source interval
    assert view.refresh(src)["groups"] == 0
    last = view.table.history().collect()[-1]
    assert last["operation"] == "view_advance"
    assert last["batch_id"] == f"view-advance-{src.snapshot['version']}"


def test_max_lineage_trims_non_merge_commits(spark, tmp_path):
    t = _mk(spark, tmp_path, "trim", max_lineage=2)
    _merge(t, [(1, "upsert", "k1", "a", 1)])
    for i in range(3):
        t.set_properties({"note": i})
    lineage = t.snapshot["lineage"]
    assert [r["operation"] for r in lineage] == ["set_properties"] * 2
    assert all("at" in r and "batch_id" in r for r in lineage)


def test_writer_rejects_null_bucket(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "nullb"),
        T.StructType(
            [T.StructField("k", T.LongType()), T.StructField("v", T.LongType())]
        ),
        ["k"], n_buckets=4,
    )
    in_schema = T.StructType(
        [
            T.StructField("lsn", T.LongType()),
            T.StructField("op", T.StringType()),
            T.StructField("k", T.LongType()),
            T.StructField("v", T.LongType()),
            T.StructField("_bucket", T.IntegerType()),
        ]
    )
    w = LakeDeltaBatchWriter({"path": t.root}, in_schema, overwrite=False)
    rb = pa.RecordBatch.from_pydict(
        {
            "lsn": pa.array([1, 2], pa.int64()),
            "op": ["upsert", "upsert"],
            "k": pa.array([1, 2], pa.int64()),
            "v": pa.array([1, 2], pa.int64()),
            "_bucket": pa.array([0, None], pa.int32()),
        }
    )
    with pytest.raises(ValueError, match="_bucket is null in 1 row"):
        w.write(iter([rb]))
