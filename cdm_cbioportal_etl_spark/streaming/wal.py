"""Structured-Streaming WAL tail: file-based change-log → exactly-once MERGE.

The batch replayer (cdc/replayer.py) consumes a *bounded* LSN range; this
module is the unbounded tail: a WAL directory into which log segments
(parquet files of change events) keep arriving is consumed with
``readStream`` + ``foreachBatch``, each micro-batch flowing through the
same ``LakeTable.merge`` exactly-once path (LSN ledger + atomic snapshot
commit).  Because the ledger commits atomically with the data, the sink is
idempotent under Structured Streaming's at-least-once ``foreachBatch``
redelivery — the end-to-end guarantee is exactly-once table state.

Reference analog: none — the reference re-extracts everything per run
(reference pipeline/lib/summary/summary_config_processor.py:373-419); this
is the incremental surface BASELINE.json's north_star mandates
("WAL-tail reader emits insert/update/delete events").

Scale shape: ``maxFilesPerTrigger`` bounds micro-batch size (bounded
executor memory at any WAL backlog); ``Trigger.AvailableNow`` drains a
backlog in bounded batches then stops — the cron/driver-friendly mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from cdm_cbioportal_etl_spark.lake import LakeTable

WAL_SYS_COLS = [
    T.StructField("lsn", T.LongType()),
    T.StructField("op", T.StringType()),
]


def wal_schema(data_schema: T.StructType) -> T.StructType:
    return T.StructType(WAL_SYS_COLS + list(data_schema.fields))


class WalTailReader:
    """Tails a directory of WAL parquet segments into a LakeTable."""

    def __init__(
        self,
        spark: SparkSession,
        wal_dir: str,
        table: LakeTable,
        checkpoint_dir: str,
        max_files_per_trigger: int = 8,
        registry=None,
        views=None,
        merge_kwargs: dict | None = None,
    ):
        self.spark = spark
        self.wal_dir = wal_dir
        self.table = table
        self.checkpoint_dir = checkpoint_dir
        self.max_files_per_trigger = max_files_per_trigger
        # optional downstream IncrementalAggViews refreshed after each
        # micro-batch commit: the full CDC chain (WAL → table → maintained
        # aggregates) as ONE declarative object.  Each refresh is itself
        # idempotent (the view's ledger is its consumption watermark), so
        # a replayed epoch refreshes to the same state — the chain stays
        # exactly-once end to end.
        self.views = list(views or [])
        # extra kwargs forwarded to every per-epoch table.merge — e.g.
        # ``{"partial_update": True}`` for a Debezium-shaped feed whose
        # update images carry null for unchanged (TOAST) columns, or
        # ``{"mode": "mor"}`` to force delta-append applies
        self.merge_kwargs = dict(merge_kwargs or {})
        # optional SchemaRegistry: evolution DDL is issued BEFORE the batch
        # merge, so events referencing a newer schema never apply first
        self.registry = registry

    def _stream(self) -> DataFrame:
        # file streams need an explicit schema; infer it from the WAL files
        # themselves (cheap footer read) so newly-added columns are seen —
        # the registry then evolves the table before the first merge.
        # Falls back to the table schema for an empty/unborn WAL dir.
        from pyspark.errors import AnalysisException

        try:
            schema = (
                self.spark.read.option("mergeSchema", "true")
                .parquet(self.wal_dir)
                .schema
            )
            if "lsn" not in schema.names:
                schema = wal_schema(self.table.schema)
        except AnalysisException:
            # empty/unborn WAL dir (PATH_NOT_FOUND / UNABLE_TO_INFER_SCHEMA)
            # — anything else (corrupt footer, permissions) must surface
            schema = wal_schema(self.table.schema)
        return (
            self.spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", self.max_files_per_trigger)
            .parquet(self.wal_dir)
        )

    def _segment_guard(self, batch: DataFrame) -> list[str]:
        """Fail on late-arriving segments (new file, below-watermark LSNs).

        The applied_lsn watermark alone cannot tell harmless redelivery
        of an applied segment from a LATE segment carrying lower LSNs
        (parallel producers, backfill, clock skew) whose rows the
        watermark filter would silently drop; the ledger therefore also
        records every applied segment file, and a below-watermark segment
        it has not seen raises (the operator intervenes).

        Slim-column agg (file name + lsn only; bounded by
        maxFilesPerTrigger rows out) — never a payload scan.  Returns the
        batch's segment names so the merge can record them in the ledger.
        """
        ledger = self.table.snapshot["ledger"]
        applied = ledger["applied_lsn"]
        seen = set(ledger.get("applied_segments", []))
        segs = (
            batch.groupBy(F.input_file_name().alias("_seg"))
            .agg(F.min("lsn").alias("_min_lsn"))
            .collect()
        )
        stale = sorted(
            r["_seg"] for r in segs
            if r["_seg"] not in seen and r["_min_lsn"] is not None
            and r["_min_lsn"] <= applied
        )
        if stale:
            raise RuntimeError(
                f"WAL segments arrived with lsn <= applied watermark {applied} "
                f"but were never applied (out-of-order/late segments): {stale}. "
                "Their below-watermark rows would be silently dropped."
            )
        return sorted(r["_seg"] for r in segs)

    def _apply_batch(self, batch: DataFrame, epoch_id: int) -> None:
        if self.registry is not None:
            self.registry.ensure_table_schema(self.table, batch)
        segments = self._segment_guard(batch)
        # merge() is idempotent (ledger-filtered, snapshot-atomic), so a
        # replayed epoch after a crash is a no-op — exactly-once net effect
        self.table.merge(
            batch,
            batch_id=f"stream-epoch-{epoch_id}",
            source_watermarks={"stream": epoch_id},
            count_batch=False,
            applied_segments=segments,
            **self.merge_kwargs,
        )
        for view in self.views:
            view.refresh(self.table)

    def run_available_now(self, await_termination_sec: int | None = 300):
        """Drain everything currently in the WAL dir, then stop."""
        q = (
            self._stream()
            .writeStream.foreachBatch(self._apply_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        if await_termination_sec is not None:
            q.awaitTermination(await_termination_sec)
        return q

    def run_continuous(self, processing_time: str = "5 seconds"):
        """Keep tailing (long-running service mode); caller manages stop()."""
        return (
            self._stream()
            .writeStream.foreachBatch(self._apply_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(processingTime=processing_time)
            .start()
        )
