"""tail-serve: open-loop WAL tail beside a closed-loop reader.

Set-up seeds a copy-on-write table with the final state of a seed WAL
(``LakeTable.overwrite``), writes the tail's WAL segments (parquet, one
contiguous LSN range each) to a staging directory, and starts
``WalTailReader.run_continuous`` on the WAL directory with two segments
already published (the warm-up drain).

Measured: a generator thread publishes one staged segment every
``INTERVAL_S`` by atomic rename, on a fixed schedule that does not wait
for the tail (open loop).  Beside it runs the shared closed-loop reader
(reader.py): seeded Zipf ``point_lookup`` calls back to back, every second
operation a ``changes_since`` feed read of the last 10,000 LSNs.

After the clock: the tail drains what was published, the stream stops,
segment visibility is read from the snapshot history, and the final
state is checked against ``expected_final_state`` over seed WAL plus
every published segment.
"""

from __future__ import annotations

import collections
import datetime as _dt
import json
import os
import threading
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import types as T

from cdm_cbioportal_etl_spark.cdc import expected_final_state, gen_change_events
from cdm_cbioportal_etl_spark.cdc.generator import REPOS_SCHEMA
from cdm_cbioportal_etl_spark.lake import LakeTable
from cdm_cbioportal_etl_spark.streaming import WalTailReader

import harness as H
import lakecheck as L
from reader import Reader

SEED_EVENTS = 80_000
N_REPOS, PATHS_PER_REPO, ZIPF = 200, 500, 3.0
CONTENT_REPEAT_MAX = 4
N_BUCKETS = 4
# offered load: SEGMENT_EVENTS every INTERVAL_S = 2,000 events/s
SEGMENT_EVENTS = 500
INTERVAL_S = 0.25
WARM_SEGMENTS = 2
POLL_LAG = 20 * SEGMENT_EVENTS  # feed polls re-read the last 5 s of offered events
END_SAMPLE = 2
DRAIN_TIMEOUT_S = 90


def _ts(iso: str) -> float:
    return _dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _write_segments(spark, seed: int, n_segments: int, out_dir: str) -> list[dict]:
    """One parquet file per segment of SEGMENT_EVENTS consecutive LSNs."""
    os.makedirs(out_dir)
    ev = gen_change_events(
        spark, n_segments * SEGMENT_EVENTS, n_repos=N_REPOS, paths_per_repo=PATHS_PER_REPO,
        seed=seed, zipf_exp=ZIPF, lsn_start=SEED_EVENTS, parallelism=8,
        content_repeat_max=CONTENT_REPEAT_MAX,
    ).orderBy("lsn").toArrow()
    segs = []
    for i in range(n_segments):
        part = ev.slice(i * SEGMENT_EVENTS, SEGMENT_EVENTS)
        path = os.path.join(out_dir, f"seg-{i:05d}.parquet")
        pq.write_table(part, path)
        segs.append({"name": os.path.basename(path), "staged": path, "events": part.num_rows,
                     "max_lsn": SEED_EVENTS + (i + 1) * SEGMENT_EVENTS - 1})
    return segs


class Generator(threading.Thread):
    """Publishes staged segments by rename at t0 + i * INTERVAL_S."""

    def __init__(self, segs: list[dict], wal_dir: str, t0: float):
        super().__init__(name="perfbench-generator", daemon=True)
        self.segs, self.wal_dir, self.t0 = segs, wal_dir, t0
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            for i, seg in enumerate(self.segs):
                seg["due"] = self.t0 + i * INTERVAL_S
                delay = seg["due"] - time.time()
                if delay > 0:
                    time.sleep(delay)
                publish(seg, self.wal_dir)
        except BaseException as e:  # reported by the main thread
            self.error = e


def publish(seg: dict, wal_dir: str) -> None:
    os.utime(seg["staged"])  # the file source orders new files by mtime
    os.rename(seg["staged"], os.path.join(wal_dir, seg["name"]))
    seg["published"] = time.time()


def _wait_applied(table: LakeTable, lsn: int, timeout: float) -> bool:
    end = time.perf_counter() + timeout
    while time.perf_counter() < end:
        table.refresh()
        if table.snapshot["ledger"]["applied_lsn"] >= lsn:
            return True
        time.sleep(0.05)
    return False


def run(ctx: H.Ctx) -> H.Outcome:
    spark, tr, out = ctx.spark, ctx.tracer, H.Outcome()
    n_timed = int(round(ctx.seconds / INTERVAL_S))
    n_segs = WARM_SEGMENTS + n_timed

    # --- set-up ----------------------------------------------------------- #
    seed_events = gen_change_events(
        spark, SEED_EVENTS, n_repos=N_REPOS, paths_per_repo=PATHS_PER_REPO, seed=ctx.seed,
        zipf_exp=ZIPF, parallelism=8, content_repeat_max=CONTENT_REPEAT_MAX,
    )
    root = os.path.join(ctx.work_dir, "table")
    table = LakeTable.create(
        spark, root, T.StructType(list(REPOS_SCHEMA.fields)), key_cols=L.KEYS,
        n_buckets=N_BUCKETS, properties={"merge_mode": "cow"},
    )
    table.overwrite(expected_final_state(seed_events, L.KEYS), lsn=SEED_EVENTS - 1)
    H.log("seed table written")
    segs = _write_segments(spark, ctx.seed, n_segs, os.path.join(ctx.work_dir, "stage"))
    H.log("segments staged")
    wal_dir = os.path.join(ctx.work_dir, "wal")
    os.makedirs(wal_dir)
    for seg in segs[:WARM_SEGMENTS]:
        publish(seg, wal_dir)
    tr.wrap(table, "prepare_batch", "lake.prepare")
    tr.wrap(table, "apply_prepared", "lake.apply", lambda sp, st: sp.attrs.update(stats=st))
    tr.wrap(table, "merge", "lake.merge")
    tail = WalTailReader(
        spark, wal_dir, table, os.path.join(ctx.work_dir, "checkpoint"),
        max_files_per_trigger=10_000,
    )
    tr.wrap(tail, "_apply_batch", "streaming.epoch")
    query = tail.run_continuous(processing_time="0 seconds")
    try:
        if not _wait_applied(table, segs[WARM_SEGMENTS - 1]["max_lsn"], DRAIN_TIMEOUT_S):
            raise RuntimeError("warm-up segments never became visible")
        H.log("warm-up drained")
        rng = np.random.default_rng([ctx.seed, 2])
        reader = Reader(
            tr, LakeTable(spark, root),
            lambda: dict(zip(L.KEYS, L.zipf_keys(rng, 1, N_REPOS, PATHS_PER_REPO, ZIPF)[0])),
            L.key_ok, poll_lag=POLL_LAG,
        )
        warm = LakeTable(spark, root)
        warm.point_lookup(reader.next_key()).collect()
        warm.changes_since(SEED_EVENTS).count()
        v_start = table.snapshot["version"]
        H.log("set-up done")

        # --- measured -------------------------------------------------- #
        timed = segs[WARM_SEGMENTS:]
        snap0 = ctx.counters.snapshot()
        t_start = time.time()
        out.clock_start = time.perf_counter()
        gen = Generator(timed, wal_dir, t_start)
        gen.start()
        reader.start()
        time.sleep(max(0.0, t_start + ctx.seconds - time.time()))
        reader.stop()
        t_end = time.time()
        out.clock_end = time.perf_counter()
        gen.join(timeout=60)
        counts = H.SparkCounters.delta(snap0, ctx.counters.snapshot())
        out.window = (t_start, t_end)
        H.log("measured")
        if gen.is_alive() or gen.error is not None:
            raise RuntimeError(f"generator failed: {gen.error!r}")
        drained = _wait_applied(table, timed[-1]["max_lsn"], DRAIN_TIMEOUT_S)
        progress = [json.loads(p.json) for p in query.recentProgress]
    finally:
        query.stop()
        query.awaitTermination(60)

    # --- visibility and oracle checks --------------------------------- #
    table.refresh()
    snaps = [table.snapshot_at(v) for v in range(v_start + 1, table.snapshot["version"] + 1)]
    wal = seed_events.unionByName(spark.read.parquet(wal_dir))
    oracle = L.oracle_state(wal).cache()
    digests = L.state_digests({0: table.read(), 1: oracle})
    state_ok = drained and digests.get(0) == digests.get(1)
    for seg in timed:
        snap = next((s for s in snaps if s["ledger"]["applied_lsn"] >= seg["max_lsn"]), None)
        seg["visible"] = snap["committed_at"] if snap else float("inf")
        seg["epoch"] = snap["ledger"]["source_watermarks"]["stream"] if snap else None
        out.visible.append((seg["due"], min(seg["visible"], t_end + DRAIN_TIMEOUT_S),
                            seg["events"]))
        out.check(state_ok and snap is not None)
    # the offered rate is fixed and below capacity, so throughput is what a
    # user sees of it: the window's events over the time from the start of
    # the clock until the last of them is visible
    last_visible = max(v for _, v, _ in out.visible)
    out.events_per_s.append(sum(s["events"] for s in timed) / (last_visible - t_start))
    epochs = [p for p in progress
              if t_start <= _ts(p["timestamp"]) < t_end and p["numInputRows"] > 0]
    # events per epoch come from the segments each epoch committed (the
    # source's numInputRows counts every action run on the micro-batch)
    seg_events = collections.Counter()
    for s in timed:
        seg_events[s["epoch"]] += s["events"]
    events = sum(seg_events[p["batchId"]] for p in epochs)
    out.lookup_ms = reader.lookup_ms
    out.export_pass_s = reader.poll_s
    out.tally(reader.ok, reader.bad)
    keys = L.zipf_keys(np.random.default_rng([ctx.seed, 3]), END_SAMPLE, N_REPOS,
                       PATHS_PER_REPO, ZIPF)
    for ok in L.sample_against_oracle(table, oracle, keys):
        out.check(ok)
    oracle.unpersist()
    H.log("checks done")

    out.notes.update(segments=len(timed), offered_events_per_s=SEGMENT_EVENTS / INTERVAL_S,
                     epochs=len(epochs), lookups=len(reader.lookup_ms),
                     polls=len(reader.poll_s))
    if ctx.traced:
        _layers(ctx, out, table, snaps, timed, progress, epochs, events, counts, reader, t_end)
    return out


def _layers(ctx, out, table, snaps, timed, progress, epochs, events, counts, reader,
            t_end) -> None:
    tr, lay, since, until = ctx.tracer, out.layer, out.clock_start, out.clock_end
    walls = [p["durationMs"]["triggerExecution"] / 1000 for p in epochs]
    by_batch = {p["batchId"]: p for p in progress}
    late = [s["published"] - s["due"] for s in timed]
    pickup = [
        _ts(by_batch[s["epoch"]]["timestamp"]) - s["published"]
        for s in timed if s["epoch"] in by_batch
    ]
    lay.update(L.lake_layers(tr, since, until, table, reader.poll_rows, counts, events,
                             len(epochs)))
    lay["streaming.epochs"] = float(len(epochs))
    if epochs:
        hi, _pct, _n = H.hi_percentile(walls)
        lay["streaming.events_per_epoch"] = events / len(epochs)
        lay["streaming.epoch_p50_s"] = H.median(walls)
        lay["streaming.epoch_hi_s"] = hi
        lay["streaming.epoch_growth_s"] = H.slope(walls)
        lay["streaming.trigger_overhead_s"] = H.median(
            [(p["durationMs"]["triggerExecution"] - p["durationMs"].get("addBatch", 0)) / 1000
             for p in epochs]
        )
    lay["streaming.merge_s"] = tr.busy("lake.merge", since, until)
    lay["streaming.pickup_wait_s"] = H.median(pickup) if pickup else 0.0
    lay["tail.generator_late_s"] = max(late)
    lay["tail.backlog_at_stop_events"] = float(
        sum(s["events"] for s in timed if s["due"] <= t_end < s["visible"])
    )
    # per-commit series: the file-growth slope as a first-class number
    meta_dir = os.path.join(table.root, "_meta")
    out.series["commits"] = [
        {
            "version": s["version"],
            "epoch": s["ledger"]["source_watermarks"].get("stream"),
            "epoch_wall_s": (by_batch.get(s["ledger"]["source_watermarks"].get("stream"), {})
                             .get("durationMs", {}).get("triggerExecution", 0) / 1000),
            "data_files": sum(len(fs) for fs in s["buckets"].values()),
            "manifest_bytes": os.path.getsize(
                os.path.join(meta_dir, f"snap-{s['version']:08d}.json")),
        }
        for s in snaps
    ]
    out.series["segments"] = [
        {"name": s["name"], "late_s": s["published"] - s["due"],
         "visible_s": s["visible"] - s["due"], "epoch": s["epoch"]}
        for s in timed
    ]
    files = [c["data_files"] for c in out.series["commits"]]
    lay["lake.files_growth_per_commit"] = H.slope(files) if len(files) > 1 else 0.0
