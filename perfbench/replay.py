"""replay-hot: bounded CdcReplayer replay of a stored WAL, lap after lap.

Set-up materializes a parquet WAL from the seed and replays it once into a
copy-on-write table (the warm-up, which also leaves the table at its
steady size).  The measured loop then replays the same WAL again and
again into that table, each lap with its LSNs shifted past the previous
lap and its lap index appended to every ``commit``, so every lap is a
real catch-up of N new events, with new content, through
``CdcReplayer.replay_range_batches`` (pipelined, a few large LSN batches).
Beside the laps runs the shared closed-loop reader (reader.py): point
lookups, every second operation a ``changes_since`` feed read of the last
batch's worth of LSNs.
Every lap touches the same keys, so the state after lap k must equal
``expected_final_state`` over lap k's events alone; each lap's final
snapshot is checked by time travel once the clock stops.  A lap that
drops or skips events leaves rows of an earlier lap behind and fails.
"""

from __future__ import annotations

import os
import time

import numpy as np
from pyspark.sql import functions as F, types as T

from cdm_cbioportal_etl_spark.cdc import CdcReplayer, gen_change_events
from cdm_cbioportal_etl_spark.cdc.generator import REPOS_SCHEMA
from cdm_cbioportal_etl_spark.lake import LakeTable

import harness as H
import lakecheck as L
from reader import Reader

# ~10^5 keys (200 repos x 500 paths, Zipf 3): events per run >> keys
EVENTS = 160_000
BATCHES = 2
N_REPOS, PATHS_PER_REPO, ZIPF = 200, 500, 3.0
# 64..256-char contents: per-event engine work, not payload bytes, dominates
CONTENT_REPEAT_MAX = 4
N_BUCKETS = 8
END_SAMPLE = 2  # point reads checked against the oracle after the clock


def run(ctx: H.Ctx) -> H.Outcome:
    spark, tr, out = ctx.spark, ctx.tracer, H.Outcome()
    n, batch = EVENTS, (EVENTS + BATCHES - 1) // BATCHES

    # --- set-up: materialize the WAL, seed + warm the table ------------- #
    wal_dir = os.path.join(ctx.work_dir, "wal")
    gen_change_events(
        spark, n, n_repos=N_REPOS, paths_per_repo=PATHS_PER_REPO, seed=ctx.seed,
        zipf_exp=ZIPF, parallelism=8, content_repeat_max=CONTENT_REPEAT_MAX,
    ).write.parquet(wal_dir)
    wal = spark.read.parquet(wal_dir)
    table = LakeTable.create(
        spark, os.path.join(ctx.work_dir, "table"), T.StructType(list(REPOS_SCHEMA.fields)),
        key_cols=L.KEYS, n_buckets=N_BUCKETS, properties={"merge_mode": "cow"},
    )
    replayer = CdcReplayer(table)

    def lap_events(k: int):
        """Lap k's events: the WAL with LSNs shifted by k laps and the lap
        index appended to every commit (deletes keep their null)."""
        return wal.withColumns({
            "lsn": F.col("lsn") + F.lit(k * n),
            "commit": F.concat(F.col("commit"), F.lit(f"/lap{k}")),
        })

    def lap(k: int, size: int = batch):
        return replayer.replay_range_batches(
            lap_events(k), k * n, (k + 1) * n, batch_size=size, strategy="broadcast",
            pipelined=True,
        )

    H.log("wal written")
    lap(0, size=n)  # one batch: warms the same code for less fixed cost
    reader = Reader(tr, LakeTable(spark, table.root), _key_source(ctx.seed, 1), L.key_ok,
                    poll_lag=batch)
    warm = LakeTable(spark, table.root)
    warm.point_lookup(reader.next_key()).collect()
    warm.changes_since(n // 2).count()
    H.log("set-up done")

    tr.wrap(table, "prepare_batch", "lake.prepare")
    tr.wrap(table, "apply_prepared", "lake.apply", lambda sp, st: sp.attrs.update(stats=st))
    laps: list[tuple[int, float, float]] = []  # (k, start wall, replay seconds)
    counts: dict[str, int] = {}

    # --- measured: laps back to back, the reader beside them ------------ #
    t_start = time.time()
    out.clock_start = time.perf_counter()
    reader.start()
    k = 1
    while H.another_round(out.clock_start, ctx.seconds, [s for _, _, s in laps]):
        snap0 = ctx.counters.snapshot()
        started = time.time()
        t0 = time.perf_counter()
        with tr.span("cdc.replayer.replay", root=True):
            lap(k)
        laps.append((k, started, time.perf_counter() - t0))
        for key, v in H.SparkCounters.delta(snap0, ctx.counters.snapshot()).items():
            counts[key] = counts.get(key, 0) + v
        out.events_per_s.append(n / laps[-1][2])
        k += 1
    reader.stop()
    out.window = (t_start, time.time())
    out.clock_end = time.perf_counter()
    H.log(f"measured {len(laps)} laps")

    # --- after the clock: visibility record and oracle checks ---------- #
    snaps = [table.snapshot_at(v) for v in range(1, table.snapshot["version"] + 1)]
    by_lap = {k: [s for s in snaps if k * n <= s["ledger"]["applied_lsn"] < (k + 1) * n]
              for k, _, _ in laps}
    # digest keys: lap k's table state is k, its oracle -k (laps start at 1)
    states = {k: table.read(version=ss[-1]["version"]) for k, ss in by_lap.items() if ss}
    oracles = {-k: L.oracle_state(lap_events(k)) for k, _, _ in laps}
    digests = L.state_digests({**oracles, **states})
    for k, started, _ in laps:
        lap_snaps = by_lap[k]
        # a wrong end-of-lap state fails every batch of the lap
        state_ok = k in digests and digests[k] == digests.get(-k)
        for b in range(BATCHES):
            hi = k * n + min((b + 1) * batch, n) - 1
            vis = next((s["committed_at"] for s in lap_snaps
                        if s["ledger"]["applied_lsn"] >= hi), None)
            out.visible.append(
                (started, out.window[1] if vis is None else vis, min(batch, n - b * batch))
            )
            out.check(state_ok and vis is not None)
    out.lookup_ms, out.export_pass_s = reader.lookup_ms, reader.poll_s
    out.tally(reader.ok, reader.bad)
    keys = L.zipf_keys(np.random.default_rng([ctx.seed, 3]), END_SAMPLE, N_REPOS,
                       PATHS_PER_REPO, ZIPF)
    last = laps[-1][0]
    for ok in L.sample_against_oracle(table, L.oracle_state(lap_events(last)), keys):
        out.check(ok)
    H.log("checks done")

    out.notes.update(laps=len(laps), events_per_lap=n, batches_per_lap=BATCHES,
                     table_rows=digests[-last][0], lookups=len(reader.lookup_ms),
                     polls=len(reader.poll_s))
    if ctx.traced:
        _layers(ctx, out, table, snaps, laps, counts, reader.poll_rows)
    return out


def _key_source(seed: int, stream: int):
    rng = np.random.default_rng([seed, stream])
    return lambda: dict(zip(L.KEYS, L.zipf_keys(rng, 1, N_REPOS, PATHS_PER_REPO, ZIPF)[0]))


def _layers(ctx, out, table, snaps, laps, counts, poll_rows) -> None:
    tr, since, until = ctx.tracer, out.clock_start, out.clock_end
    stats = [s.attrs["stats"] for s in tr.named("lake.apply", since, until)]
    # rows in the files each measured commit added: the COW rewrite volume
    first = laps[0][0] * EVENTS
    written, prev = 0, set()
    for s in snaps:
        files = {f["path"]: f.get("rows", 0) for fs in s["buckets"].values() for f in fs}
        if s["ledger"]["applied_lsn"] >= first:
            written += sum(r for p, r in files.items() if p not in prev)
        prev = set(files)
    winners = sum(st.batch_keys for st in stats)
    out.layer.update(L.lake_layers(tr, since, until, table, poll_rows, counts,
                                   EVENTS * len(laps), len(stats)))
    out.layer["cdc.replayer.apply_wait_s"] = (
        sum(s for _, _, s in laps) - out.layer["lake.apply.busy_s"]
    )
    out.layer["lake.apply.rows_written_per_winner"] = written / winners if winners else 0.0
