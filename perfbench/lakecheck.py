"""Oracle checks and key sampling shared by the lake-backed workloads."""

from __future__ import annotations

import hashlib
import json

import numpy as np
from pyspark.sql import DataFrame, functions as F

from cdm_cbioportal_etl_spark.cdc import expected_final_state

import harness as H

KEYS = ["repo", "path"]
COLS = ["repo", "path", "commit", "lang", "content"]


def row_sha(row: dict) -> str:
    """sha256 of one row's content, computed the same way on both sides."""
    return hashlib.sha256(
        json.dumps([row[c] for c in COLS], separators=(",", ":")).encode()
    ).hexdigest()


def state_digests(states: dict[int, DataFrame]) -> dict[int, tuple[int, int, int]]:
    """Order-independent digest of each state, in one Spark job: row count
    plus two 48-bit sums over every row's sha256.  Two states with equal
    digests hold the same multiset of per-row sha256 values (up to a
    2^-96 collision).  A state with no rows is missing from the result."""
    h = F.sha2(F.to_json(F.struct(*COLS)), 256)
    part = lambda i: F.conv(F.substring(h, i, 12), 16, 10).cast("decimal(38,0)")  # noqa: E731
    tagged = [df.select(F.lit(k).alias("_state"), *COLS) for k, df in states.items()]
    union = tagged[0]
    for df in tagged[1:]:
        union = union.unionByName(df)
    rows = union.groupBy("_state").agg(
        F.count(F.lit(1)).alias("n"), F.sum(part(1)).alias("a"), F.sum(part(13)).alias("b")
    ).collect()
    return {r["_state"]: (int(r["n"]), int(r["a"]), int(r["b"])) for r in rows}


def oracle_state(wal: DataFrame) -> DataFrame:
    return expected_final_state(wal, KEYS).select(*COLS)


def oracle_rows(state: DataFrame, keys: list[tuple[str, str]]) -> dict[tuple, str]:
    """(repo, path) -> row sha256 of an oracle state, for the given keys."""
    if not keys:
        return {}
    want = state.sparkSession.createDataFrame(sorted(set(keys)), "repo string, path string")
    rows = state.join(want, KEYS, "inner").collect()
    return {(r["repo"], r["path"]): row_sha(r.asDict()) for r in rows}


def zipf_keys(
    rng: np.random.Generator, n: int, n_repos: int, paths_per_repo: int, zipf_exp: float
) -> list[tuple[str, str]]:
    """Keys drawn with the WAL generator's skew (repo = floor(u^exp * R))."""
    repo = np.floor(rng.random(n) ** zipf_exp * n_repos).astype(int)
    path = rng.integers(0, paths_per_repo, n)
    return [
        (f"org/repo-{r:04d}", f"src/dir{p % 10}/file{p:04d}.py")
        for r, p in zip(repo.tolist(), path.tolist())
    ]


def key_ok(key: dict, rows: list[dict]) -> bool:
    """A point read returns at most one row, carrying the requested key."""
    return len(rows) <= 1 and all(r[k] == key[k] for r in rows for k in KEYS)


def sample_against_oracle(table, state: DataFrame, keys: list[tuple[str, str]]) -> list[bool]:
    """Point-read each key and compare the row's sha256 with the oracle's."""
    want = oracle_rows(state, keys)
    out = []
    for key in keys:
        rows = [r.asDict() for r in table.point_lookup(dict(zip(KEYS, key))).collect()]
        got = row_sha(rows[0]) if len(rows) == 1 else None
        out.append(key_ok(dict(zip(KEYS, key)), rows) and got == want.get(key))
    return out


def files_admitted(table) -> float:
    """Mean data files the stats prune admits for a live key in its
    bucket (what a point lookup scans before bloom rejection)."""
    rows = table.read().select(*KEYS, table.bucket_expr().alias("b")).limit(20).collect()
    if not rows:
        return 0.0
    return sum(
        table.files_admitted({k: r[k] for k in KEYS}, buckets={int(r["b"])})[0]
        for r in rows
    ) / len(rows)


def lake_layers(tracer, since: float, until: float, table, poll_rows: list[int],
                counts: dict, events: int, commits: int) -> dict[str, float]:
    """Per-layer numbers shared by the two CDC workloads: prepare/apply
    spans and ``MergeStats`` of the window, reader spans, the table's
    layout, and Spark bytes per event and jobs per commit."""
    stats = [s.attrs["stats"] for s in tracer.named("lake.apply", since, until)]
    lay = {
        "lake.prepare.busy_s": tracer.busy("lake.prepare", since, until),
        "lake.prepare.calls": float(len(tracer.named("lake.prepare", since, until))),
        "lake.apply.busy_s": tracer.busy("lake.apply", since, until),
        "lake.point_lookup.busy_s": tracer.busy("lake.point_lookup", since, until),
        "lake.point_lookup.files_admitted_per_lookup": files_admitted(table),
        "lake.changes_since.busy_s": tracer.busy("lake.changes_since", since, until),
        "lake.changes_since.rows": float(sum(poll_rows)),
        **H.table_layout(table),
    }
    if stats:
        lay["lake.apply.gate_s"] = sum(st.timings["gate_agg_sec"] for st in stats)
        lay["lake.apply.write_s"] = sum(st.timings["write_sec"] for st in stats)
        lay["lake.apply.commit_s"] = sum(st.timings["meta_commit_sec"] for st in stats)
        lay["lake.apply.touched_buckets"] = sum(st.touched_buckets for st in stats) / len(stats)
        lay["lake.apply.carried_files"] = float(sum(st.carried_files for st in stats))
    if counts and events and commits:
        lay["spark.input_bytes_per_event"] = counts["inputBytes"] / events
        lay["spark.shuffle_bytes_per_event"] = counts["shuffleWriteBytes"] / events
        lay["spark.output_bytes_per_event"] = counts["outputBytes"] / events
        lay["spark.jobs_per_commit"] = counts["jobs"] / commits
        lay["spark.stages_per_commit"] = counts["stages"] / commits
    return lay
