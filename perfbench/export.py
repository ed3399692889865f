"""cbio-export: closed-loop cBioPortal export passes driven by configs/.

Set-up generates clinical-shaped sources from the seed (customers stand in
for patients, orders for summary facts, events for timeline facts, in the
schema of the repository's TPC-H-shaped test data), writes them as parquet,
keeps the customer source in a lake table, and runs one untimed warm-up pass.

One pass: the YAML summary specs (configs/summaries) through
``pipeline.run_summary_pipeline`` and the timeline specs
(configs/timelines) through ``pipeline.run_timeline_pipeline``; each
product gets its cBioPortal header (``operators.header``) and is written as
one headerless TSV (``operators.io``).  Passes run back to back; beside
them the shared closed-loop reader (reader.py) point-reads patient source
rows from the lake table, each checked against the generated source.
Every pass's outputs are checked against the catalog's DuckDB oracles
once the clock stops.
"""

from __future__ import annotations

import collections
import csv
import glob
import os
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from cdm_cbioportal_etl_spark import pipeline
from cdm_cbioportal_etl_spark.lake import LakeTable
from cdm_cbioportal_etl_spark.operators.header import ColumnMeta, combine_header_and_data
from cdm_cbioportal_etl_spark.operators.io import write_cbioportal_tsv
from cdm_cbioportal_etl_spark.plans.catalog import _DEID_TODAY, ORACLES

import harness as H
from reader import Reader

# a fifth of the repository's sf0.1 bench tables
N_CUSTOMERS, N_ORDERS, N_EVENTS, N_USERS = 3_000, 30_000, 20_000, 2_000
CONFIGS = os.path.join(os.getcwd(), "configs")
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "logout"]
# the column header each output must carry, in order: the widened summary
# of both configs/summaries specs, and each configs/timelines spec's columns
EXPECTED_COLUMNS = {
    "summary": ["PATIENT_ID", "SEGMENT", "ACCTBAL", "LAST_ORDER_DATE", "N_ORDERS"],
    "timeline_status": ["PATIENT_ID", "START_DATE", "EVENT_TYPE", "SUBTYPE", "EVENT_ID"],
    "timeline_treatment": ["PATIENT_ID", "START_DATE", "STOP_DATE", "EVENT_TYPE", "AGENT",
                           "EVENT_ID"],
}


def make_sources(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 7])
    us = lambda a: pa.array(a.astype("datetime64[us]"), pa.timestamp("us"))  # noqa: E731
    ck = np.arange(1, N_CUSTOMERS + 1)
    customer = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMERS).astype(np.int32),
        "c_acctbal": rng.integers(-99_999, 999_999, N_CUSTOMERS) / 100.0,
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, N_CUSTOMERS)],
    })
    buyers = ck[ck % 3 != 0]  # a third of the customers never order
    day0 = np.datetime64("1992-01-01", "D")
    orders = pa.table({
        "o_orderkey": np.arange(1, N_ORDERS + 1),
        "o_custkey": rng.choice(buyers, N_ORDERS),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": rng.integers(90_000, 50_000_000, N_ORDERS) / 100.0,
        "o_orderdate": us(day0 + rng.integers(0, 2405, N_ORDERS)),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, N_ORDERS)],
    })
    # event times run past the deidentification "today" so future-nulling fires
    t0 = np.datetime64("2023-01-01T00:00:00", "s")
    events = pa.table({
        "event_id": np.arange(1, N_EVENTS + 1),
        "ts": us(t0 + rng.integers(0, 547 * 86_400, N_EVENTS)),
        "user_id": rng.integers(1, N_USERS + 1, N_EVENTS),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, N_EVENTS)],
        "value": rng.integers(0, 100_000, N_EVENTS) / 100.0,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })
    return {"customer": customer, "orders": orders, "events": events}


def _summary(spark, src: str):
    c = spark.read.parquet(f"{src}/customer.parquet")
    o = spark.read.parquet(f"{src}/orders.parquet")
    configs = pipeline.load_summary_configs(os.path.join(CONFIGS, "summaries"), "patient")
    anchor = (
        o.groupBy("o_custkey")
        .agg(F.min(F.col("o_orderdate").cast("date")).alias("DATE_TUMOR_SEQUENCING"))
        .select(F.col("o_custkey").cast("string").alias("MRN"),
                F.concat(F.lit("P-"), F.col("o_custkey")).alias("DMP_ID"),
                "DATE_TUMOR_SEQUENCING")
    )
    template = c.select(F.concat(F.lit("P-"), F.col("c_custkey")).alias("PATIENT_ID"))

    def resolve(name: str):
        if name == "customer_info":
            return c.select(F.col("c_custkey").cast("string").alias("MRN"),
                            F.col("c_mktsegment").alias("SEGMENT"),
                            F.round(F.col("c_acctbal") * 100).cast("long").alias("ACCTBAL"))
        if name == "order_activity":
            return o.groupBy("o_custkey").agg(
                F.max(F.col("o_orderdate").cast("date")).alias("LAST_ORDER_DATE"),
                F.count(F.lit(1)).alias("N_ORDERS"),
            ).select(F.col("o_custkey").cast("string").alias("MRN"), "LAST_ORDER_DATE",
                     "N_ORDERS")
        raise KeyError(name)

    return pipeline.run_summary_pipeline(spark, configs, resolve, anchor, template)


def _timelines(spark, src: str):
    configs = pipeline.load_timeline_configs(os.path.join(CONFIGS, "timelines"), "test",
                                             "patient")
    ev = spark.read.parquet(f"{src}/events.parquet")
    pid = F.concat(F.lit("P"), F.lpad(F.col("user_id").cast("string"), 4, "0"))
    mrn = F.col("user_id").cast("string")
    base = ev.groupBy("user_id").agg(F.min("ts").cast("date").alias("DATE_TUMOR_SEQUENCING"),
                                     F.max("ts").cast("date").alias("OS_DATE"))
    samples = base.select(pid.alias("PATIENT_ID"))
    anchor = base.select(mrn.alias("MRN"), pid.alias("DMP_ID"), "DATE_TUMOR_SEQUENCING")
    os_dates = base.select(mrn.alias("MRN"), "OS_DATE")

    def resolve(name: str):
        start = F.col("ts").cast("string").alias("START_DATE")
        if name == "timeline_status":
            return ev.select(mrn.alias("MRN"), start, F.lit("STATUS").alias("EVENT_TYPE"),
                             F.col("event_type").alias("SUBTYPE"),
                             F.col("event_id").alias("EVENT_ID"))
        if name == "timeline_treatment":
            stop = F.date_add(F.col("ts").cast("date"),
                              (F.floor("value").cast("long") % 30).cast("int"))
            return ev.select(mrn.alias("MRN"), start, stop.cast("string").alias("STOP_DATE"),
                             F.lit("TREATMENT").alias("EVENT_TYPE"),
                             F.col("event_type").alias("AGENT"),
                             F.col("event_id").alias("EVENT_ID"))
        raise KeyError(name)

    outs = pipeline.run_timeline_pipeline(spark, configs, resolve, samples, anchor, os_dates,
                                          today=_DEID_TODAY)
    metas = {
        cfg.timeline_id: {
            c: ColumnMeta(c, m.get("field_label", c), m.get("field_note", ""))
            for c, m in cfg.column_metadata.items()
        }
        for cfg in configs
    }
    return outs, metas


def export_pass(ctx: H.Ctx, src: str, dest: str) -> list[tuple[str, float]]:
    """One pass; returns (output name, wall time it became visible)."""
    tr, spark, done = ctx.tracer, ctx.spark, []

    def write(name, df, metas):
        with tr.span("operators.header"):
            combined = combine_header_and_data(df, metas)
        with tr.span("operators.io.write"):
            write_cbioportal_tsv(combined, os.path.join(dest, name))
        done.append((name, time.time()))

    with tr.span("pipeline.summary"):
        with tr.span("pipeline.plan"):
            wide, metas = _summary(spark, src)
        write("summary", wide, metas)
    with tr.span("pipeline.timeline"):
        with tr.span("pipeline.plan"):
            outs, tl_metas = _timelines(spark, src)
        for tid in sorted(outs):
            write(f"timeline_{tid}", outs[tid], tl_metas[tid])
    return done


# --------------------------------------------------------------------- #
# oracle check
# --------------------------------------------------------------------- #
def _read_tsv(path: str) -> tuple[list[str], list[list[str]]]:
    (part,) = [p for p in glob.glob(os.path.join(path, "*")) if not
               os.path.basename(p).startswith((".", "_"))]
    with open(part, newline="") as fh:
        rows = list(csv.reader(fh, delimiter="\t"))
    return rows[4], rows[5:]


def _cell(v) -> str:
    return "" if v is None else str(v)


def oracle_outputs(src: str) -> dict[str, list[dict[str, str]]]:
    """Output name -> oracle rows (column -> cell text), from the catalog's
    DuckDB oracles for the two YAML pipelines over the same sources."""
    con = duckdb.connect()
    try:
        for t in ("customer", "orders", "events"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}/{t}.parquet')")
        want: dict[str, list[dict[str, str]]] = {}
        for query in ("yaml_summary_pipeline", "yaml_timeline_pipeline"):
            rel = con.sql(ORACLES[query])
            cols = [c.upper() for c in rel.columns]
            for r in rel.fetchall():
                row = dict(zip(cols, map(_cell, r)))
                key = row.get("TIMELINE_ID")
                want.setdefault(f"timeline_{key}" if key else "summary", []).append(row)
        return want
    finally:
        con.close()


def check_output(path: str, columns: list[str], oracle: list[dict[str, str]]) -> bool:
    """The TSV's header is ``columns`` and its data rows equal the oracle
    rows projected on those columns."""
    header, rows = _read_tsv(path)
    if header != columns:
        return False
    got = collections.Counter(map(tuple, rows))
    return got == collections.Counter(tuple(o[c] for c in columns) for o in oracle)


# --------------------------------------------------------------------- #
def run(ctx: H.Ctx) -> H.Outcome:
    spark, tr, out = ctx.spark, ctx.tracer, H.Outcome()
    tables = make_sources(ctx.seed)
    rows_per_pass = sum(t.num_rows for t in tables.values())
    src = os.path.join(ctx.work_dir, "src")
    os.makedirs(src)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(src, f"{name}.parquet"))
    customers = LakeTable.create(spark, os.path.join(src, "customer_lake"),
                                 spark.read.parquet(f"{src}/customer.parquet").schema,
                                 key_cols=["c_custkey"], n_buckets=4)
    customers.overwrite(spark.read.parquet(f"{src}/customer.parquet"))
    H.log("sources written")
    export_pass(ctx, src, os.path.join(ctx.work_dir, "warmup"))
    source = {r["c_custkey"]: r for r in tables["customer"].to_pylist()}
    rng = np.random.default_rng([ctx.seed, 8])
    reader = Reader(
        tr, LakeTable(spark, customers.root),
        lambda: {"c_custkey": int(rng.integers(1, N_CUSTOMERS + 1))},
        lambda key, rows: rows == [source[key["c_custkey"]]],
    )
    customers.point_lookup(reader.next_key()).collect()
    H.log("set-up done")

    passes: list[tuple[float, str, list[tuple[str, float]]]] = []
    counts: dict[str, int] = {}
    t_start = time.time()
    out.clock_start = time.perf_counter()
    reader.start()
    while H.another_round(out.clock_start, ctx.seconds, out.export_pass_s):
        dest = os.path.join(ctx.work_dir, f"out-{len(passes)}")
        snap0 = ctx.counters.snapshot()
        started = time.time()
        t0 = time.perf_counter()
        with tr.span("pipeline.export_pass", root=True):
            done = export_pass(ctx, src, dest)
        wall = time.perf_counter() - t0
        for k, v in H.SparkCounters.delta(snap0, ctx.counters.snapshot()).items():
            counts[k] = counts.get(k, 0) + v
        passes.append((started, dest, done))
        out.export_pass_s.append(wall)
        out.events_per_s.append(rows_per_pass / wall)
    reader.stop()
    out.window = (t_start, time.time())
    out.clock_end = time.perf_counter()
    H.log(f"measured {len(passes)} passes")

    want = oracle_outputs(src)
    sizes = {"summary": N_CUSTOMERS + N_ORDERS}
    for started, dest, done in passes:
        for name, vis in done:
            out.visible.append((started, vis, sizes.get(name, N_EVENTS)))
        ok = sorted(n for n, _ in done) == sorted(want) == sorted(EXPECTED_COLUMNS) and all(
            check_output(os.path.join(dest, n), EXPECTED_COLUMNS[n], want[n]) for n in want
        )
        out.check(ok)
    out.lookup_ms = reader.lookup_ms
    out.tally(reader.ok, reader.bad)
    H.log("checks done")

    out.notes.update(passes=len(passes), source_rows_per_pass=rows_per_pass,
                     outputs_per_pass=len(want), lookups=len(reader.lookup_ms))
    if ctx.traced:
        lay, since = out.layer, out.clock_start
        lay["pipeline.plan_s"] = tr.busy("pipeline.plan", since)
        lay["pipeline.summary.busy_s"] = tr.busy("pipeline.summary", since)
        lay["pipeline.timeline.busy_s"] = tr.busy("pipeline.timeline", since)
        lay["operators.header.busy_s"] = tr.busy("operators.header", since)
        lay["operators.io.write_s"] = tr.busy("operators.io.write", since)
        lay["lake.point_lookup.busy_s"] = tr.busy("lake.point_lookup", since)
        if counts:
            lay["spark.jobs_per_pass"] = counts["jobs"] / len(passes)
            lay["spark.stages_per_pass"] = counts["stages"] / len(passes)
            lay["spark.input_bytes_per_event"] = (
                counts["inputBytes"] / (rows_per_pass * len(passes))
            )
    return out
