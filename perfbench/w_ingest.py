"""``ingest``: closed loop, one client; a daily job waits for the last one.

Each op is one ingestion date: the date's users/videos/devices CSV and
events JSONL are moved into ``landing/`` (atomic renames from a staging
directory), then ``LandingToRawProcessor(...).run()`` and
``RawToTrustedProcessor(..., register_views=False).run()``. The op's
latency runs from the first rename to the trusted write's return.
``pipeline/`` (copy, typed parse, partitioned Parquet writer) does the
work; ``queries``, ``operators`` and ``streaming`` do none.

A date's cost is almost all fixed per-job Spark cost (2k and 10k
events per date take the same time), so the window times a fixed number
of dates, enough for a median of ten or more, and every run times the
same work.

Set-up: start the session, then five warm-up dates (the first date of a
fresh session costs ~8x a warm one, and the next few still run 40-70%
slow). After the window the trusted zone is read back once: per date,
row counts of every table and the exact decimal sum of ``events.value``
must equal the generator's.
"""

from __future__ import annotations

import math
import os
import time

from . import gen
from .common import Op, Run, log, p50

WARMUP_DAYS = 5
# Seconds one warm date takes at local[4]; the window runs the dates
# that cover --seconds at this pace. Fixed, not measured, so every run
# of a given --seconds times the same work.
NOMINAL_DAY_S = 0.8


def _land(day: gen.Day, landing: str) -> None:
    for path in day.files:
        os.replace(path, os.path.join(landing, os.path.basename(path)))


def _job(r: Run, lake, day: gen.Day, traced: bool) -> Op:
    from streampro_assignment_etl_spark.pipeline import (
        LandingToRawProcessor,
        RawToTrustedProcessor,
    )

    tr = r.tracer
    tr.new_op()
    tr.enabled = traced
    if traced:
        r.mark_rollup()
    t0 = time.perf_counter()
    with tr.span(f"op:{day.date}", "bench"):
        _land(day, r.path("lake", "landing"))
        t1 = time.perf_counter()
        with tr.span("landing_to_raw", "pipeline"):
            res_raw = LandingToRawProcessor(lake, day.date).run()
        t2 = time.perf_counter()
        with tr.span("raw_to_trusted", "pipeline"):
            res_trusted = RawToTrustedProcessor(
                r.spark, lake, day.date, register_views=False
            ).run()
        t3 = time.perf_counter()
    ok = res_raw.is_success and res_trusted.is_success
    if not ok:
        log(f"ingest {day.date} failed: {res_raw.error or ''} {res_trusted.error or ''}")
    parts = {}
    if traced:
        r.take_rollup()
        observed = res_trusted.metadata.get("observed", {})
        parts = {
            "landing_to_raw_s": t2 - t1,
            "raw_to_trusted_s": t3 - t2,
            "rows_written": sum(m.get("rows", 0) for m in observed.values()),
            "wall_s": time.perf_counter() - t0,
        }
    return Op(day.date, t3 - t0, ok, traced, parts)


def _dir_stats(root: str) -> tuple[int, int]:
    """(parquet files, bytes) under a directory."""
    files = size = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def check_trusted(r: Run, trusted: str, days: list[gen.Day]) -> None:
    """Per date and table, trusted rows equal generated rows; per date,
    the decimal sum of events.value equals the generated sum."""
    from pyspark.sql import functions as F

    got = {}
    for table in ("users", "videos", "devices", "events"):
        df = r.spark.read.parquet(os.path.join(trusted, table))
        agg = [F.count(F.lit(1)).alias("n")]
        if table == "events":
            agg.append((F.sum("value") * 10).cast("long").alias("tenths"))
        for row in df.groupBy("ingestion_date").agg(*agg).collect():
            got[(table, row["ingestion_date"])] = row
    for day in days:
        problems = []
        for table, n in day.rows.items():
            row = got.get((table, day.date))
            if row is None or row["n"] != n:
                problems.append(f"{table}: rows {row and row['n']} != {n}")
        row = got.get(("events", day.date))
        if row is not None and row["tenths"] != day.value_tenths:
            problems.append(f"events.value sum {row['tenths']} != {day.value_tenths} tenths")
        r.check(f"trusted {day.date}", problems)


def run(r: Run) -> None:
    from streampro_assignment_etl_spark.pipeline import LakeStorage

    n_timed = max(1, math.ceil(r.seconds / NOMINAL_DAY_S))
    if r.trace:
        n_timed = 2 * max(1, n_timed // 2)  # untraced and traced dates alternate
    days = gen.ingest_days(r.path("stage"), r.seed, r.sizes, WARMUP_DAYS + n_timed)
    lake = LakeStorage(r.path("lake"))
    lake.ensure_zones()

    start_s = r.start_spark()
    warm_s = 0.0
    with r.tracer.span("warmup", "session"):
        for day in days[:WARMUP_DAYS]:
            op = _job(r, lake, day, traced=False)
            warm_s += op.latency_s
            if not op.ok:
                r.check(f"warm-up {day.date}", ["job failed"])
    log(f"ingest set-up: start {start_s:.2f}s, warm-up {warm_s:.2f}s")
    r.layer["session.warmup_s"] = warm_s
    r.layer["session.warmup_cycles"] = WARMUP_DAYS
    r.setup_s = start_s + warm_s

    t_start = time.perf_counter()
    for i, day in enumerate(days[WARMUP_DAYS:]):
        traced = r.trace and i % 2 == 1
        op = _job(r, lake, day, traced)
        r.ops.append(op)
        if op.ok and not traced:
            r.rows += sum(day.rows.values())
    r.window_s = time.perf_counter() - t_start
    if r.trace:
        r.window_s = sum(o.latency_s for o in r.ops if not o.traced)
        _layer_metrics(r, days[WARMUP_DAYS:])

    check_trusted(r, r.path("lake", "trusted"), days)


def _layer_metrics(r: Run, timed_days: list[gen.Day]) -> None:
    traced = [o for o in r.ops if o.traced and o.ok]
    untraced = [o for o in r.ops if not o.traced and o.ok]
    L = r.layer
    L["pipeline.landing_to_raw_s"] = p50([o.parts["landing_to_raw_s"] for o in traced])
    L["pipeline.raw_to_trusted_s"] = p50([o.parts["raw_to_trusted_s"] for o in traced])
    L["pipeline.rows_written"] = sum(o.parts["rows_written"] for o in traced) / max(len(traced), 1)
    files = size = 0
    for table in ("users", "videos", "devices", "events"):
        for day in timed_days:
            f, s = _dir_stats(r.path("lake", "trusted", table, f"ingestion_date={day.date}"))
            files, size = files + f, size + s
    L["pipeline.trusted_files"] = files / max(len(timed_days), 1)
    L["pipeline.bytes_ratio"] = size / max(sum(d.landing_bytes for d in timed_days), 1)
    L["trace.op_p50_s"] = p50([o.latency_s for o in traced])
    L["trace.untraced_op_p50_s"] = p50([o.latency_s for o in untraced])
    # Wall time of a traced date, status-store reads included, against
    # an untraced date.
    L["trace.overhead_ratio"] = (
        p50([o.parts["wall_s"] for o in traced]) / max(L["trace.untraced_op_p50_s"], 1e-9) - 1
    )
