"""``feed``: open loop at a fixed arrival rate.

A generator thread moves one pre-generated events JSONL file and one
docs JSONL file into two landing directories every ``PERIOD`` seconds,
whatever the consumer is doing; it only renames, so it barely holds the
interpreter lock against py4j. The client runs a drain cycle on a fixed
trigger schedule, like a processing-time trigger: every ``TRIGGER_S``
seconds, or at once when the previous cycle overran. A cycle drains the
two streams in turn, each on its own persistent checkpoint:

* ``run_stream_to_parquet(windowed_event_counts(read_events_stream(...)))``
* ``run_dedup_stream(...)``

An op is one landed file. Its latency (freshness lag) runs from when
the file was due to land until the first drain of its stream that
started after the rename returns, so a stall also delays every file
queued behind it. With arrivals and triggers both on a schedule, the
waiting part of the lag repeats from run to run and what varies is the
drains' own time. ``ops_per_s`` is files made fresh per second of
drain time, the arrival rate at which the drains would never idle.
After the window a burst backlog per stream is landed at once and
drained in a single call; its rows per second is ``rows_per_s``.
``streaming/`` (drain fixed cost, state store, foreachBatch sinks) does
the work; nothing else does.

Correctness, after the burst: the windowed-count sink (latest row per
key) equals a DuckDB aggregate over every landed events file, and the
dedup sink holds exactly the first-seen doc of every fingerprint.
"""

from __future__ import annotations

import math
import os
import threading
import time

import duckdb

from . import gen
from .common import Op, Run, log, p50

PERIOD = 1.0  # seconds between arrivals, per stream
# A warm drain cycle takes ~2.2-4 s at local[4] depending on host load;
# a 5 s trigger keeps up with headroom, so the waiting part of the lag
# stays the schedule's and does not amplify a slow drain into queueing.
TRIGGER_S = 5.0
WARMUP_CYCLES = 3
BURST_FILES = 12
DRAIN_TIMEOUT_S = 60


class Generator(threading.Thread):
    """Renames staged file pairs into landing on a fixed schedule and
    stamps each with its due and actual landing time."""

    def __init__(self, pairs: list[tuple[str, str]], landings: tuple[str, str], t0: float):
        super().__init__(name="perfbench-feed-generator", daemon=True)
        self.pairs = pairs
        self.landings = landings
        self.t0 = t0
        self.stop = threading.Event()
        self.landed: list[tuple[float, float]] = []  # (due, renamed) per pair

    def run(self) -> None:
        for i, pair in enumerate(self.pairs):
            due = self.t0 + i * PERIOD
            if self.stop.wait(max(0.0, due - time.perf_counter())):
                return
            for path, landing in zip(pair, self.landings):
                os.replace(path, os.path.join(landing, os.path.basename(path)))
            self.landed.append((due, time.perf_counter()))


def _dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, n)) for d, _, names in os.walk(root) for n in names
    )


def _commits(ckpt: str) -> int:
    d = os.path.join(ckpt, "commits")
    return sum(n.isdigit() for n in os.listdir(d)) if os.path.isdir(d) else 0


def run(r: Run) -> None:
    from streampro_assignment_etl_spark.streaming import (
        read_events_stream,
        run_dedup_stream,
        run_stream_to_parquet,
        windowed_event_counts,
    )

    # Triggers fire at TRIGGER_S/2 + k*TRIGGER_S inside the window; files
    # land until the last one, so every landed file has a serving drain
    # in the window.
    n_triggers = max(1, math.ceil((r.seconds - TRIGGER_S / 2) / TRIGGER_S))
    if r.trace:
        n_triggers = max(2, n_triggers)
    n_timed = math.ceil((TRIGGER_S / 2 + (n_triggers - 1) * TRIGGER_S) / PERIOD)
    files = gen.feed_files(
        r.path("stage"), r.seed, r.sizes, WARMUP_CYCLES + n_timed + BURST_FILES
    )
    ev_land, doc_land = r.path("landing", "events"), r.path("landing", "docs")
    os.makedirs(ev_land)
    os.makedirs(doc_land)
    ev_out, doc_out = r.path("sink", "event_counts"), r.path("sink", "docs")
    ev_ckpt, doc_ckpt = r.path("ckpt", "event_counts"), r.path("ckpt", "docs")

    start_s = r.start_spark()
    spark = r.spark

    def drain_events() -> None:
        run_stream_to_parquet(
            windowed_event_counts(read_events_stream(spark, ev_land)),
            ev_out, ev_ckpt, timeout_s=DRAIN_TIMEOUT_S,
        )

    def drain_docs() -> None:
        run_dedup_stream(spark, doc_land, doc_out, doc_ckpt, timeout_s=DRAIN_TIMEOUT_S)

    drains = (("events", drain_events), ("docs", drain_docs))

    def land(i: int) -> None:
        os.replace(files.events[i], os.path.join(ev_land, os.path.basename(files.events[i])))
        os.replace(files.docs[i], os.path.join(doc_land, os.path.basename(files.docs[i])))

    # -- set-up: warm-up drain cycles on the persistent checkpoints -----
    t0 = time.perf_counter()
    with r.tracer.span("warmup", "session"):
        for i in range(WARMUP_CYCLES):
            land(i)
            for _, fn in drains:
                fn()
    warm_s = time.perf_counter() - t0
    log(f"feed set-up: start {start_s:.2f}s, warm-up {warm_s:.2f}s")
    r.layer["session.warmup_s"] = warm_s
    r.layer["session.warmup_cycles"] = WARMUP_CYCLES
    r.setup_s = start_s + warm_s
    r.mark_rollup()

    # -- timed window: open-loop arrivals, drain cycles ------------------
    timed = list(range(WARMUP_CYCLES, WARMUP_CYCLES + n_timed))
    log_drains: list[tuple[str, float, float, bool]] = []  # stream, start, end, traced
    cycles = {False: [], True: []}
    commits0 = _commits(ev_ckpt) + _commits(doc_ckpt)
    t_start = time.perf_counter()
    generator = Generator(
        [(files.events[i], files.docs[i]) for i in timed], (ev_land, doc_land), t_start
    )
    generator.start()
    traced = False
    try:
        trigger = t_start + TRIGGER_S / 2
        for _ in range(n_triggers):
            time.sleep(max(0.0, trigger - time.perf_counter()))
            if traced:
                r.mark_rollup()
            c0 = time.perf_counter()
            r.tracer.enabled = traced
            r.tracer.new_op()
            with r.tracer.span("drain_cycle", "bench"):
                for stream, fn in drains:
                    d0 = time.perf_counter()
                    with r.tracer.span(f"drain:{stream}", "streaming"):
                        fn()
                    log_drains.append((stream, d0, time.perf_counter(), traced))
                    if traced:
                        r.take_rollup()
            cycles[traced].append(time.perf_counter() - c0)
            trigger = max(trigger + TRIGGER_S, time.perf_counter())
            if r.trace:
                traced = not traced
    finally:
        generator.stop.set()
        generator.join(timeout=30)
    window_end = time.perf_counter()
    if generator.is_alive():
        raise RuntimeError("feed generator did not stop")
    streams_batches = _commits(ev_ckpt) + _commits(doc_ckpt) - commits0

    # -- per-file freshness lag ------------------------------------------
    backlog_max = unserved = 0
    for stream, _ in drains:
        mine = [d for d in log_drains if d[0] == stream]
        prev_start = t_start
        for _, start, _, _ in mine:
            waiting = sum(prev_start <= ren < start for _, ren in generator.landed)
            backlog_max = max(backlog_max, waiting)
            prev_start = start
        for due, renamed in generator.landed:
            serving = next((d for d in mine if d[1] > renamed), None)
            if serving is None:
                # Landed after the last trigger (a late generator): no
                # drain in the window served it, so it has no lag; the
                # burst drain picks it up and the sink check covers it.
                unserved += 1
                continue
            r.ops.append(Op(stream, serving[2] - due, serving[2] - due < DRAIN_TIMEOUT_S, serving[3]))
    r.extra["unserved_files"] = unserved
    # Throughput divides by drain time, not wall time: files made fresh
    # per second of (untraced) drain, the arrival rate at which the
    # drains would be busy all the time.
    r.extra["wall_window_s"] = window_end - t_start
    r.extra["drains_s"] = [[st, round(e - s, 4)] for st, s, e, _ in log_drains]
    r.window_s = sum(e - s for _, s, e, t in log_drains if not t)
    n_landed = WARMUP_CYCLES + len(generator.landed)
    gen_late_s = max((ren - due for due, ren in generator.landed), default=0.0)
    r.extra["generator_late_max_s"] = gen_late_s

    # -- burst: a backlog per stream, each drained in a single call ------
    burst = range(n_landed, n_landed + BURST_FILES)
    for i in burst:
        land(i)
    burst_s = 0.0
    for _, fn in drains:
        d0 = time.perf_counter()
        fn()
        burst_s += time.perf_counter() - d0
    n_landed += BURST_FILES
    r.burst_rows_per_s = sum(files.event_rows[i] + files.doc_rows[i] for i in burst) / burst_s

    check_sinks(r, ev_land, ev_out, doc_out, files, n_landed)

    if r.trace:
        traced_ops = [o for o in r.ops if o.traced and o.ok]
        untraced_ops = [o for o in r.ops if not o.traced and o.ok]
        L = r.layer
        L["streaming.events_drain_s"] = p50([e - s for st, s, e, t in log_drains if t and st == "events"])
        L["streaming.dedup_drain_s"] = p50([e - s for st, s, e, t in log_drains if t and st == "docs"])
        L["streaming.batches"] = streams_batches / max(len(log_drains), 1)
        L["streaming.state_bytes"] = _dir_bytes(os.path.join(ev_ckpt, "state")) + _dir_bytes(
            os.path.join(doc_ckpt, "state")
        )
        L["streaming.backlog_files_max"] = backlog_max
        L["streaming.gen_late_s"] = gen_late_s
        L["trace.op_p50_s"] = p50([o.latency_s for o in traced_ops])
        L["trace.untraced_op_p50_s"] = p50([o.latency_s for o in untraced_ops])
        L["trace.overhead_ratio"] = p50(cycles[True]) / p50(cycles[False]) - 1


def check_sinks(r: Run, ev_land: str, ev_out: str, doc_out: str, files: gen.FeedFiles, n_landed: int) -> None:
    """Both sinks are read with DuckDB, outside the program. The counts
    sink keeps one row per key per micro-batch (``batch_id=N`` dirs);
    the final answer is each key's row from its highest batch, ordered
    as a number."""
    from streampro_assignment_etl_spark.oracle import compare_frames

    con = duckdb.connect()
    try:
        got = con.execute(
            f"""
            SELECT window_start, event_type, n_events, total_value
            FROM read_parquet('{ev_out}/*/*.parquet', hive_partitioning = true)
            QUALIFY row_number() OVER (PARTITION BY window_start, event_type
                                       ORDER BY CAST(batch_id AS BIGINT) DESC) = 1
            """
        ).df()
        want = con.execute(
            f"""
            SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S')
                     AS window_start,
                   event_type,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
            FROM read_json('{ev_land}/*.jsonl', format = 'newline_delimited',
                           columns = {{event_id: 'BIGINT', ts: 'VARCHAR', user_id: 'BIGINT',
                                       event_type: 'VARCHAR', value: 'DOUBLE', props: 'VARCHAR'}})
            GROUP BY ALL
            """
        ).df()
        ids = [
            row[0]
            for row in con.execute(
                f"SELECT doc_id FROM read_parquet('{doc_out}/*/*.parquet', hive_partitioning = true)"
            ).fetchall()
        ]
    finally:
        con.close()
    r.check("windowed event counts", compare_frames("event_counts", got, want))

    expected = gen.expected_first_seen(files, n_landed)
    problems = []
    if len(ids) != len(set(ids)):
        problems.append(f"{len(ids) - len(set(ids))} docs emitted twice")
    if set(ids) != expected:
        problems.append(
            f"missing {len(expected - set(ids))} first-seen docs, "
            f"{len(set(ids) - expected)} duplicates kept"
        )
    r.check("dedup sink", problems)
    planted = sum(files.planted[:n_landed])
    landed_docs = sum(files.doc_rows[:n_landed])
    r.layer["streaming.dup_drop_ratio"] = (landed_docs - len(set(ids))) / planted if planted else 1.0
