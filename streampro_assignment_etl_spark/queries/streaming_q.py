"""Oracle-checked Structured Streaming entry (SURVEY M5).

Runs a REAL streaming query — readStream over staged JSONL, watermarked
tumbling-window aggregation, foreachBatch parquet sink, availableNow
trigger — and returns the drained result. The DuckDB oracle computes
the same hour-window rollup directly on the source table, so a hash
match certifies stream/batch equivalence end-to-end (the single
availableNow micro-batch drops nothing at the watermark, making the
comparison exact and deterministic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.testdata import load_table
from ..streaming import read_events_stream, run_stream_to_parquet, windowed_event_counts
from .catalog import query
from .pipeline_q import (
    _TS_FMT,
    _fresh_lake,
    _stage_single_file,
    _stage_single_jsonl_parallel,
)


@query(
    "streaming_windowed_counts",
    tags=("streaming", "M5"),
    oracle="""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def streaming_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events parquet → landing JSONL → readStream (typed schema) →
    watermark + 1h tumbling windows → foreachBatch parquet sink
    (availableNow) → read back. Batch is the oracle: DuckDB's
    date_trunc('hour') rollup over the same rows."""
    # scratch=True: the lake (landing + checkpoint + sink) is per-run
    # scratch rebuilt from zero, so it lives on the fastest local fs
    # (see _scratch_base) — the ext4 fsync tail was pure drain noise.
    lake = _fresh_lake(sf_dir, "stream", scratch=True)
    events = load_table(spark, sf_dir, "events")
    # Parallel JSONL encode (order-insensitive consumer: windowed agg).
    part = _stage_single_jsonl_parallel(events, lake.root, timestampNTZFormat=_TS_FMT)
    landing = lake.root / "landing_stream"
    landing.mkdir(parents=True, exist_ok=True)
    import shutil

    shutil.copyfile(part, landing / "events_stream.jsonl")

    stream = windowed_event_counts(read_events_stream(spark, str(landing)))
    out, ckpt = str(lake.root / "stream_out"), str(lake.root / "stream_ckpt")
    # State partitions sized to the key volume (~3.6k hour×type windows
    # at sf0.1), not the session's core count — same rule as the
    # stateful dedup below; 32 near-empty state commits per batch were
    # pure overhead. Checkpoint .crc siblings off: scratch checkpoint,
    # see run_stream_to_parquet.
    run_stream_to_parquet(
        stream,
        out,
        ckpt,
        mode="update",
        shuffle_partitions=8,
        checkpoint_file_checksum=False,
    )
    # Select the result columns explicitly: the idempotent sink adds a
    # batch_id partition column on read-back.
    return (
        spark.read.parquet(out)
        .select("window_start", "event_type", "n_events", "total_value")
        .orderBy("window_start", "event_type")
    )


# ---------------------------------------------------------------------------
# Stateful streaming dedup (SURVEY north-star: custom stateful operator).
# ---------------------------------------------------------------------------
@query(
    "streaming_stateful_dedup",
    # headline: bench times the full micro-batch drain (stage JSONL →
    # 2 ordered micro-batches through the state store → read-back), so
    # a state-path throughput regression is visible round-over-round
    # (round-5 VERDICT #5). r6: 3.98 s (fine-grained state, 8 state
    # partitions); r7: sharded-exact state + 16 partitions (see the
    # measurements at the run_dedup_stream call below).
    headline=True,
    tags=("streaming", "stateful", "dedup", "applyInPandasWithState"),
    oracle=r"""
WITH src AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM documents), text
  FROM documents WHERE doc_id % 7 = 0
),
fp AS (
  SELECT doc_id,
         md5(lower(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))) AS fingerprint
  FROM src
)
SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id, fingerprint
FROM fp
GROUP BY fingerprint
ORDER BY doc_id
""",
)
def streaming_stateful_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch stateful exact dedup as a REAL streaming run.

    Micro-batch 0 is the documents table; micro-batch 1 is a planted
    echo of every 7th document under a shifted doc_id (same text ⇒ same
    fingerprint). The two JSONL files stream with increasing mtimes,
    maxFilesPerTrigger=1 and availableNow — two micro-batches in order
    — through the applyInPandasWithState operator. Every echo row is a
    duplicate of a batch-0 fingerprint, so the result equals the
    original table IFF the seen-state genuinely survived between
    micro-batches (a state loss would leak echo rows and fail the
    row-count gate, not just the hash). "Min doc_id in the first batch
    that saw the fingerprint" equals the global min per fingerprint
    because batch ranges increase in doc_id — exactly what the DuckDB
    oracle replays over the same planted union."""
    import os
    import shutil
    from concurrent.futures import ThreadPoolExecutor

    from ..streaming.stateful_dedup import run_dedup_stream

    # scratch=True: per-run scratch lake on the fastest local fs (see
    # _scratch_base) — checkpoint durability is moot for a lake that is
    # rmtree'd at the start of every run.
    lake = _fresh_lake(sf_dir, "statefuldedup", scratch=True)
    # documents is scanned three times in this prologue (max-id, batch-0
    # staging, echo staging): persist for the duration (same-run reuse,
    # released below — guide §5).
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").persist()
    landing = lake.root / "landing_docs"
    landing.mkdir(parents=True, exist_ok=True)
    try:
        hi = int(docs.agg(F.max("doc_id")).first()[0])
        echoes = docs.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + F.lit(hi + 1)).alias("doc_id"), "text"
        )
        # Parallel JSONL encode (the operator's min-doc_id-per-batch
        # selection is line-order-insensitive), the two independent
        # staging jobs overlapped from a small thread pool so the echo
        # job back-fills the doc job's task tail (guide §2.6).
        with ThreadPoolExecutor(max_workers=2) as pool:
            parts = list(
                pool.map(
                    lambda ih: _stage_single_jsonl_parallel(
                        ih[1], lake.root, name=f"stage_batch{ih[0]}"
                    ),
                    enumerate((docs, echoes)),
                )
            )
    finally:
        docs.unpersist()
    for i, part in enumerate(parts):
        dst = landing / f"docs_batch{i}.jsonl"
        shutil.copyfile(part, dst)
        os.utime(dst, (1_000_000_000 + i * 100, 1_000_000_000 + i * 100))
    out, ckpt = str(lake.root / "dedup_out"), str(lake.root / "dedup_ckpt")
    # Sharded-exact state (n_shards=64): the fine-grained operator pays
    # one Python call per distinct fingerprint per batch (~62k calls ≈
    # 2 s of pure interpreter overhead at sf0.1), the sharded form pays
    # 64 vectorized calls for the identical output (equivalence pinned
    # by test_sharded_exact_dedup_matches_fine_grained). State
    # partitions re-measured for the SHARDED layout in r19 (the r7
    # sp=16 pick was tuned on the fine-grained operator, where 16 ways
    # of per-key python calls needed the parallelism): with 64
    # vectorized shard calls the per-partition state-commit constant
    # dominates instead, and sp=4 wins — warm drains sp=16 → 2.3-3.1 s,
    # sp=8 → 2.4-2.5 s, sp=4 → 2.1-2.2 s (interleaved A/B, idle box).
    # ~5k keys / 64 shards is exactly the "size to key volume, not
    # session default" rule in the run_dedup_stream docstring; at real
    # firehose volume this dial goes to hundreds. State layout freezes
    # at the first checkpoint — see run_dedup_stream docstring.
    run_dedup_stream(
        spark,
        str(landing),
        out,
        ckpt,
        max_files_per_trigger=1,
        shuffle_partitions=4,
        layout="shard",
        # Scratch checkpoint (fresh lake every run): the per-file .crc
        # siblings protect nothing here — see run_dedup_stream.
        checkpoint_file_checksum=False,
    )
    return (
        spark.read.parquet(out)
        .select("doc_id", "fingerprint")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Sliding windows (batch API parity with the streaming window() op).
# ---------------------------------------------------------------------------
@query(
    "sliding_window_counts",
    extra=True,  # streaming family driver row is streaming_windowed_counts
    tags=("streaming", "window", "sliding"),
    oracle="""
WITH e AS (
  SELECT event_type, ts, CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT) AS grid
  FROM events
),
expanded AS (
  SELECT event_type, to_timestamp(t.s) AS window_start
  FROM e, UNNEST([grid, grid - 1800]) AS t(s)
  -- an event belongs to the 1h windows starting at its 30-min grid
  -- slot and the one before (window/slide = 2 windows per event)
)
SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n_events
FROM expanded
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 minutes over events — the
    overlapping-window shape trending/rate dashboards stream with
    (``F.window(ts, '1 hour', '30 minutes')`` works identically under
    readStream; the tumbling variant above pins the streaming runtime,
    this one pins the sliding semantics). Spark materializes each event
    into window/slide=2 rows before the aggregate — exactly what the
    oracle's epoch-grid UNNEST replays."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
        )
        .orderBy("window_start", "event_type")
    )


# ---------------------------------------------------------------------------
# Watermark-lateness profile (the number that SIZES a watermark).
# ---------------------------------------------------------------------------
_LATENESS_BLOCK = 1000


@query(
    "watermark_lateness_profile",
    extra=True,
    tags=("streaming", "watermark", "diagnostic"),
    oracle="""
WITH o AS (
  SELECT event_type, ts,
         max(ts) OVER (ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS run_max
  FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN run_max > ts THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       ROUND(SUM(CASE WHEN run_max > ts THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS late_rate,
       CAST(MAX((epoch_us(run_max) - epoch_us(ts)) // 1000000) AS BIGINT) AS max_lateness_sec,
       CAST(SUM((epoch_us(run_max) - epoch_us(ts)) // 1000000) AS BIGINT) AS total_lateness_sec
FROM o
GROUP BY event_type
ORDER BY event_type
""",
)
def watermark_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How LATE does each event arrive relative to the stream's
    high-water mark? Lateness(e) = max(ts of any event arriving before
    e) − ts(e), with arrival order = ``event_id``. This is the profile
    that sizes ``withWatermark``: the max (or p99) lateness IS the
    delay bound below which the windowed/stateful operators above drop
    nothing — guessing it instead of measuring it silently loses data.

    Scale shape — the naive form is a GLOBAL running max (one-task
    window, the same anti-pattern the epoch shuffle removed); this
    builder decomposes it exactly, the block two-level trick:

    1. block = ``event_id div B`` — per-block running max via a window
       PARTITIONED by block (groups of ≤ B rows, fully parallel).
    2. block maxes (n/B rows) get a running max over the PRIOR blocks
       via one more window on the aggregated frame — pick B ≈ √n so
       both levels are √n-sized (B=1000 here; at 10¹² events B=10⁶
       keeps both windows ≤ 10⁶ rows; a third level generalizes).
    3. lateness = greatest(prior-block max, within-block running max)
       − ts; the decomposition is exact because arrival order sorts
       (block, event_id) lexicographically.

    The DuckDB oracle replays the literal global window.
    """
    events = load_table(spark, sf_dir, "events")
    return build_lateness_profile(events)


def build_lateness_profile(events: DataFrame, block: int = _LATENESS_BLOCK) -> DataFrame:
    """The block-decomposed lateness profile (see
    ``watermark_lateness_profile``). ``block`` is the two-level sizing
    dial: level 1 windows over ≤ ``block`` rows, level 2 over
    ``n/block`` block maxes — B ≈ √n balances them (10⁶ covers 10¹²
    events at ≤ 10⁶ rows per level; a third level would extend to
    10¹⁸, unneeded this side of physics). The result is B-INVARIANT —
    pinned across block sizes incl. one-row and whole-corpus blocks in
    tests/test_corpus_ops.py — so mis-sizing costs time, never
    correctness."""
    b = (F.col("event_id") / block).cast("long").alias("_b")
    e = events.select("event_id", "event_type", "ts", b)
    in_block = Window.partitionBy("_b").orderBy("event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    e = e.withColumn("_bmax", F.max("ts").over(in_block))
    block_prior = Window.orderBy("_b").rowsBetween(
        Window.unboundedPreceding, -1
    )
    # n/B-row frame: the one remaining unpartitioned window runs over
    # block maxes only (see docstring for the B sizing rule).
    prior = (
        e.groupBy("_b")
        .agg(F.max("ts").alias("_blk_max"))
        .withColumn("_prior_max", F.max("_blk_max").over(block_prior))
        .select("_b", "_prior_max")
    )
    run_max = F.greatest(
        F.coalesce(F.col("_prior_max"), F.col("_bmax")), F.col("_bmax")
    )
    # Exact integer micros → floor-div seconds (timestampdiff and
    # DuckDB's date_diff disagree on sub-second boundaries; session tz
    # is UTC so the ntz→timestamp cast is instant-preserving).
    lateness = F.floor(
        (
            F.unix_micros(F.col("_run_max").cast("timestamp"))
            - F.unix_micros(F.col("ts").cast("timestamp"))
        )
        / 1_000_000
    )
    return (
        e.join(prior, "_b")
        .withColumn("_run_max", run_max)
        .withColumn("_late_s", lateness)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(F.col("_run_max") > F.col("ts"), 1).otherwise(0)
            ).alias("n_late"),
            F.max("_late_s").alias("max_lateness_sec"),
            F.sum("_late_s").alias("total_lateness_sec"),
        )
        .select(
            "event_type",
            "n_events",
            "n_late",
            F.round(
                F.col("n_late").cast("double") / F.col("n_events"), 6
            ).alias("late_rate"),
            "max_lateness_sec",
            "total_lateness_sec",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Gap-based sessionization (30-min inactivity), derived from raw events.
# ---------------------------------------------------------------------------
_SESSION_GAP_S = 1800


@query(
    "gap_sessionize",
    extra=True,
    tags=("sessionization", "events", "diagnostic"),
    oracle=f"""
WITH o AS (
  SELECT user_id, ts, event_id,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
),
flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN prev_ts IS NULL
                   OR epoch_us(ts) - epoch_us(prev_ts) > {_SESSION_GAP_S} * 1000000
              THEN 1 ELSE 0 END AS new_sess
  FROM o
),
sess AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sess_idx
  FROM flagged
),
per_sess AS (
  SELECT user_id, sess_idx, COUNT(*) AS n,
         (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000 AS dur
  FROM sess GROUP BY user_id, sess_idx
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(n) AS BIGINT) AS n_events,
       CAST(MAX(n) AS BIGINT) AS max_session_events,
       CAST(SUM(dur) AS BIGINT) AS total_duration_sec
FROM per_sess
GROUP BY user_id
ORDER BY user_id
""",
)
def gap_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive sessions from raw events by the classic inactivity rule
    (> 30 min gap starts a new session) — the batch counterpart of
    streaming ``session_window``, and the operator behind every
    retention/engagement metric when the client doesn't ship session
    ids. Ties on (user_id, ts) break on event_id in BOTH engines so the
    lag/cumsum agree bit-for-bit.

    Scale shape: both windows partition by ``user_id`` (lag, then the
    running session counter), so work parallelizes per user and the
    hottest user bounds the longest task — the same key profile as the
    sp_q1–q3 session analytics, absorbed by AQE skew handling there and
    here.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = (
        events.select("user_id", "ts", "event_id")
        .withColumn("_prev", F.lag("ts").over(w))
        .withColumn(
            "_new",
            F.when(
                F.col("_prev").isNull()
                | (
                    F.unix_micros(F.col("ts").cast("timestamp"))
                    - F.unix_micros(F.col("_prev").cast("timestamp"))
                    > _SESSION_GAP_S * 1_000_000
                ),
                1,
            ).otherwise(0),
        )
    )
    sess = flagged.withColumn(
        "_sess_idx",
        F.sum("_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    per_sess = sess.groupBy("user_id", "_sess_idx").agg(
        F.count(F.lit(1)).alias("n"),
        # Exact integer micros → floor-div seconds: timestampdiff and
        # DuckDB's date_diff disagree on sub-second boundaries
        # (truncated-elapsed vs boundary-crossing counts); both engines
        # run the identical integer arithmetic instead. Session tz is
        # UTC, so the ntz→timestamp cast is instant-preserving.
        F.floor(
            (
                F.unix_micros(F.max("ts").cast("timestamp"))
                - F.unix_micros(F.min("ts").cast("timestamp"))
            )
            / 1_000_000
        ).alias("dur"),
    )
    return (
        per_sess.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n").alias("n_events"),
            F.max("n").alias("max_session_events"),
            F.sum("dur").alias("total_duration_sec"),
        )
        .orderBy("user_id")
    )


@query(
    "hot_key_state_audit",
    extra=True,
    tags=("streaming", "skew", "audit"),
    oracle="""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       user_id,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       COUNT(*) >= 12 AS over_threshold
FROM events
WHERE event_type = 'view'
GROUP BY 1, 2
ORDER BY n_rows DESC, window_start, user_id
LIMIT 100
""",
)
def hot_key_state_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch face of the stream-join skew audit
    (``streaming/stream_join.hot_key_stats``): per (event-time hour,
    user) view counts — a key's rows inside the join horizon ARE its
    join-state contribution, so the top of this table is tomorrow's
    ``cap_hot_keys`` list. Spark's tumbling ``window('1 hour')``
    aligns to the epoch, which is exactly DuckDB's
    ``date_trunc('hour', …)`` — the hash gate pins that equivalence
    along with the count threshold flag. Total ORDER BY (count desc,
    window, key) so the LIMIT is deterministic cross-engine."""
    from ..streaming.stream_join import hot_key_stats

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "view"
    )
    return (
        hot_key_stats(ev, "user_id", "ts", window="1 hour", state_threshold=12)
        .orderBy(F.desc("n_rows"), "window_start", "user_id")
        .limit(100)
    )
