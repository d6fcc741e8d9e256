"""Cross-batch exact dedup as one custom stateful stream operator
(``applyInPandasWithState``).

The batch dedup operators (queries/extensions.py, operators/minhash.py)
answer "what is duplicated in this corpus"; a streaming training-data
pipeline needs the online form — "have I EVER seen this document
before" — across micro-batches and restarts. ``dropDuplicates`` on a
stream needs watermark-bounded state and forgets, so this is the
applyInPandasWithState case: state is keyed by the content fingerprint
(``functions.text.content_fingerprint``), lives in the state store and
survives checkpoint restarts.

``dedup_stream`` builds one cell of a key-layout × horizon grid:

=======  ======================  ====================  =========================
layout   no horizon              ``ttl_seconds``       ``ttl_event_seconds``
=======  ======================  ====================  =========================
key      ``seen`` per            ``seen`` per          ``(seen, last_ms)`` per
         fingerprint; exact      fingerprint; exact    fingerprint; exact inside
                                 inside the horizon    the horizon
shard    ``fps`` seen-set per    ValueError            ``(fps, lasts)`` per
         shard; exact                                  shard; exact inside the
                                                       horizon
bloom    ``(slot_version,        ValueError            ``(slot_version,
         bits)``: one filter                           gen_start_ms, bits_cur,
         per shard;                                    bits_prev)``: two filters
         approximate                                   per shard; approximate
=======  ======================  ====================  =========================

- **Layouts.** ``key`` groups by fingerprint: a batch reads and writes
  only the keys it touches, at one Python call per distinct
  fingerprint. ``shard`` and ``bloom`` group by
  ``abs(xxhash64(fingerprint)) % n_shards``: one vectorised call per
  shard per batch, but a shard's whole state is rewritten each batch
  that touches it. Pick ``shard`` for high-churn batches over a modest
  key space, ``key`` for sparse batches over a huge cold one, and
  ``bloom`` when even one entry per key is too much: state is
  ``n_shards`` × 4 KiB forever (× 2 with a horizon), and a false
  positive, at a rate of about ``(1 - e^{-7n/32768})^7`` per shard for
  n distinct fingerprints, drops a new doc as a duplicate.
- **In-batch pick.** Every cell keeps, per fingerprint, the row with
  the lowest ``doc_id`` of the micro-batch (stable sort by ``doc_id``,
  first row per fingerprint). Across batches the first batch wins.
- **Horizons.** A wall-clock horizon (``ProcessingTimeTimeout``) is
  refreshed by every arrival and evicts on the first batch after the
  key has been idle for ttl, so eviction latency is horizon + one
  batch. An event horizon is the watermark over ``ts_col`` (delay 0):
  a fingerprint is a duplicate while its max event time + ttl is ahead
  of the watermark. Bloom bits cannot be evicted per member, so its
  event horizon rotates two filters in ttl bands of watermark time: a
  duplicate within ttl is always suppressed, one older than 2·ttl
  always re-admitted.
- **Replay.** Without a horizon, a replay of the same files admits the
  same fingerprints (the kept ``doc_id`` can differ if batch boundaries
  move). A wall-clock horizon
  does not: a month of history replayed in an hour fits inside any
  wall horizon. Event horizons replay: decisions key off the watermark,
  not off whether a timeout has fired (firing lags a batch), so one-
  and many-batch replays of the same files converge (key: equal state;
  shard: equal live members). Event cells need a UTC session.

``transformWithStateInPandas`` (Spark 4's typed-state successor with
native TTL) would express the same grid, but its Python driver worker
needs ``google.protobuf`` and mandates the RocksDB state-store
provider; ``applyInPandasWithState`` runs on the default provider with
no extra dependencies.
"""

from __future__ import annotations

import functools
from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions.text import content_fingerprint
from ._drain import drain_available_now, drain_confs, make_pair_sink_writer

__all__ = [
    "bloom_slot_array",
    "dedup_stream",
    "dedup_stream_watermarked",
    "run_dedup_stream",
]

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("fingerprint", T.StringType()),
    ]
)
_OUT = _OUT_SCHEMA.fieldNames()

BLOOM_BITS = 1 << 15  # 32768 bits = 512 longs per shard
BLOOM_HASHES = 7
# Slot-derivation version, persisted IN the state: v1 was md5 15-bit
# windows, v2 is xxhash64+pmod. Bits set under one derivation are
# meaningless under another, so resuming an old checkpoint must fail
# LOUDLY. v1-era checkpoints are also rejected by Spark's state-schema
# validation (the field changed the schema); the in-state check guards
# a future derivation change that leaves the schema alone.
_BLOOM_SLOT_VERSION = 2


def bloom_slot_array(fingerprint: F.Column | str) -> F.Column:
    """k bloom bit positions as a JVM ``array<long>`` column: xxhash64 of
    the fingerprint under k seeds, pmod'd into the bit range. Computed
    map-side BEFORE the shard shuffle so the Python state function never
    hashes — it only tests and ORs bits. Deterministic across restarts
    and engines (xxhash64 is a fixed function of (seed, bytes))."""
    return F.array(
        *[
            F.pmod(F.xxhash64(F.lit(seed), fingerprint), F.lit(BLOOM_BITS))
            for seed in range(BLOOM_HASHES)
        ]
    )


# ---------------------------------------------------------------------------
# Shared pieces of the state functions.
# ---------------------------------------------------------------------------
def _state_fn(step):
    """Wrap a cell's ``step(key, batch, state, **kw) -> rows | None`` as
    an applyInPandasWithState function. Timeout calls carry no rows and
    drop the key's state; otherwise the micro-batch's slices arrive as
    one frame (None when empty) and the returned rows are emitted."""

    @functools.wraps(step)
    def emit(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState, **kw: Any
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        frames = [pdf for pdf in pdfs if len(pdf)]
        batch = None
        if len(frames) == 1:
            batch = frames[0]
        elif frames:
            batch = pd.concat(frames, ignore_index=True)
        rows = step(key, batch, state, **kw)
        if rows is not None and len(rows):
            yield rows[_OUT]

    return emit


def _first_rows(batch: pd.DataFrame) -> pd.DataFrame:
    """The in-batch pick: lowest ``doc_id`` row per fingerprint."""
    return batch.sort_values("doc_id", kind="stable").drop_duplicates("fingerprint")


def _event_ms(batch: pd.DataFrame, ts_col: str) -> pd.Series:
    """Event times as epoch ms. Arrow delivers tz-naive datetimes in the
    session zone, so this is exact only under the UTC session the event
    cells enforce; datetime64[us] deliveries are upcast to ns first."""
    ts = pd.to_datetime(batch[ts_col]).astype("datetime64[ns]")
    return ts.astype("int64") // 1_000_000


def _horizon(
    members: dict[str, int],
    batch: pd.DataFrame | None,
    ttl_ms: int,
    wm: int,
    ts_col: str,
) -> tuple[dict[str, int], pd.DataFrame | None]:
    """The event-horizon step of the key and shard cells. ``members``
    maps fingerprint -> max event ms seen. Members whose horizon the
    watermark has passed are dropped first; batch fingerprints not
    among the survivors are fresh; every batch fingerprint's entry
    becomes the max event time ever seen, so a late-but-valid row
    never shrinks a horizon. Returns (live members, fresh rows)."""
    live = {f: t for f, t in members.items() if t + ttl_ms > wm}
    if batch is None:
        return live, None
    firsts = _first_rows(batch)
    fresh = firsts[~firsts["fingerprint"].isin(live)]
    ms = _event_ms(batch, ts_col).groupby(batch["fingerprint"], sort=False).max()
    for f, t in ms.items():
        # Plain str/int: numpy scalars poison the state pickle JVM-side.
        live[str(f)] = int(max(live.get(f, t), t))
    return live, fresh


def _bloom_state(state: GroupState) -> tuple:
    """The stored bloom fields after the slot-version check."""
    stored = state.get
    if stored[0] != _BLOOM_SLOT_VERSION:
        raise ValueError(
            f"bloom state written under slot derivation v{stored[0]}, "
            f"code is v{_BLOOM_SLOT_VERSION}: the persisted bits test "
            "different positions than this code sets — resuming would "
            "silently leak duplicates and inflate false positives. "
            "Start a fresh checkpoint."
        )
    return stored[1:]


def _bits(longs: list | None = None) -> np.ndarray:
    """A filter as uint64 words: the state's array<long> reinterpreted
    (not converted), or all zeros."""
    if longs is None:
        return np.zeros(BLOOM_BITS // 64, dtype=np.uint64)
    return np.array(longs, dtype=np.int64).view(np.uint64)


def _longs(bits: np.ndarray) -> list[int]:
    return bits.view(np.int64).tolist()


def _bloom_admit(
    batch: pd.DataFrame, member_bits: np.ndarray, insert_bits: np.ndarray
) -> pd.DataFrame:
    """First rows whose k slots are not all set in ``member_bits``; their
    slots are then OR'd into ``insert_bits`` in one scatter. All rows are
    tested against the filter as it stood before the batch, so a unique
    doc whose slots only other docs of the same batch cover is kept (a
    sequential insert would false-positive-drop it)."""
    firsts = _first_rows(batch)
    slots = np.stack(firsts["_slots"].to_numpy())  # (n, k)
    offs = (slots % 64).astype(np.uint64)
    seen = ((member_bits[slots // 64] >> offs) & np.uint64(1)).all(axis=1)
    np.bitwise_or.at(insert_bits, slots[~seen] // 64, np.uint64(1) << offs[~seen])
    return firsts[~seen]


# ---------------------------------------------------------------------------
# The cells' state functions.
# ---------------------------------------------------------------------------
@_state_fn
def _emit_key(key, batch, state, ttl_ms=None):
    """key × none / wall: a ``seen`` flag; under a wall-clock horizon
    every arrival, duplicate or not, refreshes the timeout."""
    fresh = None
    if not state.exists:
        if batch is None:
            return None
        state.update((1,))
        fresh = _first_rows(batch)
    if ttl_ms is not None:
        state.setTimeoutDuration(ttl_ms)
    return fresh


@_state_fn
def _emit_shard(key, batch, state):
    """shard × none: the shard's exact seen-set."""
    seen = list(state.get[0]) if state.exists else []
    fresh = None
    if batch is not None:
        firsts = _first_rows(batch)
        fresh = firsts[~firsts["fingerprint"].isin(set(seen))]
        seen += [str(f) for f in fresh["fingerprint"]]
    state.update((seen,))
    return fresh


@_state_fn
def _emit_event(key, batch, state, ttl_ms, ts_col, shard=False):
    """key / shard × event: the members' horizons. The registered
    timeout is the last member's horizon, so an unvisited shard drops
    once its whole seen-set is dead. Every live horizon is past the
    watermark, and the engine drops rows at or below it before this
    function, so the timeout is always settable."""
    members = {}
    if state.exists:
        members = dict(zip(*state.get)) if shard else {key[0]: state.get[1]}
    live, fresh = _horizon(
        members, batch, ttl_ms, state.getCurrentWatermarkMs(), ts_col
    )
    if not live:
        state.remove()
        return None
    last = max(live.values())
    state.update((list(live), list(live.values())) if shard else (1, last))
    state.setTimeoutTimestamp(last + ttl_ms)
    return fresh


@_state_fn
def _emit_bloom(key, batch, state):
    """bloom × none: one fixed-size filter per shard."""
    bits = _bits(_bloom_state(state)[0] if state.exists else None)
    kept = None if batch is None else _bloom_admit(batch, bits, bits)
    state.update((_BLOOM_SLOT_VERSION, _longs(bits)))
    return kept


@_state_fn
def _emit_bloom_event(key, batch, state, ttl_ms, ts_col):
    """bloom × event: bloom bits are not attributable to members, so the
    horizon is the classic two-generation rotation — membership is
    current OR previous, inserts go to current, and when the watermark
    crosses a band boundary previous is dropped and current becomes
    previous. A wholly idle shard drops at the end of its second band."""
    wm = state.getCurrentWatermarkMs()
    if state.exists:
        gen_start, cur, prev = _bloom_state(state)
        cur, prev = _bits(cur), _bits(prev)
        if wm >= gen_start + 2 * ttl_ms:
            # Both generations predate the horizon: re-anchor at wm.
            gen_start, cur, prev = wm // ttl_ms * ttl_ms, _bits(), _bits()
        elif wm >= gen_start + ttl_ms:
            gen_start, cur, prev = gen_start + ttl_ms, _bits(), cur
    elif batch is None:
        return None
    else:
        # The watermark lags one batch (0 on the first), so a fresh shard
        # anchors on the later of it and the batch's own max event time;
        # a lagging anchor would register a timeout the next watermark
        # advance fires at once, wiping the filter.
        anchor = max(wm, int(_event_ms(batch, ts_col).max()))
        gen_start, cur, prev = anchor // ttl_ms * ttl_ms, _bits(), _bits()
    kept = None if batch is None else _bloom_admit(batch, cur | prev, cur)
    state.update((_BLOOM_SLOT_VERSION, int(gen_start), _longs(cur), _longs(prev)))
    state.setTimeoutTimestamp(gen_start + 2 * ttl_ms)
    return kept


def _schema(*fields: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(name, dtype) for name, dtype in fields])


_INT, _LONG = T.IntegerType(), T.LongType()
_LONGS = T.ArrayType(_LONG)
_NONE = GroupStateTimeout.NoTimeout
_EVENT = GroupStateTimeout.EventTimeTimeout
# (layout, horizon) -> (state function, state schema, timeout conf). The
# schemas are the persisted checkpoint format: changing one orphans
# every existing checkpoint of that cell.
_CELLS = {
    ("key", None): (_emit_key, _schema(("seen", _INT)), _NONE),
    ("key", "wall"): (
        _emit_key,
        _schema(("seen", _INT)),
        GroupStateTimeout.ProcessingTimeTimeout,
    ),
    ("key", "event"): (
        _emit_event,
        _schema(("seen", _INT), ("last_ms", _LONG)),
        _EVENT,
    ),
    ("shard", None): (
        _emit_shard,
        _schema(("fps", T.ArrayType(T.StringType()))),
        _NONE,
    ),
    ("shard", "event"): (
        functools.partial(_emit_event, shard=True),
        _schema(("fps", T.ArrayType(T.StringType())), ("lasts", _LONGS)),
        _EVENT,
    ),
    ("bloom", None): (
        _emit_bloom,
        _schema(("slot_version", _INT), ("bits", _LONGS)),
        _NONE,
    ),
    ("bloom", "event"): (
        _emit_bloom_event,
        _schema(
            ("slot_version", _INT),
            ("gen_start_ms", _LONG),
            ("bits_cur", _LONGS),
            ("bits_prev", _LONGS),
        ),
        _EVENT,
    ),
}


def dedup_stream(
    doc_stream: DataFrame,
    layout: str = "key",
    *,
    n_shards: int = 64,
    ttl_seconds: int | None = None,
    ttl_event_seconds: int | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact dedup of ``(doc_id, text[, ts_col])`` rows: one
    ``(doc_id, text, fingerprint)`` row per fingerprint not seen before
    (within the horizon, if any). ``layout`` is ``"key"``, ``"shard"``
    or ``"bloom"``; ``n_shards`` sizes the last two. At most one of
    ``ttl_seconds`` (wall clock, key layout only) and
    ``ttl_event_seconds`` (watermark over ``ts_col``) sets a horizon.
    See the module docstring for what each cell keeps and guarantees."""
    wall, event = ttl_seconds is not None, ttl_event_seconds is not None
    if wall and (layout != "key" or event):
        raise ValueError(
            "ttl_seconds (wall-clock horizon) needs layout='key' and no "
            "ttl_event_seconds"
        )
    horizon = "wall" if wall else "event" if event else None
    if (layout, horizon) not in _CELLS:
        raise ValueError(f"unknown dedup layout {layout!r}")
    state_fn, state_schema, timeout = _CELLS[(layout, horizon)]
    if event:
        from ._cohort import require_utc_session

        require_utc_session(doc_stream.sparkSession)

    fingerprint = content_fingerprint("text").alias("fingerprint")
    df = doc_stream.select("doc_id", "text", *([ts_col] if event else []), fingerprint)
    if wall:
        state_fn = functools.partial(state_fn, ttl_ms=ttl_seconds * 1000)
    elif event:
        df = df.withWatermark(ts_col, "0 seconds")
        state_fn = functools.partial(
            state_fn, ttl_ms=ttl_event_seconds * 1000, ts_col=ts_col
        )
    group = "fingerprint"
    if layout != "key":
        group = "_shard"
        df = df.withColumn(group, F.abs(F.xxhash64("fingerprint")) % n_shards)
    if layout == "bloom":
        df = df.withColumn("_slots", bloom_slot_array(F.col("fingerprint")))
    return df.groupBy(group).applyInPandasWithState(
        state_fn,
        outputStructType=_OUT_SCHEMA,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=timeout,
    )


def dedup_stream_watermarked(
    doc_stream: DataFrame, ts_col: str, delay: str = "1 hour"
) -> DataFrame:
    """The BUILT-IN horizon-bounded dedup, for streams that carry an
    event-time column: ``withWatermark(ts) + dropDuplicatesWithinWatermark``
    — state for a fingerprint is evicted once the watermark passes its
    event time + delay, entirely JVM-side (no Python state function at
    all; prefer this whenever the data has event time). ``dedup_stream``
    exists for what it can't express: dedup on CONTENT irrespective of
    time, sharded or bloom-bounded state, min-doc_id in-batch selection,
    and emit-once "first ever seen" semantics rather than "no duplicate
    within the watermark delay"."""
    return (
        doc_stream.withColumn("fingerprint", content_fingerprint("text"))
        .withWatermark(ts_col, delay)
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )


def run_dedup_stream(
    spark: Any,
    landing_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    timeout_s: int = 300,
    max_files_per_trigger: int | None = None,
    shuffle_partitions: int | None = None,
    n_shards: int = 64,
    ttl_seconds: int | None = None,
    ttl_event_seconds: int | None = None,
    checkpoint_file_checksum: bool | None = None,
    layout: str = "key",
) -> None:
    """Drain a landing dir of docs JSONL (``doc_id``, ``text``, plus
    ``ts`` under ``ttl_event_seconds``) through ``dedup_stream`` into
    parquet (availableNow; re-runs resume the state). ``layout``,
    ``n_shards``, ``ttl_seconds`` and ``ttl_event_seconds`` pick the
    cell. Each micro-batch overwrites its own ``batch_id=N`` subtree, so
    checkpoint retries are idempotent (a bare append would double-emit
    on retry).

    ``max_files_per_trigger`` bounds each micro-batch's file intake —
    availableNow honours source read limits, so 1 over an N-file
    landing dir forces N micro-batches and exercises CROSS-batch state.

    ``shuffle_partitions`` and ``checkpoint_file_checksum`` are the
    drain's conf dials (``_drain.drain_confs``). The state partition
    count freezes at the first checkpoint, so size it to the expected
    distinct-key volume, not the session default: each micro-batch pays
    one state commit per partition. Turn the checksum off only for a
    scratch checkpoint rebuilt each run (each checkpoint file write
    otherwise spawns a ``.crc`` sibling); keep it for any checkpoint
    that outlives the run, where it detects torn files on restart."""
    fields = [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
    if ttl_event_seconds is not None:
        fields.append(T.StructField("ts", T.TimestampType()))
    reader = spark.readStream.schema(T.StructType(fields))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    deduped = dedup_stream(
        reader.json(landing_dir),
        layout,
        n_shards=n_shards,
        ttl_seconds=ttl_seconds,
        ttl_event_seconds=ttl_event_seconds,
    )
    # Horizon cells run state-cleanup batches: those must not litter the
    # sink with empty batches, and wall-clock ones never self-terminate,
    # so they drain until idle.
    any_ttl = ttl_seconds is not None or ttl_event_seconds is not None
    write_batch = make_pair_sink_writer(out_dir, None, skip_empty=any_ttl)
    with drain_confs(spark, shuffle_partitions, checkpoint_file_checksum):
        q = (
            deduped.writeStream.outputMode("update")
            .foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        drain_available_now(q, timeout_s, ttl=any_ttl)
