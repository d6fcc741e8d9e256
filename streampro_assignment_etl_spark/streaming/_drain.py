"""Shared availableNow drain for stateful streams.

Plain ``Trigger.AvailableNow`` queries terminate on their own once the
source drains — ``awaitTermination`` is enough. A query holding
``ProcessingTimeTimeout`` state does NOT: after the data drains it
loops "No new data but cleaning up state" batches forever, standing by
to service future timeouts. For those, drain-until-idle: once a
zero-input batch has run with no data available, the real data (and
every ALREADY-EXPIRED timeout — the engine services expired keys in
each batch, including the data batches) has been processed; stop the
query. Not-yet-expired timeouts are serviced by the next drain's
batches. The idle heuristic is deliberately conservative: under load
the engine can emit a zero-row batch BEFORE source listing finds new
files, so an idle report is only trusted after a data batch has run
(or a grace period passed).

The module also owns the two sides of the ``batch_id=N`` sink format:
the writer and the typed reader, plus the per-drain conf dials.
"""

from __future__ import annotations

import time
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_CHECKPOINT_CRC = "spark.sql.streaming.checkpoint.fileChecksum.enabled"


@contextmanager
def drain_confs(
    spark,
    shuffle_partitions: int | None = None,
    checkpoint_file_checksum: bool | None = None,
) -> Iterator[None]:
    """Set a drain's conf dials for the body and restore them after,
    also when the body raises. A dial left None is neither read nor
    set, so the Spark-4.1-only checkpoint-checksum key is never touched
    unless a caller asks for it. A conf that was unset before is unset
    again, not pinned to the value it read as.

    ``shuffle_partitions`` is the STATE partition count of a stream
    starting from a fresh checkpoint (frozen there; existing
    checkpoints ignore it). ``checkpoint_file_checksum=False`` drops the
    ``.crc`` sibling of every checkpoint file write, which is right only
    for a scratch checkpoint rebuilt each run. Both assume one query per
    session at a time."""
    dials = {}
    if shuffle_partitions is not None:
        dials["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if checkpoint_file_checksum is not None:
        dials[_CHECKPOINT_CRC] = str(checkpoint_file_checksum).lower()
    saved = {key: spark.conf.get(key, None) for key in dials}
    try:
        for key, value in dials.items():
            spark.conf.set(key, value)
        yield
    finally:
        for key, value in saved.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)


def read_batch_sink(spark, out_dir: str) -> DataFrame:
    """Read a ``batch_id=N``-partitioned foreachBatch sink with
    ``batch_id`` as a long. The package session turns partition type
    inference off, so the column would read as a string and rank batch
    9 above batch 10."""
    return (
        spark.read.option("basePath", out_dir)
        .parquet(out_dir)
        .withColumn("batch_id", F.col("batch_id").cast("long"))
    )


def make_pair_sink_writer(
    out_dir: str, keys: list[str] | None = None, *, skip_empty: bool
):
    """foreachBatch writer of the ``batch_id=N`` sinks (the stateful-dedup
    streams and ``run_stream_to_parquet``): batch-local dropDuplicates on ``keys`` when given (a near-dup pair
    can surface through several shared buckets, always in its second
    item's ONE arrival batch, so this makes pair output exactly-once;
    the exact-dedup streams emit unique rows already and pass None) +
    batch_id-keyed overwrite (idempotent under checkpoint retry).
    ``skip_empty`` is the TTL-mode policy — zero-row state-cleanup
    batches must not litter the sink; the frame is persisted around the
    two actions (emptiness probe + write) because a foreachBatch plan
    re-executes per action and the probe must not run the stateful
    operator twice."""

    def write_batch(batch_df, batch_id: int) -> None:
        out = batch_df.dropDuplicates(keys) if keys else batch_df
        if not skip_empty:
            out.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")
            return
        out.persist()
        try:
            if not out.isEmpty():
                out.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")
        finally:
            out.unpersist()

    return write_batch


def drain_available_now(q, timeout_s: int, *, ttl: bool) -> None:
    """Block until the availableNow query ``q`` finishes its drain.
    ``ttl=False`` → plain awaitTermination; ``ttl=True`` → the
    drain-until-idle loop above, then stop."""
    if not ttl:
        if not q.awaitTermination(timeout_s):
            # Timed out: stop the query before the caller's finally
            # restores session confs (shuffle_partitions / checkpoint
            # checksum dials), so a still-running drain never sees
            # them flip back mid-flight.
            q.stop()
            q.awaitTermination(timeout_s)
        return
    start = time.time()
    deadline = start + timeout_s
    seen_data = False
    while time.time() < deadline:
        if not q.isActive:
            break  # query died — surface its exception NOW, not at deadline
        lp = q.lastProgress
        if lp is not None and lp["numInputRows"] > 0:
            seen_data = True
        idle = (
            lp is not None
            and lp["numInputRows"] == 0
            and not q.status["isDataAvailable"]
        )
        if idle and (seen_data or time.time() - start > 10):
            break
        time.sleep(0.2)
    q.stop()
    q.awaitTermination(timeout_s)
