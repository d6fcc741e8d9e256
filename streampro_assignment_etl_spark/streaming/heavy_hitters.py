"""Streaming heavy hitters: sharded Misra-Gries summaries in state.

The streaming twin of ``functions/approx.heavy_hitters_exact``
(trending terms over an unbounded stream): terms hash-partition into
shards, each shard keeps ONE Misra-Gries summary (k counters) in the
state store, and every micro-batch folds its arrivals in and emits the
shard's refreshed candidate set. Because a term's occurrences all land
in its own shard, the MG survivor guarantee applies per shard against
shard mass only: any term whose TOTAL stream count exceeds
shard_rows/(k+1) — a fortiori anything above N/k globally — holds a
positive counter in its shard's final summary. State is bounded at
n_shards × k counters forever, independent of stream length or
vocabulary; exactness, when needed, comes from recounting the (tiny)
candidate set in batch — the same sketch-only-prunes design as the
batch operator.

Downstream reads take the LATEST summary per shard — use
``read_mg_sink`` (all rows of each shard's max batch_id). Do NOT use
``read_update_sink`` here — it keeps exactly ONE row per key, so
keying by shard would discard all but one term of the summary, and
keying by (shard, term) would keep stale rows for terms a later
summary dropped. ``read_update_sink`` assumes each key emits at most
one row per batch, which MG summaries violate.

Same vectorized MG core as ``approx.mg_candidates``: value_counts
merge + subtract-(k+1)th-largest trim, no per-row Python loop.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ._drain import read_batch_sink

MG_STATE_SCHEMA = T.StructType(
    [
        T.StructField("terms", T.ArrayType(T.StringType())),
        T.StructField("counts", T.ArrayType(T.LongType())),
    ]
)

_OUT_SCHEMA = "shard long, term string, est long"


def _make_mg_update(k: int):
    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            terms, counts = state.get
            s = pd.Series(counts, index=terms, dtype="float64")
        else:
            s = pd.Series(dtype="float64")
        for pdf in pdfs:
            s = s.add(pdf["term"].value_counts(), fill_value=0)
            if len(s) > k:
                s = s - s.nlargest(k + 1).iloc[-1]
                s = s[s > 0]
        state.update(
            ([str(t) for t in s.index], [int(c) for c in s.to_numpy()])
        )
        yield pd.DataFrame(
            {
                "shard": key[0],
                "term": s.index.astype(str),
                "est": s.to_numpy().astype("int64"),
            }
        )

    return update


def trending_terms_stream(
    term_stream: DataFrame, k: int = 100, n_shards: int = 8
) -> DataFrame:
    """(shard, term, est) per micro-batch: each shard's full refreshed
    MG summary. ``est`` underestimates the true count by at most the
    shard's row count / (k+1) and is 0-truncated — it ranks and prunes;
    exact values come from a batch recount of the candidates. NULL
    terms are ignored (same contract as ``heavy_hitters_exact``:
    pandas value_counts skips NaN)."""
    shard = F.abs(F.xxhash64("term")) % n_shards
    return (
        term_stream.withColumn("_shard", shard)
        .groupBy("_shard")
        .applyInPandasWithState(
            _make_mg_update(k),
            outputStructType=_OUT_SCHEMA,
            stateStructType=MG_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def read_mg_sink(spark, out_dir: str) -> DataFrame:
    """The CORRECT reader for a ``trending_terms_stream`` foreachBatch
    sink: each shard's LATEST full summary — all rows of the shard's max
    batch_id, terms a later summary dropped excluded. This is the
    multi-row-per-key winnow that ``read_update_sink`` cannot express
    (it keeps one row per key; see its contract note): rank whole
    BATCHES per shard, not rows per (shard, term).

    One shuffle on (shard): the same window shape as ``read_update_sink``
    but keyed a level higher."""
    from pyspark.sql.window import Window

    df = read_batch_sink(spark, out_dir)
    w = Window.partitionBy("shard")
    return (
        df.withColumn("_maxb", F.max("batch_id").over(w))
        .filter(F.col("batch_id") == F.col("_maxb"))
        .drop("_maxb")
    )
