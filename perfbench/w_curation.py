"""``curation``: closed loop, one client, three corpus-curation queries.

Each op builds one query through its registry builder and runs it to a
``noop`` sink; a cycle runs all three in an order drawn from the seed.
Only whole cycles are timed, so every query weighs the same in every
run. ``operators/`` (similarity, MinHash, connected components, the
Arrow/pandas workers) does most of the work here; ``pipeline`` and
``streaming`` do none.

Set-up: start the session, then one warm-up cycle that collects each
query's output and compares it with the query's DuckDB oracle (only the
Spark part is billed to set-up). At local[4] the cold cycle takes ~25
s, the next (the timed one) ~9-10 s, and the cycle only settles near
7.3 s after five or six cycles as the JIT compiles. Each extra warm-up
cycle would add ~10 s to every run, which the benchmark's run budget
does not hold, so every run's window sees the tail of that drift the
same way.
"""

from __future__ import annotations

import math
import time
import traceback
from collections import Counter

import duckdb
import numpy as np
import pandas as pd

from . import gen
from .common import CURATION_QUERIES, Op, Run, log, p50

# Seconds one warm cycle of the three queries takes at local[4] on a
# loaded host; the window runs the fewest whole cycles that cover
# --seconds at this pace. Fixed, not measured, so every run of a given
# --seconds times the same work.
NOMINAL_CYCLE_S = 8.0

TABLE_OF = {
    "dedup_clusters": "documents",
    "similarity_ann_ivf": "embeddings",
    "embedding_near_dup_cells": "embeddings",
}


def collect_output(df):
    """The query's result as pandas (the correctness check's input)."""
    return df.toPandas()


# The text-dedup oracle is all-pairs list SQL plus a recursive CTE that
# DuckDB needs ~15 s for at a few hundred documents; its expected frame
# is computed here instead, with the same semantics (word 3-gram sets,
# exact Jaccard rounded half away from zero, >= 0.8, components closed
# transitively). tests/test_perfbench.py pins it (and the pair list it
# is built from) equal to the DuckDB oracles on small inputs.
PY_ORACLES = ("dedup_clusters",)


def oracle_frames(data_dir: str, queries=CURATION_QUERIES) -> dict:
    from streampro_assignment_etl_spark.queries import REGISTRY

    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        out = {q: con.execute(REGISTRY[q].oracle).df() for q in queries if q not in PY_ORACLES}
        if "dedup_clusters" in queries:
            docs = con.execute("SELECT doc_id, text FROM documents").fetchall()
            out["dedup_clusters"] = clusters(jaccard_pairs(docs))
        return {q: out[q] for q in queries}
    finally:
        con.close()


def _round4(x: float) -> float:
    """SQL ROUND(x, 4) on a non-negative double: half away from zero."""
    v = x * 10000
    r = math.floor(v)
    return (r + (v - r >= 0.5)) / 10000


def jaccard_pairs(docs: list[tuple[int, str]], threshold: float = 0.8) -> pd.DataFrame:
    """(doc_a, doc_b, jaccard) for doc_a < doc_b with word-3-gram
    Jaccard >= threshold. Candidates come from prefix filtering: with
    shingles in one global order (rarest first), two sets with Jaccard
    >= t share a shingle among the first ``|S| - ceil(t|S|) + 1`` of
    each, so only those prefixes are indexed. ``t`` sits just below the
    threshold because the oracle compares the Jaccard rounded to four
    places."""
    sh = {}
    for doc_id, text in docs:
        w = text.split(" ")
        sh[doc_id] = {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}
    freq = Counter(g for s in sh.values() for g in s)
    t = threshold - 1e-4
    index: dict[str, list[int]] = {}
    cand = set()
    # Shortest sets first: a set can only match an earlier one at least
    # t times its size (Jaccard <= |small| / |large|).
    for doc_id, s in sorted(sh.items(), key=lambda kv: len(kv[1])):
        toks = sorted(s, key=lambda g: (freq[g], g))
        least = t * len(s)
        for g in toks[: len(toks) - math.ceil(least) + 1]:
            for other in index.setdefault(g, []):
                if len(sh[other]) >= least:
                    cand.add((min(other, doc_id), max(other, doc_id)))
            index[g].append(doc_id)
    rows = []
    for a, b in sorted(cand):
        j = _round4(len(sh[a] & sh[b]) / len(sh[a] | sh[b]))
        if j >= threshold:
            rows.append((a, b, j))
    return pd.DataFrame(rows, columns=["doc_a", "doc_b", "jaccard"]).astype(
        {"doc_a": "int64", "doc_b": "int64", "jaccard": "float64"}
    )


def clusters(pairs: pd.DataFrame) -> pd.DataFrame:
    """Connected components of the pair graph, one row per component:
    min member id, size, comma-joined ascending member ids."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pairs["doc_a"].tolist(), pairs["doc_b"].tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps: dict[int, list[int]] = {}
    for node in list(parent):
        comps.setdefault(find(node), []).append(node)
    rows = sorted(
        (min(m), len(m), ",".join(str(x) for x in sorted(m))) for m in comps.values()
    )
    return pd.DataFrame(rows, columns=["canonical_id", "cluster_size", "members"]).astype(
        {"canonical_id": "int64", "cluster_size": "int64", "members": "object"}
    )


def run(r: Run) -> None:
    from streampro_assignment_etl_spark.oracle import compare_frames
    from streampro_assignment_etl_spark.queries import REGISTRY, release_persisted

    data_dir = r.path("data")
    table_rows = gen.curation_tables(data_dir, r.seed, r.sizes)
    expected = oracle_frames(data_dir)
    order_rng = np.random.default_rng([r.seed, 7])

    def order() -> list[str]:
        return [CURATION_QUERIES[i] for i in order_rng.permutation(len(CURATION_QUERIES))]

    start_s = r.start_spark()
    spark = r.spark

    # -- warm-up: outputs vs oracle (Spark time only is set-up) ---------
    warm_s = 0.0
    with r.tracer.span("warmup", "session"):
        for q in order():
            t0 = time.perf_counter()
            try:
                pdf = collect_output(REGISTRY[q].builder(spark, data_dir))
            except Exception as exc:  # noqa: BLE001 - a failing query is a failed check
                warm_s += time.perf_counter() - t0
                r.check(q, [f"error: {exc!r}"[:300]])
                continue
            finally:
                release_persisted()
            warm_s += time.perf_counter() - t0
            r.check(q, compare_frames(q, pdf, expected[q]))
    log(f"curation set-up: start {start_s:.2f}s, warm-up {warm_s:.2f}s")
    r.layer["session.warmup_s"] = warm_s
    r.layer["session.warmup_cycles"] = 1
    r.setup_s = start_s + warm_s
    r.mark_rollup()

    # -- timed window: whole cycles ---------------------------------------
    n_cycles = max(1, math.ceil(r.seconds / NOMINAL_CYCLE_S))
    if r.trace:
        # Pairs of cycles over one query order. Ops alternate untraced
        # and traced, the second cycle of a pair the other way round, so
        # every query runs once each way and neither way always runs
        # first.
        n_cycles = 2 * max(1, n_cycles // 2)
    t_start = time.perf_counter()
    for c in range(n_cycles):
        if not r.trace or c % 2 == 0:
            cycle = order()
        for pos, q in enumerate(cycle):
            traced = r.trace and (pos + c) % 2 == 1
            r.ops.append(_one_op(r, REGISTRY[q].builder, q, data_dir, traced))
            r.rows += table_rows[TABLE_OF[q]] if r.ops[-1].ok else 0
            release_persisted()
    r.window_s = time.perf_counter() - t_start
    if r.trace:
        # Throughput of the untraced ops only; the traced ones pay for
        # their own instrumentation.
        untraced = [o for o in r.ops if not o.traced]
        r.window_s = sum(o.latency_s for o in untraced)
        r.rows = sum(table_rows[TABLE_OF[o.name]] for o in untraced if o.ok)
        _layer_metrics(r)


def _one_op(r: Run, builder, q: str, data_dir: str, traced: bool) -> Op:
    """One query: build, then run to the noop sink. A traced op also
    forces the executed plan first (Catalyst's share) and, after the
    latency is taken, reads the status store (its ``wall_s`` ends here,
    the cost tracing adds) and runs ``count()`` on the same frame."""
    spark = r.spark
    sc = spark.sparkContext
    tr = r.tracer if traced else None
    parts: dict[str, float] = {}
    r.tracer.new_op()
    t0 = time.perf_counter()
    try:
        if tr is None:
            df = builder(spark, data_dir)
            df.write.format("noop").mode("overwrite").save()
            return Op(q, time.perf_counter() - t0, True, False)
        r.mark_rollup()
        t0 = time.perf_counter()
        with tr.span(f"op:{q}", "bench"):
            sc.setJobGroup(f"build:{q}:{tr.op}", q)
            with tr.span(f"build:{q}", "queries"):
                df = builder(spark, data_dir)
            t1 = time.perf_counter()
            sc.setJobGroup(f"exec:{q}:{tr.op}", q)
            with tr.span(f"plan:{q}", "catalyst"):
                df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            with tr.span(f"noop:{q}", "exec"):
                df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
            latency = t3 - t0
            r.take_rollup()
            with tr.span("status_tracker", "bench"):
                parts["build_jobs"] = len(sc.statusTracker().getJobIdsForGroup(f"build:{q}:{tr.op}"))
            t4 = time.perf_counter()
            parts["wall_s"] = t4 - t0
            with tr.span(f"count:{q}", "exec"):
                df.count()
            count_s = time.perf_counter() - t4
        parts.update(build_s=t1 - t0, plan_s=t2 - t1, action_s=t3 - t2, count_s=count_s)
        return Op(q, latency, True, True, parts)
    except Exception:  # noqa: BLE001 - an op that raises is a failed op, the run goes on
        log(f"{q} failed:\n{traceback.format_exc()}")
        return Op(q, time.perf_counter() - t0, False, traced)
    finally:
        if tr is not None:
            sc.setJobGroup("perfbench", "perfbench")


def _layer_metrics(r: Run) -> None:
    traced = [o for o in r.ops if o.traced and o.ok]
    untraced = [o for o in r.ops if not o.traced and o.ok]
    L = r.layer
    L["queries.build_s"] = p50([o.parts["build_s"] for o in traced])
    L["queries.build_jobs"] = sum(o.parts["build_jobs"] for o in traced) / max(len(traced), 1)
    L["catalyst.plan_ms"] = 1000 * p50([o.parts["plan_s"] for o in traced])
    L["exec.action_s"] = p50([o.parts["action_s"] for o in traced])
    for q in CURATION_QUERIES:
        mine = [o for o in traced if o.name == q]
        L[f"queries.{q}.build_s"] = p50([o.parts["build_s"] for o in mine])
        L[f"exec.{q}.action_s"] = p50([o.parts["action_s"] for o in mine])
        L[f"exec.{q}.count_s"] = p50([o.parts["count_s"] for o in mine])
    L["trace.op_p50_s"] = p50([o.latency_s for o in traced])
    L["trace.untraced_op_p50_s"] = p50([o.latency_s for o in untraced])
    # Traced wall time (status-store reads in, the extra count() out)
    # over untraced latency, summed over the same queries.
    L["trace.overhead_ratio"] = (
        sum(o.parts["wall_s"] for o in traced) / max(sum(o.latency_s for o in untraced), 1e-9) - 1
    )
