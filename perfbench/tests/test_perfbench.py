"""Tests of the benchmark itself (not of the program it measures).

    python3 -m pytest perfbench/tests -q

The smoke tests start one Spark session per run (~30-45 s each at
tiny size); the rest need no Spark.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import duckdb
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, CHECKOUT)

from perfbench import common, gen, w_curation  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


# -- pure helpers ---------------------------------------------------------
def test_tail_needs_ten_samples_beyond():
    assert common.tail(list(range(10))) == (None, None)
    pct, value = common.tail([float(x) for x in range(1, 101)])
    assert pct == 90 and value == 90.0  # ten samples (91..100) above it
    pct, value = common.tail([float(x) for x in range(1, 21)])
    assert pct == 50 and value == 10.0


def test_self_time_subtracts_children():
    tr = Tracer(True)
    with tr.span("op", "bench"):
        with tr.span("build", "queries"):
            pass
        with tr.span("noop", "exec"):
            pass
    spans = {s["name"]: s for s in tr.spans}
    self_s = tr.self_times()
    op = spans["op"]["end"] - spans["op"]["start"]
    kids = sum(spans[n]["end"] - spans[n]["start"] for n in ("build", "noop"))
    assert self_s["bench"] == pytest.approx(op - kids)
    assert set(self_s) == {"bench", "queries", "exec"}
    assert all(s["parent"] == spans["op"]["id"] for s in tr.spans[1:])


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("op", "bench"):
        pass
    assert tr.spans == [] and tr.self_times() == {}


def test_generators_are_seeded(tmp_path):
    a = gen.ingest_days(str(tmp_path / "a"), 5, gen.SIZES["tiny"], 2)
    b = gen.ingest_days(str(tmp_path / "b"), 5, gen.SIZES["tiny"], 2)
    for da, db in zip(a, b):
        assert da.date == db.date and da.value_tenths == db.value_tenths
        for fa, fb in zip(da.files, db.files):
            assert open(fa).read() == open(fb).read()
    assert not any(p.endswith(".tmp") for p in os.listdir(tmp_path / "a" / a[0].date))


def test_expected_first_seen_keeps_lowest_id_per_fingerprint(tmp_path):
    feed = gen.feed_files(str(tmp_path), 3, gen.SIZES["tiny"], 4)
    keep = gen.expected_first_seen(feed, 4)
    by_key: dict[str, int] = {}
    for doc_id in sorted(feed.texts):
        by_key.setdefault(gen.fingerprint_key(feed.texts[doc_id]), doc_id)
    assert keep == set(by_key.values())
    assert len(feed.texts) - len(keep) == sum(feed.planted)


@pytest.mark.parametrize("seed", [1, 2])
def test_python_dedup_oracle_matches_duckdb(tmp_path, seed):
    """The in-process text-dedup oracle equals the registry's DuckDB
    oracle SQL on inputs small enough for DuckDB's all-pairs plan."""
    from streampro_assignment_etl_spark.oracle import compare_frames
    from streampro_assignment_etl_spark.queries import REGISTRY

    sizes = gen.Sizes(150, 150, 64, 0, 0, 0, 0, 0)
    gen.curation_tables(str(tmp_path), seed, sizes)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet')")
    docs = con.execute("SELECT doc_id, text FROM documents").fetchall()
    pairs = w_curation.jaccard_pairs(docs)
    assert len(pairs) > 0
    assert compare_frames("pairs", pairs, con.execute(REGISTRY["dedup_fuzzy_minhash"].oracle).df()) == []
    want = con.execute(REGISTRY["dedup_clusters"].oracle).df()
    assert compare_frames("dedup_clusters", w_curation.clusters(pairs), want) == []


def test_spec_lists_every_workload():
    from perfbench import run

    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)


# -- runs -------------------------------------------------------------------
def _run(workload: str, trace: int, code: str | None = None) -> tuple[dict, dict]:
    args = ["--workload", workload, "--seed", "3", "--seconds", "1",
            "--trace", str(trace), "--size", "tiny"]
    cmd = [sys.executable, "perfbench/run.py", *args]
    if code is not None:
        cmd = [sys.executable, "-c", code, *args]
    p = subprocess.run(cmd, cwd=CHECKOUT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize("workload", ["curation", "ingest", "feed"])
def test_smoke_untraced(workload):
    detail, res = _run(workload, 0)
    assert res["correct"] is True and res["failed"] == 0, detail["check_failures"]
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())
    assert not os.path.exists(os.path.join(CHECKOUT, ".perfbench_run"))


def test_smoke_traced_feed():
    _, res = _run("feed", 1)
    assert res["correct"] is True
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert list(m) == [x["name"] for x in SPEC["per_layer"]]
    assert m["streaming.events_drain_s"] > 0 and m["streaming.dup_drop_ratio"] == 1.0
    assert m["queries.build_s"] == 0 and m["pipeline.raw_to_trusted_s"] == 0
    assert os.path.exists(os.path.join(CHECKOUT, ".perfbench_out", "trace-feed.json"))


def test_gate_catches_one_dropped_row():
    """Plant a wrong answer: every query result loses its first row
    before the oracle comparison. The run must report it."""
    code = (
        "import sys; sys.argv[0] = 'perfbench/run.py'; sys.path.insert(0, '.')\n"
        "from perfbench import run, w_curation\n"
        "orig = w_curation.collect_output\n"
        "w_curation.collect_output = lambda df: orig(df).iloc[1:]\n"
        "sys.exit(run.main(sys.argv[1:]))\n"
    )
    detail, res = _run("curation", 0, code)
    assert res["correct"] is False
    assert res["failed"] == len(common.CURATION_QUERIES)
    assert all("rowcount" in f for f in detail["check_failures"])
