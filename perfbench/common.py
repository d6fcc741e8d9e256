"""Run harness shared by the workloads: scratch root, Spark lifecycle,
op records, statistics and the result line.

A run is one process: one client (the main thread) and, for ``feed``
only, one generator thread. Everything it writes goes under a per-run
scratch root inside the checkout, removed when the run ends; the one
file that outlives a run is the traced run's span dump, overwritten by
the next traced run of the same workload.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass, field

from .gen import SIZES
from .trace import StageRollup, Tracer, rollup_means

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(CHECKOUT, ".perfbench_out")

# Three of the six curation queries the workload was specified with:
# dedup_fuzzy_minhash's MinHash-LSH pair path also runs inside
# dedup_clusters; similarity_ann_ivfpq_index builds its index once per
# session and then serves the IVF path similarity_ann_ivf already times;
# similarity_topk_cosine is the brute-force baseline, one broadcast
# cross join. Each would add ~2-6 s of cold warm-up and ~1-2 s per timed
# cycle to a run, which the benchmark's run budget does not hold.
CURATION_QUERIES = (
    "dedup_clusters",
    "similarity_ann_ivf",
    "embedding_near_dup_cells",
)


# Every per-layer metric with its unit, as BENCHMARK.json lists them;
# every workload's traced run reports all of them, and a layer the
# workload never calls reads 0 (that workload is its control).
with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as _f:
    UNITS = {m["name"]: m["unit"] for m in json.load(_f)["per_layer"]}


def p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[int | None, float | None]:
    """The highest whole percentile with at least ten samples above it,
    and its nearest-rank value; (None, None) when there are too few."""
    n = len(xs)
    if n <= 10:
        return None, None
    pct = math.floor(100 * (n - 10) / n)
    rank = max(1, math.ceil(pct / 100 * n))
    return pct, sorted(xs)[rank - 1]


def _vmhwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


@dataclass
class Op:
    name: str
    latency_s: float
    ok: bool
    traced: bool
    parts: dict = field(default_factory=dict)  # layer timings of a traced op


class Run:
    """One benchmark run: owns the scratch root, the Spark session, the
    tracer and the op records."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, size: str = "full"):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.sizes = SIZES[size]
        self.root = os.path.join(CHECKOUT, ".perfbench_run", f"{workload}-{os.getpid()}")
        os.makedirs(self.root)
        self.tracer = Tracer(trace)
        self.ops: list[Op] = []
        self.layer: dict[str, float] = {k: 0.0 for k in UNITS}
        self.rollups: list[dict] = []
        self.checks_attempted = 0
        self.check_failures: list[str] = []
        self.setup_s = 0.0
        self.window_s = 0.0
        self.rows = 0
        # Set by feed, whose throughput is the burst drain's, not the window's.
        self.burst_rows_per_s: float | None = None
        self.extra: dict = {}  # workload-specific fields of the detail line
        self.spark = None
        self._proc = None
        self.rollup: StageRollup | None = None
        self.rss_mb: dict[str, float] = {}  # VmHWM of the driver and its JVM

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    # -- Spark lifecycle -----------------------------------------------
    def start_spark(self) -> float:
        """Start the session at local[<cpus this process may use>] with
        every scratch location (shuffle, JVM and Python temp files)
        inside the run root; ``-XX:-UsePerfData`` stops the launcher and
        driver JVMs writing their counters files under /tmp. Returns the
        seconds ``get_spark`` took."""
        from streampro_assignment_etl_spark.session import get_spark

        tmp = self.path("tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = None
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        )
        cpus = len(os.sched_getaffinity(0))
        t0 = time.perf_counter()
        with self.tracer.span("get_spark", "session"):
            self.spark = get_spark(f"perfbench-{self.workload}", cpus=cpus)
        start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self._proc = self.spark.sparkContext._gateway.proc
        if self.trace:
            self.rollup = StageRollup(self.spark)
        self.layer["session.start_s"] = start_s
        return start_s

    def stop_spark(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        if self.spark is None:
            return
        self.rss_mb = {"python": _vmhwm_kb("self") / 1024, "jvm": _vmhwm_kb(self._proc.pid) / 1024}
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        self._proc.stdin.close()
        try:
            self._proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a hung JVM must not outlive the run
            self._proc.kill()
            self._proc.wait(timeout=30)

    def take_rollup(self) -> None:
        if self.rollup is not None:
            with self.tracer.span("status_store", "bench"):
                self.rollups.append(self.rollup.take())

    def mark_rollup(self) -> None:
        """Forget jobs started so far (set-up and untraced work)."""
        if self.rollup is not None:
            self.rollup.last_job = self.rollup.max_job_id()

    # -- correctness -----------------------------------------------------
    def check(self, what: str, problems: list) -> None:
        """Record one correctness check; any problem fails it."""
        self.checks_attempted += 1
        if problems:
            self.check_failures.append(f"{what}: {'; '.join(map(str, problems[:3]))}")

    # -- result ----------------------------------------------------------
    def result(self) -> dict:
        timed = [o for o in self.ops if not o.traced] or self.ops
        lat = [o.latency_s for o in timed if o.ok]
        failed_ops = sum(not o.ok for o in self.ops)
        attempted = len(self.ops) + self.checks_attempted
        failed = failed_ops + len(self.check_failures)
        window = self.window_s or float("inf")
        e2e = {
            "setup_s": (self.setup_s, "s"),
            "op_p50_s": (p50(lat), "s"),
            "ops_per_s": (len(lat) / window, "1/s"),
            "rows_per_s": (self.burst_rows_per_s or self.rows / window, "1/s"),
        }
        pct, tail_v = tail(lat)
        detail = {
            "workload": self.workload,
            "seed": self.seed,
            "window_s": self.window_s,
            "ops": len(timed),
            "op_p50_s": p50(lat),
            "op_latencies_s": [[o.name, round(o.latency_s, 4)] for o in timed if o.ok],
            "op_tail_pct": pct,
            "op_tail_s": tail_v,
            "failed_ratio": failed / attempted if attempted else 0.0,
            "rss_mb": self.rss_mb,
            "check_failures": self.check_failures,
            **self.extra,
        }
        if self.trace:
            self.layer["session.peak_rss_mb"] = sum(self.rss_mb.values())
            self.layer.update(rollup_means(self.rollups))
            for layer, secs in self.tracer.self_times().items():
                key = f"{layer}.self_s"
                if key in self.layer:
                    self.layer[key] = secs
            metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in self.layer.items()}
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        return {
            "detail": detail,
            "final": {
                "correct": not self.check_failures and failed_ops == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            },
        }

    def cleanup(self) -> None:
        if self.trace:
            self.tracer.write(os.path.join(OUT_DIR, f"trace-{self.workload}.json"))
        shutil.rmtree(self.root, ignore_errors=True)
        parent = os.path.dirname(self.root)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def emit(res: dict) -> None:
    """Print the human-readable detail line, then the result line last."""
    print(json.dumps(res["detail"]), flush=True)
    print(json.dumps(res["final"]), flush=True)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
