"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload bi_dashboard --seed 1 --seconds 24 --trace 0

Checks every query of the workload once against its DuckDB oracle on
the fixed fixture tables in ``perfbench/data/sf0.01``, runs one
untimed warm-up pass, then runs the workload as a closed
loop of whole passes, as many as take about ``--seconds`` on a 4-core
machine; the seed shuffles the order of the queries in each pass. Prints one line
per metric with its unit and, as the last line, one JSON object
``{correct, attempted, failed, metrics}``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import random
import shutil
import sys
import tempfile
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict, dataclass
from pathlib import Path

import metrics

BENCH_DIR = Path(__file__).resolve().parent
REPO = BENCH_DIR.parent
PACKAGE = "data_engineer_8_final_project_spark"
RESULTS_DIR = BENCH_DIR / "results"

#: the engine's sf0.01 test fixtures (60k lineitem rows), copied verbatim
#: with their checksums. Larger scales stretch the cold checking pass,
#: which every run repeats, past the length of the timed region.
DATA_DIR = BENCH_DIR / "data" / "sf0.01"
DRIVER_MEMORY = "2g"
CORES = len(os.sched_getaffinity(0))


@dataclass(frozen=True)
class Workload:
    #: timed clients on one session; more than one also runs the checking
    #: pass with one client per core
    clients: int
    #: seconds one timed pass over the queries takes on the reference
    #: machine (4 cores); a run measures ``round(seconds / pass_s)`` passes
    pass_s: float
    queries: tuple[str, ...]

    def passes(self, seconds: float) -> int:
        return max(1, round(seconds / self.pass_s))


WORKLOADS = {
    # Short scan/join/aggregate star-schema queries under concurrency:
    # per-query driver overhead (catalog reload, planning, scheduling)
    # dominates; none of them sets session conf, so clients can share
    # one session. Half as many clients as cores: the JIT compiler keeps
    # one to two cores busy for the whole run, and with a client per
    # core the figures measured the contention between them. Eight of
    # the sixteen dashboard queries, so that a run fits six timed passes
    # after a short cold check.
    "bi_dashboard": Workload(
        clients=max(2, CORES // 2),
        pass_s=4.0,
        queries=(
            "standings",
            "pricing_summary",
            "shipping_priority",
            "returned_items",
            "top_customers_per_nation",
            "rollup_region_nation",
            "market_share_by_year",
            "revenue_trend_by_nation",
        ),
    ),
    # The batch curation pipeline and the streaming leg, one client.
    # Corpus curation exercises the operator layers (dedup, similarity,
    # clusters, text): eager stage_frame materializations, fixed-point
    # loops of many jobs, explode-heavy shuffles; the catalog path is
    # light. Event replay exercises the streaming execution layer: state
    # stores, checkpoint WAL commits, foreachBatch parquet sinks,
    # micro-batch scheduling and applyInPandasWithState Python workers.
    # One client only: the availableNow drains set session-wide
    # spark.sql.shuffle.partitions. curation_pipeline is left out: it
    # took a third of a pass and spread the most from run to run.
    "curation_replay": Workload(
        clients=1,
        pass_s=5.0,
        queries=(
            "dup_clusters",
            "doc_repetition_scores",
            "user_totals_stateful",
        ),
    ),
}


@dataclass
class Outcome:
    name: str
    latency_s: float
    error: str | None = None
    traced: bool = False
    pass_index: int = 0
    end: float = 0.0  # perf_counter() at completion


def _attempt(name: str, call, traced: bool = False, pass_index: int = 0) -> Outcome:
    """Run one query call; an exception is a failed outcome, not a crash."""
    start = time.perf_counter()
    try:
        error = call()
    except Exception as exc:  # noqa: BLE001 - the loop must go on; reported as failed
        traceback.print_exc(file=sys.stderr)
        error = f"error: {exc!r}"[:500]
    end = time.perf_counter()
    return Outcome(name, end - start, error, traced, pass_index, end)


class Schedule:
    """The closed loop's query source: ``passes`` whole passes over the
    workload, each in an order shuffled by the seed. Every run of a
    workload measures the same number of passes of the same query mix,
    so runs stop at the same point of the JVM's warm-up curve."""

    def __init__(self, queries, rng: random.Random, passes: int):
        self.queries, self.rng, self.passes = list(queries), rng, passes
        self._issued = 0
        self._pending: list[str] = []
        self._lock = threading.Lock()

    def next(self) -> tuple[int, str] | None:
        """``(pass index, query name)``, or None when the loop is done."""
        with self._lock:
            if not self._pending:
                if self._issued == self.passes:
                    return None
                self._pending = self.rng.sample(self.queries, len(self.queries))
                self._issued += 1
            return self._issued - 1, self._pending.pop()


def _closed_loop(pool: ThreadPoolExecutor, clients: int, schedule: Schedule, execute):
    """``clients`` threads each issue the schedule's next query as soon
    as their previous one finishes; returns the outcomes, the first
    issue time and the last completion time."""

    def client() -> list[Outcome]:
        done = []
        while (item := schedule.next()) is not None:
            done.append(execute(*item))
        return done

    start = time.perf_counter()
    futures = [pool.submit(client) for _ in range(clients)]
    outcomes = [o for f in futures for o in f.result()]
    return outcomes, start, time.perf_counter()


def _isolate(run_dir: Path) -> dict[str, str]:
    """Point every scratch location of this process, the JVM and its
    Python workers into ``run_dir``; returns the extra Spark conf."""
    tmp, local = run_dir / "tmp", run_dir / "spark-local"
    tmp.mkdir()
    local.mkdir()
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    # the short-lived JVM that spark-submit starts to build the driver's
    # command line; without these it writes hsperfdata under the system /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Python workers (applyInPandasWithState, Python UDFs) import the engine
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO), os.environ.get("PYTHONPATH")) if p
    )
    tempfile.tempdir = None
    sys.path.insert(0, str(REPO))
    os.chdir(run_dir)  # stray relative writes (derby.log, metastore) land here
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        # no hsperfdata file under the system /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the tracer reads every job and stage of the timed region back
        # from the status store; keep them all (a run makes a few thousand)
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
    }


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def _stop(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)


def run(workload_name: str, seed: int, seconds: float, trace: bool, run_dir: Path) -> dict:
    workload = WORKLOADS[workload_name]
    clients = workload.clients
    check_clients = CORES if clients > 1 else 1
    conf = _isolate(run_dir)
    data = str(DATA_DIR)

    import pyspark

    from data_engineer_8_final_project_spark import catalog, parity, session
    from data_engineer_8_final_project_spark.registry import all_queries

    registry = all_queries()
    queries = {name: registry[name] for name in workload.queries}
    oracles = {name: parity.run_oracle(data, q.oracle) for name, q in queries.items()}
    rng = random.Random(seed)

    def check(_pass: int, name: str) -> Outcome:
        def call():
            res = parity.compare(queries[name].fn(spark, data), oracles[name])
            return None if res.ok else f"mismatch: {res.detail}"

        return _attempt(name, call)

    def plain(pass_index: int, name: str) -> Outcome:
        def call():
            queries[name].fn(spark, data).write.format("noop").mode("overwrite").save()

        return _attempt(name, call, pass_index=pass_index)

    t0 = time.perf_counter()
    spark = session.get_spark(app_name=f"perfbench-{workload_name}", cpus=CORES, extra_conf=conf)
    session_start_s = time.perf_counter() - t0
    pool = ThreadPoolExecutor(max_workers=check_clients)
    tracer = None
    try:
        catalog.load(spark, data)
        checks, _, _ = _closed_loop(pool, check_clients, Schedule(workload.queries, rng, 1), check)
        # one untimed pass more, part of set-up: the JIT compiler keeps
        # speeding the queries up for over a minute, and timed passes
        # taken earlier on that curve spread more
        warm, _, _ = _closed_loop(pool, check_clients, Schedule(workload.queries, rng, 1), plain)
        setup_s = time.perf_counter() - t0

        execute = plain
        if trace:
            from tracing import Tracer

            tracer = Tracer(spark, by_group=clients > 1)
            tracer.install()
            query_ids = itertools.count()

            # passes alternate traced and untraced, so the tracing overhead
            # is measured inside the same session; the seed's parity picks
            # which side goes first, so over seeds the warm-up gains of
            # later passes fall on both sides alike
            def execute(pass_index: int, name: str) -> Outcome:
                if (pass_index + seed) % 2:
                    return plain(pass_index, name)
                fn = queries[name].fn
                return _attempt(
                    name, lambda: tracer.run_query(next(query_ids), fn, data), True, pass_index
                )

        passes = workload.passes(seconds)
        schedule = Schedule(workload.queries, rng, passes)
        first_stage = tracer.next_stage_id() if tracer else 0
        timed, start, end = _closed_loop(pool, clients, schedule, execute)
        task_s = tracer.task_run_s(first_stage, tracer.next_stage_id()) if tracer else 0.0
        jvm_peak_rss_mb = _jvm_peak_rss_mb(spark)
    finally:
        if tracer is not None:
            tracer.uninstall()
        pool.shutdown(wait=True)
        _stop(spark)

    untraced = [o for o in timed if o.error is None and not o.traced]
    traced = [o for o in timed if o.error is None and o.traced]
    ok = [o.latency_s for o in untraced]
    lat = metrics.latency_summary(ok) if ok else {"p50": 0.0, "p90": 0.0, "n": 0, "above_p90": 0}
    attempted = len(checks) + len(warm) + len(timed)
    failed = sum(o.error is not None for o in checks + warm + timed)
    mismatches = sum((o.error or "").startswith("mismatch") for o in checks)
    # completions per second of timed wall, in blocks of one pass's worth
    # of completions; the median block leaves out a stall of the shared
    # host that hits one block of the run
    ends = [o.end for o in timed if o.error is None]
    block = len(workload.queries)
    rate = metrics.block_rate(ends, start, block) if len(ends) >= block else 0.0
    end_to_end = {
        "setup_s": (setup_s, "s"),
        "queries_per_s": (rate, "1/s"),
        "latency_p50_s": (lat["p50"], "s"),
    }
    per_layer = None
    if tracer is not None:
        per_layer = {
            "session.start_s": (session_start_s, "s"),
            "session.jvm_peak_rss_mb": (jvm_peak_rss_mb, "MB"),
            **tracer.layer_metrics(),
            "spark.core_busy_ratio": (metrics.core_busy_ratio(task_s, end - start, CORES), "ratio"),
            "parity.mismatches": (float(mismatches), "count"),
            "failed_ratio": (failed / attempted, "ratio"),
            # the end-to-end metrics of this traced run (half its passes
            # traced), to set beside the untraced run of the same seed
            "trace.queries_per_s": (rate, "1/s"),
            "trace.latency_p50_s": (
                metrics.quantile([o.latency_s for o in traced], 0.5) if traced else 0.0,
                "s",
            ),
            "trace.overhead_ratio": (
                metrics.overhead_ratio(
                    [(o.name, o.latency_s) for o in traced],
                    [(o.name, o.latency_s) for o in untraced],
                ),
                "ratio",
            ),
            "trace.missing_stages": (float(tracer.missing_stages), "count"),
        }
        _write_spans(workload_name, tracer.spans)
    return {
        "env": {
            "workload": workload_name,
            "seed": seed,
            "trace": int(trace),
            "cores": CORES,
            "clients": clients,
            "driver_memory": DRIVER_MEMORY,
            "data": str(DATA_DIR.relative_to(REPO)),
            "spark_version": pyspark.__version__,
            "seconds": seconds,
        },
        "attempted": attempted,
        "failed": failed,
        "latency_samples": lat,
        "passes": passes,
        "checks": [asdict(o) for o in checks],
        "warm": [asdict(o) for o in warm],
        "timed": [asdict(o) for o in timed],
        "end_to_end": end_to_end,
        "per_layer": per_layer,
    }


def _write_spans(workload_name: str, spans) -> None:
    RESULTS_DIR.mkdir(exist_ok=True)
    with open(RESULTS_DIR / f"{workload_name}-spans.jsonl", "w") as f:
        for s in spans:
            f.write(json.dumps(asdict(s)) + "\n")


def _report(result: dict) -> None:
    env = result["env"]
    print("perfbench " + " ".join(f"{k}={v}" for k, v in env.items()))
    lat = result["latency_samples"]
    print(
        f"  latency samples n={lat['n']} over {result['passes']} passes; "
        f"p90 {lat['p90']:.4f} s with {lat['above_p90']} samples above it"
    )
    checks = result["checks"]
    bad = [c for c in checks if c["error"]]
    print(f"  output check: {len(checks) - len(bad)}/{len(checks)} queries match their oracle")
    for c in bad + [o for o in result["warm"] + result["timed"] if o["error"]]:
        print(f"  FAILED {c['name']}: {c['error']}")
    print(
        f"  failed_ratio {result['failed']}/{result['attempted']} = "
        f"{result['failed'] / result['attempted']:.4f}"
    )
    shown = result["per_layer"] if env["trace"] else result["end_to_end"]
    for name, (value, unit) in shown.items():
        print(f"  {name:32s} {value:14.6g} {unit}")
    RESULTS_DIR.mkdir(exist_ok=True)
    with open(RESULTS_DIR / f"{env['workload']}-trace{env['trace']}.json", "w") as f:
        json.dump(result, f, indent=1)
    print(
        json.dumps(
            {
                "correct": result["failed"] == 0,
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
            }
        )
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (REPO / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: engine package {PACKAGE}/ not found in {REPO}", file=sys.stderr)
        return 2
    if not (DATA_DIR / "lineitem.parquet").is_file():
        print(f"perfbench: fixture tables not found in {DATA_DIR}", file=sys.stderr)
        return 2
    (BENCH_DIR / ".run").mkdir(exist_ok=True)
    run_dir = Path(tempfile.mkdtemp(prefix=f"{args.workload}-", dir=BENCH_DIR / ".run"))
    cwd = os.getcwd()
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
    finally:
        os.chdir(cwd)
        shutil.rmtree(run_dir, ignore_errors=True)
    _report(result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
