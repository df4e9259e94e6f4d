"""Runs one benchmark workload in this process and prints its result line.

``run.py`` starts this script in a fresh process per run, with the package
on ``PYTHONPATH`` and a private temp root; see README.md for the workloads
and metrics.  A run is:

1. set-up: imports, ``get_spark``, one warm-up job (and, for streams, the
   progress listener) -- ``setup_s``;
2. one cold pass over the workload's calls in the fresh session --
   ``cold_cpu_s``;
3. warm passes, at least one, and another only while it should end within
   ``--seconds`` of the cold pass's start -- ``cpu_s`` is each call's
   median over them, summed over the calls.  With ``--trace 1`` there is
   exactly one warm pass, traced, and the per-layer metrics come from it;
4. checks, outside every timed section: every call's collected output is
   hash-compared with its DuckDB oracle on the same input files.

Usage: python3 perfbench/worker.py --workload NAME --sf-dir DIR --root CHECKOUT
       --seconds S --trace 0|1 --cpus N
"""

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

from bigdata_homed_spark.plans import ORACLES, QUERIES  # noqa: E402
from bigdata_homed_spark.session import get_spark  # noqa: E402
from probes import (  # noqa: E402
    ExecCounters,
    ProgressLog,
    SessionCpu,
    SnapshotVerbTimer,
    peak_rss_mb,
)

# raw-log ETL, then watch-session reports, then rank push
HOMED_DAILY = (
    "video_play_report",
    "iacs_login_sessions",
    "channel_report_full",
    "live_channel_halfhour_full",
    "star_rank_period_heat",
    "rank_list_publish_roundtrip",
)
# iterative graph loops and similarity self-joins
CURATION_GRAPH = (
    "minhash_lsh_pairs",
    "prefix_filter_jaccard_pairs",
    "dedup_canonical_keep",
    "pagerank_copurchase_parts",
    "label_spread_copurchase",
)
# micro-batches per stream call: one staged file per trigger
N_BATCHES = 4
# the keyed upsert stream: small merge-on-read snapshot commits per trigger
STREAM = "stream_mor_upsert"
WORKLOADS = {
    "homed_daily": [(q, {}) for q in HOMED_DAILY],
    "curation_graph": [(q, {}) for q in CURATION_GRAPH] + [(STREAM, {"n_batches": N_BATCHES})],
}
# per-call layer metrics are reported for every query of every workload
ALL_CALLS = HOMED_DAILY + CURATION_GRAPH + (STREAM,)
# stream_mor_upsert's oracle pins these columns at its default 4 batches;
# they must equal the n_batches the benchmark passed
BATCH_COUNT_COLUMNS = ("n_versions", "n_files_total")


@dataclass
class Call:
    name: str
    ok: bool = False
    wall: float = 0.0
    cpu: float = 0.0  # CPU seconds of the session, less JIT compiling
    jit: float = 0.0  # CPU seconds of the JVM's JIT compiler threads
    build: float = 0.0
    plan: float = 0.0
    action: float = 0.0
    columns: list = field(default_factory=list)
    marks: list = field(default_factory=list)  # (next job id, next stage id)
    triggers: list = field(default_factory=list)  # listener progress


@dataclass
class Pass:
    calls: list

    @property
    def wall(self) -> float:
        return sum(c.wall for c in self.calls)

    @property
    def cpu(self) -> float:
        return sum(c.cpu for c in self.calls)

    @property
    def jit(self) -> float:
        return sum(c.jit for c in self.calls)


def run_call(spark, sf_dir, name, kwargs, traced, counters, listener, cpu):
    """One timed call: build (the query function) then action (``collect``).

    A traced call also forces Catalyst planning in between and records the
    job and stage id marks at each boundary.  A failure is recorded, never
    raised.  Returns the call and its output rows (None on failure).
    """
    c = Call(name)
    mark = counters.mark if traced else (lambda: None)
    rows = None
    cpu0, jit0 = cpu()
    t0 = time.perf_counter()
    try:
        c.marks.append(mark())
        df = QUERIES[name](spark, sf_dir, **kwargs)
        t1 = time.perf_counter()
        c.marks.append(mark())
        if traced:
            df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        c.marks.append(mark())
        rows = df.collect()
        t3 = time.perf_counter()
        c.marks.append(mark())
        c.ok = True
        c.build, c.plan, c.action, c.wall = t1 - t0, t2 - t1, t3 - t2, t3 - t0
        c.columns = df.columns
    except Exception:
        c.wall = time.perf_counter() - t0
        print(f"call {name} failed:\n{traceback.format_exc()}", file=sys.stderr)
    cpu1, jit1 = cpu()
    c.cpu, c.jit = cpu1 - cpu0, jit1 - jit0
    if listener is not None:
        c.triggers = listener.drain()
    return c, rows


def run_pass(spark, calls, sf_dir, traced, counters, listener, snap_timer, checker, cpu):
    out = []
    for name, kwargs in calls:
        with snap_timer.recording(traced):
            c, rows = run_call(
                spark, sf_dir, name, kwargs, traced, counters, listener, cpu
            )
        if c.ok:
            checker.record(name, kwargs, c.columns, rows)
        # queries that persist() would otherwise pile up cached blocks
        spark.catalog.clearCache()
        out.append(c)
    return Pass(out)


class OracleChecker:
    """Compares call outputs with the registry's DuckDB oracles.

    Outputs are reduced to the order-insensitive hash of
    ``tools/check_correctness.py`` as they arrive; the oracles run after the
    measured passes, on the same input files.
    """

    def __init__(self, root: str, sf_dir: str):
        import importlib.util

        spec = importlib.util.spec_from_file_location(
            "check_correctness", f"{root}/tools/check_correctness.py"
        )
        self._cc = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self._cc)
        self.sf_dir = sf_dir
        self.outputs: list = []  # (name, n_batches or None, output hash)

    def record(self, name: str, kwargs: dict, cols: list, rows: list) -> None:
        h = self._cc.table_hash(cols, [tuple(r) for r in rows]), sorted(cols)
        self.outputs.append((name, kwargs.get("n_batches"), h))

    def wrong(self) -> list[str]:
        """Names of outputs that differ from their oracle, one per miss."""
        import duckdb

        from inputs import TABLES

        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        expected = {}
        bad = []
        for name, n_batches, got in self.outputs:
            if (name, n_batches) not in expected:
                res = con.sql(ORACLES[name])
                cols = [d[0] for d in res.description]
                rows = res.fetchall()
                if n_batches is not None and BATCH_COUNT_COLUMNS[0] in cols:
                    idx = {cols.index(k) for k in BATCH_COUNT_COLUMNS}
                    rows = [
                        tuple(n_batches if i in idx else v for i, v in enumerate(r))
                        for r in rows
                    ]
                expected[name, n_batches] = self._cc.table_hash(cols, rows), sorted(cols)
            if got != expected[name, n_batches]:
                bad.append(name)
        return bad


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def steady(warm: list, key: str) -> float:
    """Each call's median ``key`` over the warm passes, summed over the calls.

    A stall that hits one call in one pass moves only that call's median.
    """
    values: dict[str, list] = {}
    for p in warm:
        for c in p.calls:
            values.setdefault(c.name, []).append(getattr(c, key))
    return sum(statistics.median(v) for v in values.values())


def end_to_end(setup_s, cold: Pass, warm: list) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "cpu_s": (steady(warm, "cpu"), "s"),
        "cold_cpu_s": (cold.cpu, "s"),
    }


def per_layer(
    session_s, cold: Pass, traced: Pass, counters, snap, cpus, peak_mb, events_rows
) -> dict:
    m = {"session.start_s": (session_s, "s"), "memory.peak_rss_mb": (peak_mb, "MB")}
    # wall time moves with the host's other load; see README.md
    m["wall_s"] = (traced.wall, "s")
    m["cold_wall_s"] = (cold.wall, "s")
    m["cpu.jit_s"] = (traced.jit, "s")
    calls = [c for c in traced.calls if c.ok]

    def jobs(c, a, b):
        return c.marks[b][0] - c.marks[a][0]

    m["plans.build_s"] = (sum(c.build for c in calls), "s")
    m["plans.build_jobs"] = (sum(jobs(c, 0, 1) for c in calls), "count")
    m["plans.plan_s"] = (sum(c.plan for c in calls), "s")
    m["plans.action_s"] = (sum(c.action for c in calls), "s")
    m["plans.action_jobs"] = (sum(jobs(c, 2, 3) for c in calls), "count")

    ex = counters.stages_between(
        [(c.marks[0][1], c.marks[3][1]) for c in calls]
    )
    m["exec.jobs"] = (sum(jobs(c, 0, 3) for c in calls), "count")
    m["exec.stages"] = (ex["stages"], "count")
    m["exec.tasks"] = (ex["tasks"], "count")
    m["exec.failed_tasks"] = (ex["failed_tasks"], "count")
    m["exec.task_s"] = (ex["task_s"], "s")
    m["exec.core_util"] = (ex["task_s"] / (traced.wall * cpus), "ratio")
    m["exec.shuffle_write_bytes"] = (ex["shuffle_write_bytes"], "bytes")
    m["exec.spill_bytes"] = (ex["spill_bytes"], "bytes")
    m["exec.input_bytes"] = (ex["input_bytes"], "bytes")

    by_name = {c.name: c for c in calls}
    for name in ALL_CALLS:
        c = by_name.get(name)
        m[f"{name}.build_s"] = (c.build if c else 0.0, "s")
        m[f"{name}.action_s"] = (c.action if c else 0.0, "s")
        m[f"{name}.jobs"] = (jobs(c, 0, 3) if c else 0, "count")

    m.update(snap.metrics())

    trig = [t for c in calls for t in c.triggers]

    def med(key):
        vals = [t[key] for t in trig if key in t]
        return statistics.median(vals) if vals else 0.0

    trigger_ms = sum(t["triggerExecution"] for t in trig)
    stream_jobs = sum(jobs(c, 0, 3) for c in calls if c.triggers)
    m["streaming.triggers"] = (len(trig), "count")
    m["streaming.trigger_p50_ms"] = (med("triggerExecution"), "ms")
    # each stream call replays the whole events table; the source's own row
    # count also counts rows that a batch's plan scans more than once
    input_rows = events_rows * sum(1 for c in calls if c.triggers)
    source_rows = sum(t["numInputRows"] for t in trig)
    m["streaming.input_rows"] = (input_rows, "count")
    m["streaming.rescan_factor"] = (source_rows / input_rows if input_rows else 0.0, "ratio")
    m["streaming.add_batch_ms"] = (med("addBatch"), "ms")
    m["streaming.fixed_ms"] = (
        statistics.median(t["triggerExecution"] - t.get("addBatch", 0) for t in trig)
        if trig else 0.0,
        "ms",
    )
    m["streaming.query_planning_ms"] = (med("queryPlanning"), "ms")
    m["streaming.wal_commit_ms"] = (med("walCommit"), "ms")
    m["streaming.commit_offsets_ms"] = (med("commitOffsets"), "ms")
    m["streaming.latest_offset_ms"] = (med("latestOffset"), "ms")
    m["streaming.jobs_per_trigger"] = (stream_jobs / len(trig) if trig else 0.0, "count")
    m["streaming.events_per_s"] = (
        input_rows / (trigger_ms / 1000) if trigger_ms else 0.0,
        "1/s",
    )
    # the tracer's own work inside the timed sections: forced planning and
    # the id marks, so the untraced pass would have taken wall - tracer_s
    tracer_s = m["plans.plan_s"][0] + counters.self_s
    m["trace.overhead_frac"] = (tracer_s / (traced.wall - tracer_s), "ratio")
    return m


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--root", required=True, help="checkout holding the package")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, required=True)
    args = ap.parse_args()
    calls = WORKLOADS[args.workload]
    stream = any(name == STREAM for name, _ in calls)

    t_sess = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t_sess
    spark.range(1000).selectExpr("sum(id)").collect()
    listener = None
    if stream:
        listener = ProgressLog()
        spark.streams.addListener(listener)
    counters = ExecCounters(spark)
    snap_timer = SnapshotVerbTimer(counters)
    checker = OracleChecker(args.root, args.sf_dir)
    cpu = SessionCpu(spark.sparkContext._gateway.proc.pid)
    setup_s = time.perf_counter() - _T0

    def one_pass(traced):
        return run_pass(
            spark, calls, args.sf_dir, traced, counters, listener, snap_timer, checker,
            cpu,
        )

    log(f"set-up done in {setup_s:.2f}s")
    t_measure = time.perf_counter()
    cold = one_pass(False)
    log(f"cold pass {cold.wall:.2f}s, {cold.cpu:.2f} cpu-s, {cold.jit:.2f} jit-s: "
        f"{[(c.name, round(c.wall, 2), round(c.cpu, 2)) for c in cold.calls]}")
    warm = [one_pass(bool(args.trace))]
    # another warm pass only if it should end inside the window
    while not args.trace and time.perf_counter() - t_measure + warm[-1].wall <= args.seconds:
        warm.append(one_pass(False))
    for p in warm:
        log(f"warm pass {p.wall:.2f}s, {p.cpu:.2f} cpu-s, {p.jit:.2f} jit-s: "
            f"{[(c.name, round(c.wall, 2), round(c.cpu, 2)) for c in p.calls]}")
    if args.trace:
        import pyarrow.parquet as pq

        events_rows = pq.read_metadata(f"{args.sf_dir}/events.parquet").num_rows
        metrics = per_layer(
            session_s, cold, warm[0], counters, snap_timer, args.cpus, peak_rss_mb(spark),
            events_rows,
        )
    else:
        metrics = end_to_end(setup_s, cold, warm)
    spark.stop()
    # the JVM exits once its stdin closes: let it do so while the oracles run
    jvm = spark.sparkContext._gateway.proc
    jvm.stdin.close()
    log("session stopped")
    wrong = checker.wrong()
    log("oracles compared")
    jvm.wait(timeout=60)
    if wrong:
        print(f"wrong results: {sorted(wrong)}", file=sys.stderr)
    all_calls = [c for p in [cold] + warm for c in p.calls]
    failed = [c.name for c in all_calls if not c.ok]
    if failed:
        print(f"failed calls: {sorted(failed)}", file=sys.stderr)
    checked = {o[0] for o in checker.outputs}
    result = {
        "correct": not wrong and checked == {n for n, _ in calls},
        "attempted": len(all_calls),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
