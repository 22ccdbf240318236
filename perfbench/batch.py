"""``batch_vector`` and ``batch_sql``: one client in a closed loop over a
fixed mix of registered queries.

Each query is built with ``QUERIES[name](spark, sf_dir)`` and written in
full to the ``noop`` sink; cached frames are released between queries,
as a harness running many queries in one session must. The first pass
is the warm-up: its outputs are collected and compared with the DuckDB
oracles, and it is not timed. Timed passes follow while fewer than
``--seconds`` have passed, and at least three.
"""

from __future__ import annotations

import contextlib
import io
import importlib.util
import time
from pathlib import Path

import harness as h

MIXES = {
    # Arrow hand-off and the Python kernels of similarity.py, including
    # build-time training passes; no sink, no stream.
    "batch_vector": [
        "sim_ann_lsh",
        "sim_knn_matmul",
        "sim_ann_ivf_fixed",
        "dedup_semantic_semdedup",
        "cluster_kmeans_lloyd",
        "sim_ann_pq_lloyd",
        "sim_ann_ivfpq",
        "sim_ann_ivfpq_residual",
    ],
    # JVM-only plans, the control for kernel changes; uses the upsert
    # sink through a few large MERGE, DELETE and changefeed reads.
    "batch_sql": [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q11_important_stock",
        "agg_cube",
        "events_funnel",
        "dq_checks",
        "text_bm25_topk",
        "dedup_minhash",
        "graph_triangle_count",
        "sql_facade_join_agg",
        "sql_facade_manifest_table",
        "table_changefeed",
        "sql_facade_merge_dml",
        "stream_changefeed_matview",
    ],
}
# Scale factor of the generated fixture. Small enough that 22 runs of
# each workload fit the benchmark's time budget (see README.md).
SCALE = {"batch_vector": 0.01, "batch_sql": 0.001}
# The set-up repeats a session start plus one cold run of this query.
SETUP_PROBE = {"batch_vector": "sim_knn_matmul", "batch_sql": "q1_pricing_summary"}
SETUP_REPS = 3
MIN_TIMED_PASSES = 3


def make_fixture(dst: Path, sf: float, seed: int) -> None:
    """The repository's own seeded fixture generator (tools/make_fixture.py)."""
    spec = importlib.util.spec_from_file_location("make_fixture", h.ROOT / "tools" / "make_fixture.py")
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    with contextlib.redirect_stdout(io.StringIO()):
        module.generate(str(dst), sf, seed)


def release(spark) -> None:
    from motorway_spark.maintenance import CACHES

    CACHES.release_all()
    spark.catalog.clearCache()


def run(workload: str, root: Path, seed: int, seconds: int, tracer: h.Tracer | None) -> dict:
    mix = MIXES[workload]
    fixture = root / "fixture"
    make_fixture(fixture, SCALE[workload], seed)

    from motorway_spark.oracle import _duckdb_con, compare_frames
    from motorway_spark.queries import ORACLES, QUERIES

    con = _duckdb_con(str(fixture))
    expected = {name: con.sql(ORACLES[name]).df() for name in mix}
    con.close()
    sf_dir = str(fixture)

    # Set-up, repeated: a fresh session and one cold query.
    setup_s = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        spark = h.start_session(root)
        QUERIES[SETUP_PROBE[workload]](spark, sf_dir).write.format("noop").mode("overwrite").save()
        release(spark)
        setup_s.append(time.perf_counter() - t0)
        if rep < SETUP_REPS - 1:
            spark.stop()

    progress = None
    if tracer is not None:
        progress = h.ProgressLog()
        spark.streams.addListener(progress)

    attempted = failed = 0
    problems: list[str] = []

    # Warm-up pass: every output checked against its oracle.
    for name in mix:
        attempted += 1
        try:
            got = QUERIES[name](spark, sf_dir).toPandas()
            diff = compare_frames(got, expected[name])
        except Exception as exc:  # noqa: BLE001 - a failing query is a counted failure
            diff = [f"{type(exc).__name__}: {str(exc).splitlines()[0][:200]}"]
        finally:
            release(spark)
        if diff:
            failed += 1
            problems.append(f"{name}: {'; '.join(diff)}")

    # Timed passes.
    passes: list[dict] = []
    rss = h.RssSampler().start()
    t_start = time.perf_counter()
    while len(passes) < MIN_TIMED_PASSES or time.perf_counter() - t_start < seconds:
        p = {"start": time.perf_counter(), "clock": time.time(), "queries": {}}
        for name in mix:
            attempted += 1
            group = f"perfbench-{len(passes)}-{name}"
            if tracer is not None:
                spark.sparkContext.setJobGroup(group, name)
            span = tracer.span(f"query.{name}", trace=group) if tracer else contextlib.nullcontext()
            t0 = time.perf_counter()
            try:
                with span:
                    df = QUERIES[name](spark, sf_dir)
                    t1 = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            except Exception as exc:  # noqa: BLE001 - a failing query is a counted failure
                failed += 1
                problems.append(f"{name}: {type(exc).__name__}: {str(exc).splitlines()[0][:200]}")
                t1 = t2 = time.perf_counter()
            t3 = time.perf_counter()
            release(spark)
            p["queries"][name] = {"build": t1 - t0, "exec": t2 - t1, "wall": t2 - t0,
                                  "release": time.perf_counter() - t3, "group": group}
        p["end"], p["clock_end"] = time.perf_counter(), time.time()
        passes.append(p)
    t_end = time.perf_counter()
    rss.stop()

    # a query's latency is its median over the timed passes; the
    # percentiles run over the queries of the mix
    lat = h.summary(h.median(p["queries"][name]["wall"] for p in passes) for name in mix)
    executed = len(passes) * len(mix)
    pass_times = [p["end"] - p["start"] for p in passes]
    metrics = {
        "setup_s": (h.median(setup_s), "s", f"median of {SETUP_REPS} set-ups"),
        "latency_p50_s": (lat["p50"], "s", f"over query medians, n={lat['n']} queries"),
        "latency_p99_s": (lat["p99"], "s", f"over query medians, n={lat['n']} queries"),
        "pass_s": (h.median(pass_times), "s", f"median of {len(passes)} passes"),
        "drain_rps": (executed / (t_end - t_start), "1/s", "queries per second"),
    }
    out = {"metrics": metrics, "peak_rss_mb": rss.peak / 2**20,
           "attempted": attempted, "failed": failed, "problems": problems}
    if tracer is not None:
        spark.streams.removeListener(progress)
        out["layers"] = layers(spark, tracer, passes, progress, mix)
    return out


def _job_counts(spark, group: str) -> tuple[int, int, int]:
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = 0
    for s in stages:
        info = tracker.getStageInfo(s)
        if info is not None:
            tasks += info.numCompletedTasks
    return len(jobs), len(stages), tasks


def layers(spark, tracer, passes, progress, mix) -> dict:
    """Per-layer metrics of the traced run: per-pass sums, medianed over
    the timed passes."""
    def per_pass(f):
        return h.median(f(p) for p in passes)

    def spans(name, p):
        return tracer.durations(name, p["start"], p["end"])

    def in_queries(key, p):
        return sum(q[key] for q in p["queries"].values())

    counts = [[_job_counts(spark, q["group"]) for q in p["queries"].values()] for p in passes]
    trig = [
        e["durationMs"].get("triggerExecution", 0)
        for e in progress.events
        if any(p["clock"] <= h.progress_time(e)[0] < p["clock_end"] for p in passes)
    ]
    upserts = [d for p in passes for d in spans("sink.upsert_batch", p)]
    out = {
        "session.start_s": h.median(tracer.durations("session.start")),
        "sink.upsert_s_p50": h.summary(upserts)["p50"],
        "sink.upsert_s_p99": h.summary(upserts)["p99"],
        "sink.commits": per_pass(lambda p: len(spans("sink.upsert_batch", p))),
        "sink.merge_s": per_pass(lambda p: sum(spans("sink.upsert_batch", p))),
        "sink.delete_s": per_pass(lambda p: sum(spans("sink.delete_keys", p) + spans("sink.delete_where", p))),
        "sink.read_s": per_pass(lambda p: sum(spans("sink.read", p))),
        "sink.changes_s": per_pass(lambda p: sum(spans("sink.read_changes", p))),
        "sqlapi.sql_s": per_pass(lambda p: sum(spans("sqlapi.sql", p))),
        "queries.build_s": per_pass(lambda p: in_queries("build", p)),
        "exec.noop_s": per_pass(lambda p: in_queries("exec", p)),
        "maintenance.release_s": per_pass(lambda p: in_queries("release", p)),
        "spark.jobs": h.median(sum(c[0] for c in pc) for pc in counts),
        "spark.stages": h.median(sum(c[1] for c in pc) for pc in counts),
        "spark.tasks": h.median(sum(c[2] for c in pc) for pc in counts),
        "stream.trigger_ms_p50": h.median(trig),
        "stream.trigger_ms_p99": h.summary(trig)["p99"],
        "stream.batches": len(trig) / len(passes),
    }
    for name in mix:
        out[f"query.{name}_s"] = h.median(p["queries"][name]["wall"] for p in passes)
        out[f"query.{name}_build_s"] = h.median(p["queries"][name]["build"] for p in passes)
    return out
