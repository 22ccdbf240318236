"""``stream_wordcount``: the flagship topology under open-loop load.

kafkalog ``FormatRamp`` (4 partitions, default caps) -> JSON parse ->
``SplitExplode`` -> ``KeyedCount`` grouped on ``word`` ->
``UpsertParquetSink(key_cols=["word"]).foreach_batch()`` in update mode
with a 1 s processing-time trigger, started by ``Pipeline.run``, with
``MetricsListener`` and ``StatusServer`` attached and ``/api/status/``
polled once a second.
"""

from __future__ import annotations

import json
import math
import subprocess
import sys
import time
import urllib.request
from collections import Counter
from pathlib import Path

import harness as h
import loadgen

# Sizing (4-core host): the pipeline drains about 4000 records/s, so the
# steady rate is half of that. The burst is four full triggers' worth at
# the source's default cap of 1000 records per partition per trigger.
RATE = 2000
WARMUP_S = 2.0
BURST = 16000
PROLOGUE = 400
SETUP_REPS = 3
TRIGGER = {"processingTime": "1 second"}
TRIGGER_S = 1.0
# a run where the generator fell behind its schedule by more than this is
# invalid: its records were not offered at the rate the run claims
MAX_LATENESS_S = 0.25


class Topology:
    """One started instance of the topology with its own checkpoint,
    sink table and consumer group."""

    def __init__(self, spark, root: Path, log_dir: Path, tag: str):
        from motorway_spark.intersections import JsonParse, KeyedCount, SplitExplode
        from motorway_spark.pipeline import FormatRamp, Pipeline
        from motorway_spark.sinks.upsert import UpsertParquetSink
        from motorway_spark.sources import register_sources
        from motorway_spark.streaming.metrics import MetricsListener, StatusServer

        self.spark = spark
        register_sources(spark)
        self.metrics = MetricsListener()
        self.progress = h.ProgressLog()
        spark.streams.addListener(self.metrics)
        spark.streams.addListener(self.progress)
        self.server = StatusServer(self.metrics).start()
        self.sink = UpsertParquetSink(spark, str(root / f"table-{tag}"), key_cols=["word"])
        checkpoint = str(root / f"checkpoint-{tag}")

        pipe = Pipeline(spark)
        pipe.add_ramp(
            FormatRamp("kafkalog", {"path": str(log_dir), "groupId": f"perfbench-{tag}"}),
            "message",
        )
        pipe.add_intersection(JsonParse("value", "sentence STRING"), "message", "sentence")
        pipe.add_intersection(SplitExplode("sentence", output="word"), "sentence", "word")
        pipe.add_intersection(
            KeyedCount("word", output="count"), "word", "word_count", grouping_key="word"
        )
        pipe.add_sink(
            "word_count",
            lambda df, trigger: df.writeStream.queryName("wordcount")
            .outputMode("update")
            .foreachBatch(self.sink.foreach_batch())
            .trigger(**trigger)
            .option("checkpointLocation", checkpoint)
            .start(),
        )
        [self.query] = pipe.run(trigger=TRIGGER)

    def batches(self) -> list[dict]:
        run_id = str(self.query.runId)
        return [e for e in self.progress.events if e.get("runId") == run_id]

    def wait_for(self, predicate, timeout: float) -> bool:
        deadline = time.time() + timeout
        while time.time() < deadline:
            if self.query.exception() is not None:
                raise RuntimeError(f"stream failed: {self.query.exception()}")
            if predicate():
                return True
            time.sleep(0.05)
        return False

    def poll_status(self) -> float:
        """One dashboard poll of ``/api/status/``; returns its milliseconds."""
        t0 = time.perf_counter()
        with urllib.request.urlopen(f"http://127.0.0.1:{self.server.port}/api/status/", timeout=10) as r:
            json.load(r)
        return (time.perf_counter() - t0) * 1000.0

    def stop(self) -> None:
        self.query.stop()
        self.progress.terminated.wait(30)
        self.server.stop()

    def detach(self) -> None:
        self.spark.streams.removeListener(self.metrics)
        self.spark.streams.removeListener(self.progress)


def read_due(log_dir: Path) -> dict[int, list[float]]:
    due = {}
    for p in range(loadgen.PARTITIONS):
        with open(loadgen.partition_path(str(log_dir), p)) as fh:
            due[p] = [json.loads(line)["value"]["due"] for line in fh]
    return due


def run(root: Path, seed: int, seconds: int, tracer: h.Tracer | None) -> dict:
    log_dir = root / "log"
    log_dir.mkdir()
    cfg = {
        "seed": seed, "log_dir": str(log_dir), "rate": RATE, "prologue": PROLOGUE,
        "timed_s": WARMUP_S + seconds, "burst": BURST, "start": 0.0,
    }
    total = loadgen.Schedule(cfg).total
    text = loadgen.sentences(seed, total)
    expected = Counter(w for s in text for w in s.split(" "))
    # the prologue gives each set-up's first trigger something to read
    now = time.time()
    for p in range(loadgen.PARTITIONS):
        with open(loadgen.partition_path(str(log_dir), p), "w") as fh:
            fh.write("".join(loadgen.line(i, text[i], now) for i in range(p, PROLOGUE, loadgen.PARTITIONS)))

    # Set-up, repeated: session, sources, Pipeline.run, first trigger.
    setup_s = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        spark = h.start_session(root)
        topo = Topology(spark, root, log_dir, str(rep))
        if not topo.wait_for(lambda: topo.batches(), 120):
            raise RuntimeError("first trigger did not complete within 120 s")
        setup_s.append(time.perf_counter() - t0)
        if rep < SETUP_REPS - 1:
            topo.stop()
            topo.detach()
            spark.stop()

    # Open-loop load: warm-up, steady phase, burst. Processing-time
    # triggers fire on whole multiples of the interval since the epoch;
    # starting the schedule half an interval off that grid lands the
    # burst at the same phase of the trigger cycle in every run.
    cfg["start"] = math.ceil(time.time()) + 0.5
    sched = loadgen.Schedule(cfg)
    steady = (cfg["start"] + WARMUP_S, cfg["start"] + WARMUP_S + seconds)
    t_window = time.perf_counter()
    gen = subprocess.Popen(
        [sys.executable, str(Path(loadgen.__file__)), json.dumps(cfg)],
        stdout=subprocess.PIPE, text=True,
    )
    poll_ms = []
    rss = h.RssSampler().start()
    try:
        def covered() -> bool:
            b = topo.batches()
            return bool(b) and sum(h.end_offsets(b[-1]).values()) >= total

        deadline = sched.burst_at + 90
        while not (gen.poll() is not None and covered()) and time.time() < deadline:
            tick = time.time()
            poll_ms.append(topo.poll_status())
            topo.wait_for(covered, max(0.0, 1.0 - (time.time() - tick)))
        gen_out, _ = gen.communicate(timeout=60)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    t_window_end = time.perf_counter()
    rss.stop()
    gen_res = json.loads(gen_out.strip().splitlines()[-1])
    topo.stop()

    # -- checks, outside the timed region -------------------------------
    problems = []
    batches = topo.batches()
    listener_batches, listener_rows = len(batches), sum(e["numInputRows"] for e in batches)
    status = topo.metrics.api_status()["groups"]["wordcount"]["processes"]["wordcount"]
    if (status["batches"], status["rows"]) != (listener_batches, listener_rows):
        problems.append(
            f"api_status batches/rows {status['batches']}/{status['rows']} != "
            f"listener {listener_batches}/{listener_rows}"
        )
    topo.detach()
    if gen_res["lateness_p99_s"] > MAX_LATENESS_S:
        problems.append(f"generator fell behind: lateness p99 {gen_res['lateness_p99_s']:.3f} s")
    table = topo.sink.read()
    got = {r["word"]: r["count"] for r in table.collect()} if table is not None else {}
    wrong = sum(abs(got.get(w, 0) - n) for w, n in expected.items())
    wrong += sum(n for w, n in got.items() if w not in expected)

    due = read_due(log_dir)
    if sum(map(len, due.values())) != total:
        problems.append(f"log holds {sum(map(len, due.values()))} records, expected {total}")
    timed = []
    for e in batches:
        start, end = h.progress_time(e)
        timed.append({"event": e, "start": start, "end_time": end, "end_offsets": h.end_offsets(e)})
    latency, uncovered = h.attribute_latency(due, timed)
    if uncovered:
        problems.append(f"{uncovered} records never covered by a trigger")
    steady_lat = [lat for (p, o), lat in latency.items() if steady[0] <= due[p][o] < steady[1]]
    # a burst never covered (a failed run) drains, at best, by the time
    # the benchmark stopped waiting
    burst_end = next(
        (b["end_time"] for b in timed if sum(b["end_offsets"].values()) >= total), time.time()
    )
    drain_s = burst_end - (gen_res["burst_written"] or sched.burst_at)
    steady_batches = [b for b in timed if steady[0] <= b["start"] < steady[1]]
    lat = h.summary(steady_lat)

    metrics = {
        "setup_s": (h.median(setup_s), "s", f"median of {SETUP_REPS} set-ups"),
        "latency_p50_s": (lat["p50"], "s", f"n={lat['n']} records"),
        "latency_p99_s": (lat["p99"], "s", f"n={lat['n']} records"),
        "pass_s": (
            h.median(b["event"]["durationMs"]["triggerExecution"] / 1000.0 for b in steady_batches),
            "s", f"median steady trigger, n={len(steady_batches)}",
        ),
        "drain_rps": (BURST / drain_s, "1/s", f"burst of {BURST} in {drain_s:.3f} s"),
    }
    out = {
        "metrics": metrics,
        "peak_rss_mb": rss.peak / 2**20,
        "attempted": sum(expected.values()),
        "failed": wrong + uncovered * loadgen.WORDS_PER_SENTENCE,
        "problems": problems,
    }
    if tracer is not None:
        out["layers"] = layers(tracer, timed, due, poll_ms, gen_res, t_window, t_window_end)
    return out


def layers(tracer, timed, due, poll_ms, gen_res, t0, t1) -> dict:
    """Per-layer metrics of the traced run. Triggers after the first one
    (which belongs to set-up) and spans inside the load window count."""
    window = timed[1:]

    def dur(key):
        return [b["event"]["durationMs"].get(key, 0) for b in window]

    trig, lo = dur("triggerExecution"), dur("latestOffset")
    # latestOffset is reported in whole milliseconds, so each end of the
    # run is averaged over at least three triggers
    tenth = max(3, len(lo) // 10)
    first, last = sum(lo[:tenth]) / tenth, sum(lo[-tenth:]) / tenth
    all_due = sorted(d for ds in due.values() for d in ds)
    lag = [
        h.count_due(all_due, b["start"]) - sum(prev["end_offsets"].values())
        for prev, b in zip(timed, window)
    ]
    state = [(b["event"].get("stateOperators") or [{}])[0] for b in window] or [{}]
    upserts = tracer.durations("sink.upsert_batch", t0, t1)
    add_batch_s = sum(dur("addBatch")) / 1000.0
    return {
        "session.start_s": h.median(tracer.durations("session.start")),
        "pipeline.compile_s": h.median(tracer.durations("pipeline.compile")),
        "source.latest_offset_ms_p50": h.median(lo),
        "source.latest_offset_ms_growth": last / first if first else 0.0,
        "source.get_batch_ms_p50": h.median(dur("getBatch")),
        "source.lag_records_p99": h.summary(lag)["p99"],
        "stream.trigger_ms_p50": h.median(trig),
        "stream.trigger_ms_p99": h.summary(trig)["p99"],
        "stream.add_batch_ms_p50": h.median(dur("addBatch")),
        "stream.planning_ms_p50": h.median(dur("queryPlanning")),
        "stream.wal_commit_ms_p50": h.median(dur("walCommit")),
        "stream.commit_offsets_ms_p50": h.median(dur("commitOffsets")),
        "stream.batches": len(window),
        "stream.overrun_frac": sum(t > TRIGGER_S * 1000 for t in trig) / len(trig) if trig else 0.0,
        "state.rows_total": state[-1].get("numRowsTotal", 0),
        "state.memory_mb": state[-1].get("memoryUsedBytes", 0) / 2**20,
        "state.commit_ms_p50": h.median(s.get("commitTimeMs", 0) for s in state),
        "sink.upsert_s_p50": h.summary(upserts)["p50"],
        "sink.upsert_s_p99": h.summary(upserts)["p99"],
        "sink.commits": len(upserts),
        "sink.share_of_add_batch": sum(upserts) / add_batch_s if add_batch_s else 0.0,
        "metrics.api_status_ms_p50": h.median(poll_ms),
        "gen.lateness_p99_s": gen_res["lateness_p99_s"],
    }
