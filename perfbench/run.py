"""Benchmark entry point: one workload per process.

    python3 perfbench/run.py --workload stream_wordcount --seed 1 --seconds 10 --trace 0

Prints every metric by name with its unit on ``#`` lines, then one JSON
line: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
timing wrappers are installed around the program's layer functions for
the run and the metrics are the per-layer ones, and the run also reports
its tracing overhead against the last untraced run of the workload.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import sys

import harness as h

WORKLOADS = ("stream_wordcount", "batch_vector", "batch_sql")

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_p99_s": "s",
    "pass_s": "s",
    "drain_rps": "1/s",
}


def _per_layer() -> dict[str, str]:
    from batch import MIXES

    names = {
        "session.start_s": "s",
        "pipeline.compile_s": "s",
        "source.latest_offset_ms_p50": "ms",
        "source.latest_offset_ms_growth": "ratio",
        "source.get_batch_ms_p50": "ms",
        "source.lag_records_p99": "records",
        "stream.trigger_ms_p50": "ms",
        "stream.trigger_ms_p99": "ms",
        "stream.add_batch_ms_p50": "ms",
        "stream.planning_ms_p50": "ms",
        "stream.wal_commit_ms_p50": "ms",
        "stream.commit_offsets_ms_p50": "ms",
        "stream.batches": "count",
        "stream.overrun_frac": "ratio",
        "state.rows_total": "count",
        "state.memory_mb": "MB",
        "state.commit_ms_p50": "ms",
        "sink.upsert_s_p50": "s",
        "sink.upsert_s_p99": "s",
        "sink.commits": "count",
        "sink.share_of_add_batch": "ratio",
        "sink.merge_s": "s",
        "sink.delete_s": "s",
        "sink.read_s": "s",
        "sink.changes_s": "s",
        "sqlapi.sql_s": "s",
        "queries.build_s": "s",
        "exec.noop_s": "s",
        "spark.jobs": "count",
        "spark.stages": "count",
        "spark.tasks": "count",
        "maintenance.release_s": "s",
        "metrics.api_status_ms_p50": "ms",
        "gen.lateness_p99_s": "s",
        "peak_rss_mb": "MB",
    }
    for mix in MIXES.values():
        for q in mix:
            names[f"query.{q}_s"] = "s"
            names[f"query.{q}_build_s"] = "s"
    return names


PER_LAYER = _per_layer()


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def run_workload(args) -> dict:
    tracer = h.Tracer() if args.trace else None
    with h.run_root(args.workload) as root:
        try:
            if tracer is not None:
                h.install_layer_wrappers(tracer)
            if args.workload == "stream_wordcount":
                import stream_wordcount

                res = stream_wordcount.run(root, args.seed, args.seconds, tracer)
            else:
                import batch

                res = batch.run(args.workload, root, args.seed, args.seconds, tracer)
        finally:
            if tracer is not None:
                tracer.restore()
            h.shutdown_jvm()
    res["tracer"] = tracer
    return res


def main(argv=None) -> int:
    args = parse_args(argv)
    h.check_checkout()
    res = run_workload(args)
    e2e = res["metrics"]
    correct = res["failed"] == 0 and not res["problems"]
    human = [
        ("workload " + args.workload, float(args.seed), "seed", f"trace={args.trace}"),
        ("error_rate", res["failed"] / res["attempted"], "ratio",
         f"{res['failed']} failed of {res['attempted']} attempted"),
    ]
    for problem in res["problems"]:
        print(f"# problem: {problem}")
    human += [(n, v, u, note) for n, (v, u, note) in e2e.items()]
    untraced_path = h.OUT_DIR / f"untraced-{args.workload}.json"

    if not args.trace:
        h.OUT_DIR.mkdir(exist_ok=True)
        untraced_path.write_text(json.dumps({"seed": args.seed, "metrics": {n: v for n, (v, _, _) in e2e.items()}}))
        metrics = {n: {"value": e2e[n][0], "unit": u} for n, u in END_TO_END.items()}
        human.append(("peak_rss_mb", res["peak_rss_mb"], "MB", "process tree, measured window"))
    else:
        layers = {**res["layers"], "peak_rss_mb": res["peak_rss_mb"]}
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in PER_LAYER.items()}
        human += [(n, m["value"], m["unit"], "") for n, m in metrics.items()]
        overhead = {}
        if untraced_path.exists():
            base = json.loads(untraced_path.read_text())
            overhead = {n: e2e[n][0] - v for n, v in base["metrics"].items() if n in e2e}
            human += [(f"overhead.{n}", d, END_TO_END[n], f"traced - untraced (seed {base['seed']})")
                      for n, d in overhead.items()]
        else:
            print("# overhead: no untraced run of this workload in this checkout yet")
        res["tracer"].write(
            h.OUT_DIR / f"spans-{args.workload}-seed{args.seed}.json",
            {"workload": args.workload, "seed": args.seed,
             "end_to_end": {n: v for n, (v, _, _) in e2e.items()},
             "per_layer": {n: m["value"] for n, m in metrics.items()},
             "overhead": overhead},
        )
    h.emit(
        {"correct": correct, "attempted": int(res["attempted"]), "failed": int(res["failed"]), "metrics": metrics},
        human,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
