"""The bench line's never-evict set comes from the repo's own records:
the query names of the newest round's recorded line."""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import bench

REPO_ROOT = Path(__file__).resolve().parent.parent


def test_never_evict_set_is_newest_round_line(tmp_path):
    for name in ("BENCH_r12.json", "BENCH_r13.json", "BENCH_r13_c8.json"):
        shutil.copy(REPO_ROOT / name, tmp_path / name)
    # numeric, not lexicographic, round order: r9 sorts after r13 as text
    (tmp_path / "BENCH_r9.json").write_text(
        json.dumps({"parsed": {"queries": {"q1_pricing_summary": 1.0}}})
    )
    with open(REPO_ROOT / "BENCH_r13.json") as fh:
        r13 = set(json.load(fh)["parsed"]["queries"])
    got = bench.prev_line_reported(str(tmp_path))
    assert got == r13
    # the three names the old hand-kept copy of BENCH_r12's line missed
    assert {"hypertable_rollup", "pack_sequences", "q17_small_quantity"} <= got


def test_never_evict_set_empty_without_recorded_rounds(tmp_path):
    assert bench.prev_line_reported(str(tmp_path)) == frozenset()
