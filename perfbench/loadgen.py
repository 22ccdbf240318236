"""Open-loop load generator for the ``stream_wordcount`` workload.

Runs as its own process, apart from the system under test. It appends
sentences to the partitioned log that the ``kafkalog`` source reads, on a
schedule fixed in advance: record ``i`` is due at a set time whether or
not the pipeline keeps up, and carries that due time in its value so the
benchmark can time it from when it was due, not from when it was read.

Run: ``python3 perfbench/loadgen.py '<json config>'``; prints one JSON
line with how late it ran and when the burst was written.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

import numpy as np

PARTITIONS = 4
VOCAB_SIZE = 2000
WORDS_PER_SENTENCE = 8
ZIPF_S = 1.1
# write whatever is due every few milliseconds
TICK_S = 0.005


def sentences(seed: int, n: int) -> list[str]:
    """``n`` sentences of Zipf-distributed words over a fixed vocabulary,
    all drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab: list[str] = []
    seen: set[str] = set()
    while len(vocab) < VOCAB_SIZE:
        word = "".join(rng.choice(letters, size=int(rng.integers(3, 10))))
        if word not in seen:
            seen.add(word)
            vocab.append(word)
    weights = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** ZIPF_S
    idx = rng.choice(VOCAB_SIZE, size=(n, WORDS_PER_SENTENCE), p=weights / weights.sum())
    words = np.array(vocab)
    return [" ".join(row) for row in words[idx]]


def line(i: int, sentence: str, due: float) -> str:
    return json.dumps({"key": str(i), "value": {"sentence": sentence, "due": due}}) + "\n"


def partition_path(log_dir: str, p: int) -> str:
    return os.path.join(log_dir, f"partition-{p}.jsonl")


class Schedule:
    """Record ``i`` < ``prologue`` was written before the clock started;
    the next ``rate * timed_s`` records are due ``1/rate`` apart from
    ``start``; the last ``burst`` records are all due at
    ``start + timed_s``. Record ``i`` goes to partition ``i % 4``."""

    def __init__(self, cfg: dict):
        self.start = cfg["start"]
        self.rate = cfg["rate"]
        self.prologue = cfg["prologue"]
        self.timed = int(round(cfg["rate"] * cfg["timed_s"]))
        self.burst_at = cfg["start"] + cfg["timed_s"]
        self.burst_first = self.prologue + self.timed
        self.total = self.burst_first + cfg["burst"]

    def due(self, i: int) -> float:
        if i < self.burst_first:
            return self.start + (i - self.prologue) / self.rate
        return self.burst_at

    def due_by(self, t: float) -> int:
        """Number of records due at or before ``t``."""
        if t >= self.burst_at:
            return self.total
        if t < self.start:
            return self.prologue
        return self.prologue + min(self.timed, math.floor((t - self.start) * self.rate) + 1)


def generate(cfg: dict) -> dict:
    sched = Schedule(cfg)
    text = sentences(cfg["seed"], sched.total)
    files = [open(partition_path(cfg["log_dir"], p), "a") for p in range(PARTITIONS)]
    lateness: list[float] = []
    burst_written = None
    written = sched.prologue
    try:
        while written < sched.total:
            now = time.time()
            upto = sched.due_by(now)
            if upto > written:
                chunks = [[] for _ in range(PARTITIONS)]
                for i in range(written, upto):
                    chunks[i % PARTITIONS].append(line(i, text[i], sched.due(i)))
                for fh, chunk in zip(files, chunks):
                    if chunk:
                        fh.write("".join(chunk))
                        fh.flush()
                done = time.time()
                lateness.extend(done - sched.due(i) for i in range(written, upto))
                if upto == sched.total:
                    burst_written = done
                written = upto
                continue
            time.sleep(max(0.0, min(TICK_S, sched.due(written) - now)))
    finally:
        for fh in files:
            fh.close()
    lateness.sort()
    return {
        "written": written,
        "burst_written": burst_written,
        "lateness_p99_s": lateness[int(0.99 * (len(lateness) - 1))] if lateness else 0.0,
        "lateness_max_s": lateness[-1] if lateness else 0.0,
    }


if __name__ == "__main__":
    print(json.dumps(generate(json.loads(sys.argv[1]))), flush=True)
