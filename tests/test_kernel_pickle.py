"""The nearest-codeword kernel ships BY VALUE.

Every IVF, k-means and PQ pass sends a closure from
``similarity._nn_kernel`` to executor Python workers. Those workers may
have numpy and pandas but no importable ``motorway_spark`` (a bare
cluster without --py-files). The kernel, the distance function and the
helpers they call are built nested-origin so cloudpickle serializes
them by value; a top-level ``def`` would pickle by reference and crash
such workers with ModuleNotFoundError.

This test cloudpickles the kernel in each output mode plus the distance
function, loads them in a fresh interpreter where ``motorway_spark``
cannot be imported, runs them on a 2-row batch, and compares with the
in-process result. No Spark session is needed.
"""

from __future__ import annotations

import pickle
import subprocess
import sys

import numpy as np
import pandas as pd
from pyspark import cloudpickle

from motorway_spark.queries import similarity as sim

_LOADER = r"""
import pickle, sys
sys.modules["motorway_spark"] = None  # any import of the package fails
import pandas as pd
cases, batch, mats = pickle.load(open(sys.argv[1], "rb"))
out = {}
for name, obj in cases.items():
    if name == "sq_dists":
        out[name] = obj(*mats)
    else:
        out[name] = pd.concat(list(obj(iter([batch.copy()]))), ignore_index=True)
pickle.dump(out, open(sys.argv[2], "wb"))
"""


def _inputs():
    rng = np.random.default_rng(7)
    emb = rng.normal(size=(2, sim.DIM)).astype(np.float32)
    batch = pd.DataFrame({"vec_id": [3, 11], "embedding": [list(v) for v in emb]})
    cents = rng.normal(scale=0.2, size=(3, sim.DIM))
    coarse = ([2, 5, 9], cents)  # non-contiguous labels
    subs = [
        ([0, 4, 7, 13], rng.normal(scale=0.1, size=(4, sim.PQ_SUBDIM)))
        for _ in range(sim.PQ_M)
    ]
    residual = {"normalize": True, "residual": True}
    cases = {
        "assign": sim._nn_kernel("assign", coarse)[0],
        "codes": sim._nn_kernel("codes", coarse, subs, **residual)[0],
        "stats": sim._nn_kernel("stats", coarse, subs, **residual)[0],
        "sq_dists": sim._sq_dists,
    }
    return cases, batch, (emb.astype(np.float64), cents)


def test_kernel_and_distance_pickle_by_value(tmp_path):
    cases, batch, mats = _inputs()
    want = {
        name: obj(*mats)
        if name == "sq_dists"
        else pd.concat(list(obj(iter([batch.copy()]))), ignore_index=True)
        for name, obj in cases.items()
    }
    src, dst = tmp_path / "cases.pkl", tmp_path / "out.pkl"
    src.write_bytes(cloudpickle.dumps((cases, batch, mats)))
    proc = subprocess.run(
        [sys.executable, "-c", _LOADER, str(src), str(dst)],
        capture_output=True,
        text=True,
        timeout=120,
        cwd=tmp_path,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    got = pickle.loads(dst.read_bytes())
    assert got.keys() == want.keys()
    assert np.array_equal(got["sq_dists"], want["sq_dists"])
    for name in ("assign", "codes", "stats"):
        assert len(want[name]) > 0, name
        pd.testing.assert_frame_equal(got[name], want[name], check_exact=True)
