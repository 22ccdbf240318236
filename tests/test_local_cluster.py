"""Distribution evidence beyond one JVM: the reliability trio and an
oracle-exact query pass under ``local-cluster[2,2,1024]`` — Spark's
multi-process test mode with a real master, two separate executor JVMs,
cross-process shuffle fetch, broadcast transport, and out-of-process
Python workers. The reference demonstrably runs multi-host
(/root/reference/examples/app_slave.py:57, app_only.py:55); this is the
closest a single sandbox gets to that claim: every byte that would cross
a wire on a 1000-executor cluster crosses a process boundary here.

Each scenario runs in its own subprocess JVM (configs must precede
context start), same harness as tests/test_reliability.py.
"""

from __future__ import annotations

import subprocess
import sys

_PRELUDE = r"""
import os, sys
import pyspark
os.environ.setdefault("SPARK_HOME", os.path.dirname(pyspark.__file__))
os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
from pyspark.sql import SparkSession

def cluster_session(app, extra=()):
    b = (
        SparkSession.builder.master("local-cluster[2,2,1024]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.executor.memory", "1g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in extra:
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    # the point of the exercise: two REAL executor processes, not driver
    # threads. Force a job so executors register, then count them.
    spark.range(10).count()
    import time
    for _ in range(60):
        n = len(spark.sparkContext._jsc.sc().statusTracker().getExecutorInfos())
        if n >= 3:  # driver + 2 executor JVMs
            break
        time.sleep(1)
    assert n >= 3, n
    return spark
"""

_STATEFUL_SCRIPT = _PRELUDE + r"""
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

spark = cluster_session(
    "lc-rocksdb",
    extra=[(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )],
)
from motorway_spark.streaming.runner import run_stream_to_memory, stream_events

events = stream_events(spark, os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata").rstrip("/") + "/sf0.001")

def update_count(key, pdf_iter, state: GroupState):
    n = state.get[0] if state.exists else 0
    for pdf in pdf_iter:
        n += len(pdf)
    state.update((n,))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

counted = events.select("user_id").groupBy("user_id").applyInPandasWithState(
    update_count,
    outputStructType="user_id long, n_events long",
    stateStructType="n_events long",
    outputMode="update",
    timeoutConf=GroupStateTimeout.NoTimeout,
)
sink = run_stream_to_memory(counted, output_mode="update")
from pyspark.sql import Window
w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
got = {
    r["user_id"]: r["n_events"]
    for r in sink.withColumn("rn", F.row_number().over(w)).filter("rn = 1").collect()
}
want = {
    r["user_id"]: r["n"]
    for r in spark.read.parquet(os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata").rstrip("/") + "/sf0.001/events.parquet")
    .groupBy("user_id").agg(F.count("*").alias("n")).collect()
}
assert got == want, (len(got), len(want))
print("LC_STATEFUL_OK", len(got))
"""

_RETRY_AND_ORACLE_SCRIPT = _PRELUDE + r"""
from pyspark import TaskContext
from pyspark.sql import functions as F

marker_dir = sys.argv[1]
spark = cluster_session("lc-retry", extra=[("spark.task.maxFailures", "3")])

# 1) injected task crash on a real EXECUTOR process; retry completes the job
def flaky(batches):
    tc = TaskContext.get()
    if tc.partitionId() == 0 and tc.attemptNumber() == 0:
        with open(os.path.join(marker_dir, "crashed"), "w") as fh:
            fh.write("attempt0")
        raise RuntimeError("injected first-attempt crash")
    for pdf in batches:
        pdf["doubled"] = pdf["v"] * 2
        yield pdf[["v", "doubled"]]

df = spark.range(1000).repartition(4).selectExpr("id AS v")
out = df.mapInPandas(flaky, "v long, doubled long").collect()
assert os.path.exists(os.path.join(marker_dir, "crashed")), "injection never fired"
assert len(out) == 1000 and all(r["doubled"] == 2 * r["v"] for r in out)
print("LC_RETRY_OK", len(out))

# 2) shuffle-heavy + broadcast-join oracle queries stay EXACT when the
# shuffle blocks and broadcast variables cross process boundaries
from motorway_spark.queries import QUERIES, ORACLES
from motorway_spark.oracle import _duckdb_con, compare_frames

SF = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata").rstrip("/") + "/sf0.01"
con = _duckdb_con(SF)
# dedup_chunk_global (r5) adds a Python-HOF chunking map, a window on
# md5 fingerprints, a LeftSemi rejoin, and per-doc reassembly — all of
# which now cross real executor boundaries here
for name in (
    "q1_pricing_summary",
    "join_broadcast_dim",
    "q3_shipping_priority",
    "dedup_chunk_global",
):
    spark_pdf = QUERIES[name](spark, SF).toPandas()
    problems = compare_frames(spark_pdf, con.sql(ORACLES[name]).df())
    assert not problems, (name, problems[:3])
    print("LC_ORACLE_OK", name, len(spark_pdf))
"""

_SPILL_SCRIPT = _PRELUDE + r"""
spark = cluster_session(
    "lc-spill",
    extra=[("spark.shuffle.spill.numElementsForceSpillThreshold", "5000")],
)
from motorway_spark.queries import QUERIES, ORACLES
from motorway_spark.oracle import _duckdb_con, compare_frames

SF = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata").rstrip("/") + "/sf0.01"
con = _duckdb_con(SF)
for name in ("q1_pricing_summary", "win_running", "dedup_exact"):
    spark_pdf = QUERIES[name](spark, SF).toPandas()
    problems = compare_frames(spark_pdf, con.sql(ORACLES[name]).df())
    assert not problems, (name, problems[:3])
    print("LC_SPILL_OK", name, len(spark_pdf))
"""


_LLOYD_SCRIPT = _PRELUDE + r"""
# The Lloyd pair: a mapInPandas codebook closure (assignment step) and
# a map-side-combinable decimal centroid aggregate, iterated K times —
# exactly the code whose determinism must survive REAL executor JVMs
# (pickled closures to out-of-process Python workers, decimal partial
# aggregation across a cross-process shuffle). Oracle-exact here means
# the whole train -> index -> probe -> rerank sequence replays
# bit-for-bit in DuckDB even when every stage crosses process
# boundaries.
spark = cluster_session("lc-lloyd")
from pyspark.sql import functions as F  # noqa: E402
from motorway_spark.queries import QUERIES, ORACLES
from motorway_spark.oracle import _duckdb_con, compare_frames

SF = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata").rstrip("/") + "/sf0.01"
con = _duckdb_con(SF)
for name in ("cluster_kmeans_lloyd", "sim_ann_ivf_lloyd"):
    spark_pdf = QUERIES[name](spark, SF).toPandas()
    problems = compare_frames(spark_pdf, con.sql(ORACLES[name]).df())
    assert not problems, (name, problems[:3])
    print("LC_LLOYD_OK", name, len(spark_pdf))
"""


_R9_SCRIPT = _PRELUDE + r"""
# Round-9 operators across REAL executor JVMs: the convergence loop's
# per-iteration collected codebooks (driver control flow over bounded
# data), the composed IVFPQ's trained chain (two encode closures + the
# unpivoted trainer aggregate across a cross-process shuffle), and the
# streaming ingest's manifest MERGE (foreachBatch writing through the
# numbered-log commit protocol from out-of-process tasks). Oracle-exact
# here = the whole pipeline replays bit-for-bit even when every stage
# crosses process boundaries.
#
# Two deployment settings this scenario uses that the Lloyd pair
# doesn't: (1) the repo root on executorEnv.PYTHONPATH, the rung
# spark-submit --py-files / a cluster pip install provides. The PQ
# encode closures no longer need it: the nearest-codeword kernel and
# the helpers it calls (_sq_dists, _leftfold_norms, _micro_halfup) are
# built nested-origin, so cloudpickle ships them BY VALUE, like the
# Lloyd assign closure; tests/test_kernel_pickle.py pins that without
# a cluster. (2) 2 GiB executors: the trained chain's Arrow encode
# workers + broadcast ADC tables exceed the harness default 1 GiB.
def cluster_session_2g(app):
    b = (
        SparkSession.builder.master("local-cluster[2,2,2048]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.executor.memory", "2g")
        .config("spark.executorEnv.PYTHONPATH", os.getcwd())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(10).count()
    import time
    for _ in range(60):
        n = len(spark.sparkContext._jsc.sc().statusTracker().getExecutorInfos())
        if n >= 3:
            break
        time.sleep(1)
    assert n >= 3, n
    return spark

spark = cluster_session_2g("lc-round9")
from motorway_spark.queries import QUERIES, ORACLES
from motorway_spark.oracle import _duckdb_con, compare_frames

SF = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata").rstrip("/") + "/sf0.01"
con = _duckdb_con(SF)
for name in ("cluster_kmeans_converged", "sim_ann_ivfpq", "stream_ann_ingest"):
    spark_pdf = QUERIES[name](spark, SF).toPandas()
    problems = compare_frames(spark_pdf, con.sql(ORACLES[name]).df())
    assert not problems, (name, problems[:3])
    print("LC_R9_OK", name, len(spark_pdf))
"""


def _run(script: str, *args: str) -> str:
    proc = subprocess.run(
        [sys.executable, "-c", script, *args],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=str(__import__("pathlib").Path(__file__).resolve().parent.parent),
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return proc.stdout


def test_local_cluster_stateful_streaming_batch_equal():
    out = _run(_STATEFUL_SCRIPT)
    assert "LC_STATEFUL_OK" in out


def test_local_cluster_task_retry_and_oracle_exact_joins(tmp_path):
    out = _run(_RETRY_AND_ORACLE_SCRIPT, str(tmp_path))
    assert "LC_RETRY_OK 1000" in out
    assert out.count("LC_ORACLE_OK") == 4


def test_local_cluster_forced_spill_oracle_exact():
    out = _run(_SPILL_SCRIPT)
    assert out.count("LC_SPILL_OK") == 3


def test_local_cluster_lloyd_pair_oracle_exact():
    out = _run(_LLOYD_SCRIPT)
    assert out.count("LC_LLOYD_OK") == 2


def test_local_cluster_round9_trio_oracle_exact():
    out = _run(_R9_SCRIPT)
    assert out.count("LC_R9_OK") == 3


# Round-10 scenario: the residual IVFPQ chain (4 normalized-space Lloyd
# assignment passes + residual training aggregate + cell-aware ADC, all
# across cross-process shuffles and broadcasts) and a SQL-façade query
# (the string-parse path planning against catalog views from a real
# master). Same 2 GiB + PYTHONPATH rungs as the round-9 trio.
_R10_SCRIPT = _PRELUDE + r"""
def cluster_session_2g(app):
    b = (
        SparkSession.builder.master("local-cluster[2,2,2048]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.executor.memory", "2g")
        .config("spark.executorEnv.PYTHONPATH", os.getcwd())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(10).count()
    import time
    for _ in range(60):
        n = len(spark.sparkContext._jsc.sc().statusTracker().getExecutorInfos())
        if n >= 3:
            break
        time.sleep(1)
    assert n >= 3, n
    return spark

spark = cluster_session_2g("lc-round10")
from motorway_spark.queries import QUERIES, ORACLES
from motorway_spark.oracle import _duckdb_con, compare_frames

SF = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata").rstrip("/") + "/sf0.01"
con = _duckdb_con(SF)
for name in ("sim_ann_ivfpq_residual", "sql_facade_join_agg"):
    spark_pdf = QUERIES[name](spark, SF).toPandas()
    problems = compare_frames(spark_pdf, con.sql(ORACLES[name]).df())
    assert not problems, (name, problems[:3])
    print("LC_R10_OK", name, len(spark_pdf))
"""


def test_local_cluster_round10_pair_oracle_exact():
    out = _run(_R10_SCRIPT)
    assert out.count("LC_R10_OK") == 2


# Round-11 scenario: the string-key lakehouse lifecycle across real
# executor JVMs — ascending doc-id batches ride the exact-stats append
# proof, compact() folds the fragments, rebucket_policy() migrates the
# bucket count, and the table reads back exact through the SQL façade's
# manifest-table view — plus the new write-then-query-back registry
# query oracle-exact (same 2 GiB + PYTHONPATH rungs as the r9/r10
# scenarios).
_R11_SCRIPT = _PRELUDE + r"""
def cluster_session_2g(app):
    b = (
        SparkSession.builder.master("local-cluster[2,2,2048]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.executor.memory", "2g")
        .config("spark.executorEnv.PYTHONPATH", os.getcwd())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(10).count()
    import time
    for _ in range(60):
        n = len(spark.sparkContext._jsc.sc().statusTracker().getExecutorInfos())
        if n >= 3:
            break
        time.sleep(1)
    assert n >= 3, n
    return spark

spark = cluster_session_2g("lc-round11")
import json, tempfile
from pyspark.sql import functions as F
from motorway_spark.sinks import UpsertParquetSink

table = tempfile.mkdtemp(prefix="lc_stringkey_")
sink = UpsertParquetSink(spark, table, key_cols=["doc_id"], num_buckets=4)
def shard(lo, n):
    return spark.range(lo, lo + n).select(
        F.format_string("doc-%09d", F.col("id")).alias("doc_id"),
        F.col("id").alias("ts"))
for b in range(4):
    sink.upsert_batch(shard(b * 500, 500), batch_id=b)
ops = []
for nm in sorted(os.listdir(f"{table}/_mlog")):
    if nm.endswith(".delta.json"):
        with open(f"{table}/_mlog/{nm}") as fh:
            ops.append(json.load(fh)["op"])
assert ops[-1] == "append", ops  # exact string stats proved disjointness
assert sink.compact(max_files_per_bucket=1) == 4
# time travel across real executor JVMs: version 2 = first two shards
assert sink.read_version(2).count() == 1000
assert [h["seq"] for h in sink.history()][:2] == [5, 4]
rep = sink.rebucket_policy(target_rows_per_bucket=250, apply=True)
assert rep["applied"] and sink.num_buckets == 8, rep
# additive evolution: a wider batch merges; old rows read NULL
sink.upsert_batch(
    shard(4 * 500, 10).withColumn("lang", F.lit("en")), batch_id=9)
assert sink.read().filter("lang IS NULL").count() == 2000
from motorway_spark.sqlapi import sql as facade_sql
row = facade_sql(
    "SELECT COUNT(*) AS n, MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM t"
    " WHERE lang IS NULL",
    "/root/testdata/sf0.001", spark, tables={"t": table}).collect()[0]
assert (row["n"], row["lo"], row["hi"]) == (2000, "doc-000000000", "doc-000001999"), row
print("LC_R11_OK sink_lifecycle", row["n"])

from motorway_spark.queries import QUERIES, ORACLES
from motorway_spark.oracle import _duckdb_con, compare_frames
SF = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata").rstrip("/") + "/sf0.01"
con = _duckdb_con(SF)
name = "sql_facade_manifest_table"
spark_pdf = QUERIES[name](spark, SF).toPandas()
problems = compare_frames(spark_pdf, con.sql(ORACLES[name]).df())
assert not problems, (name, problems[:3])
print("LC_R11_OK", name, len(spark_pdf))
"""


def test_local_cluster_round11_string_lifecycle_and_facade():
    out = _run(_R11_SCRIPT)
    assert out.count("LC_R11_OK") == 2
