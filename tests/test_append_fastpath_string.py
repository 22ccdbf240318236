"""String-key append fast path: the sink records EXACT per-bucket key
ranges (klo/khi) in the manifest at write time — stats it computes from
the rows it writes, immune to parquet footer truncation — so the
disjointness proof extends to STRING keys (doc-id-keyed corpora, THE
flagship ingest shape). Replays the numeric fastpath suite on a
string-keyed registry: append taken for disjoint ranges, merge fallback
proven for overlaps, exact stats surviving merges / deletes / rebucket,
and recompute_key_stats() backfilling buckets the heal path re-listed."""

from __future__ import annotations

import json
import os

from pyspark.sql import Row

from motorway_spark.sinks import UpsertParquetSink


def _doc(i: int) -> str:
    return f"doc-{i:08d}"


def _df(spark, lo, hi, tag):
    return spark.createDataFrame(
        [Row(doc_id=_doc(i), ts=i, v=f"{tag}{i}") for i in range(lo, hi)],
        "doc_id string, ts bigint, v string",
    )


def _mk(spark, tmp_path, name="stab", n=40, buckets=8):
    table = str(tmp_path / name)
    sink = UpsertParquetSink(
        spark, table, key_cols=["doc_id"], num_buckets=buckets
    )
    sink.upsert_batch(_df(spark, 0, n, "v"), batch_id=0)
    return sink, table


def _ops(table):
    out = []
    for name in sorted(os.listdir(f"{table}/_mlog")):
        if name.endswith(".delta.json"):
            with open(f"{table}/_mlog/{name}") as fh:
                out.append(json.load(fh)["op"])
    return out


def test_disjoint_string_batch_appends_without_rewriting(spark, tmp_path):
    sink, table = _mk(spark, tmp_path)

    def fingerprint():
        out = {}
        for k, ent in sink._load_manifest()["buckets"].items():
            for f in ent["files"]:
                p = f"{table}/data/bucket={k}/{f}"
                out[f"{k}/{f}"] = (os.path.getsize(p), os.path.getmtime(p))
        return out

    before = fingerprint()
    # doc-00000100.. sorts above every existing doc-000000NN key
    sink.upsert_batch(_df(spark, 100, 120, "a"), batch_id=1)
    assert _ops(table)[-1] == "append"
    after = fingerprint()
    assert all(after[f] == before[f] for f in before)
    got = {r["doc_id"]: r["v"] for r in sink.read().collect()}
    assert len(got) == 60 and got[_doc(100)] == "a100" and got[_doc(5)] == "v5"
    assert sink.row_count() == 60
    # every entry carries exact sink-computed string ranges
    for ent in sink._load_manifest()["buckets"].values():
        assert isinstance(ent["klo"], str) and isinstance(ent["khi"], str)
        assert ent["klo"] <= ent["khi"]


def test_overlapping_string_batch_falls_back_to_merge(spark, tmp_path):
    sink, table = _mk(spark, tmp_path)
    sink.upsert_batch(
        spark.createDataFrame(
            [
                Row(doc_id=_doc(5), ts=999, v="upd"),
                Row(doc_id=_doc(200), ts=1, v="new"),
            ],
            "doc_id string, ts bigint, v string",
        ),
        batch_id=1,
    )
    assert _ops(table)[-1] == "merge"
    got = {r["doc_id"]: r["v"] for r in sink.read().collect()}
    assert got[_doc(5)] == "upd" and got[_doc(200)] == "new"
    assert sink.row_count() == 41
    # the merge UNIONED the exact range, so the NEXT disjoint batch
    # still rides the append path (the regression the exact stats fix)
    sink.upsert_batch(_df(spark, 300, 320, "b"), batch_id=2)
    assert _ops(table)[-1] == "append"
    assert sink.row_count() == 61


def test_null_string_key_falls_back(spark, tmp_path):
    sink, table = _mk(spark, tmp_path)
    sink.upsert_batch(
        spark.createDataFrame(
            [
                Row(doc_id=None, ts=1, v="n"),
                Row(doc_id=_doc(500), ts=1, v="x"),
            ],
            "doc_id string, ts bigint, v string",
        ),
        batch_id=1,
    )
    assert _ops(table)[-1] == "merge"  # eqNullSafe can match a NULL row
    assert sink.row_count() == 42
    # the NULL row never blocks later appends: klo/khi bound non-null
    # keys and a null-free batch can't key-match a NULL row
    sink.upsert_batch(_df(spark, 600, 610, "z"), batch_id=2)
    assert _ops(table)[-1] == "append"
    assert sink.row_count() == 52


def test_long_keys_beyond_footer_truncation_append_exactly(spark, tmp_path):
    """Keys long enough that parquet footer stats would truncate:
    exact sink-computed stats must still prove disjointness and read
    back the exact table."""
    table = str(tmp_path / "ltab")
    sink = UpsertParquetSink(spark, table, key_cols=["k"], num_buckets=4)
    pad = "x" * 4096

    def df(lo, hi, tag):
        return spark.createDataFrame(
            [Row(k=f"{pad}-{i:08d}", v=f"{tag}{i}") for i in range(lo, hi)],
            "k string, v string",
        )

    sink.upsert_batch(df(0, 30, "a"), batch_id=0)
    sink.upsert_batch(df(100, 130, "b"), batch_id=1)
    assert _ops(table)[-1] == "append"
    got = {r["k"]: r["v"] for r in sink.read().collect()}
    assert len(got) == 60
    assert got[f"{pad}-{100:08d}"] == "b100" and got[f"{pad}-{5:08d}"] == "a5"


def test_string_append_equals_merge_semantics(spark, tmp_path):
    ta, tb = str(tmp_path / "fast"), str(tmp_path / "slow")
    a = UpsertParquetSink(spark, ta, key_cols=["doc_id"], num_buckets=4)
    b = UpsertParquetSink(spark, tb, key_cols=["doc_id"], num_buckets=4)
    a.upsert_batch(_df(spark, 0, 30, "x"), batch_id=0)
    a.upsert_batch(_df(spark, 30, 60, "x"), batch_id=1)
    b.upsert_batch(_df(spark, 0, 60, "x").filter("ts % 2 = 0"), batch_id=0)
    b.upsert_batch(_df(spark, 0, 60, "x").filter("ts % 2 = 1"), batch_id=1)
    assert "append" in _ops(ta)
    rows_a = sorted((r["doc_id"], r["ts"], r["v"]) for r in a.read().collect())
    rows_b = sorted((r["doc_id"], r["ts"], r["v"]) for r in b.read().collect())
    assert rows_a == rows_b
    assert a.row_count() == b.row_count() == 60


def test_delete_carries_exact_range_forward(spark, tmp_path):
    """A delete rewrites buckets but only REMOVES keys, so the old
    exact range stays a sound bound — string appends keep working."""
    sink, table = _mk(spark, tmp_path)
    doomed = spark.createDataFrame([(_doc(5),), (_doc(7),)], "doc_id string")
    assert sink.delete_keys(doomed) == 2
    for ent in sink._load_manifest()["buckets"].values():
        assert "klo" in ent and "khi" in ent
    sink.upsert_batch(_df(spark, 100, 110, "a"), batch_id=3)
    assert _ops(table)[-1] == "append"
    assert sink.row_count() == 48


def test_rebucket_recomputes_exact_ranges(spark, tmp_path):
    sink, table = _mk(spark, tmp_path)
    sink.rebucket(16)
    m = sink._load_manifest()
    for ent in m["buckets"].values():
        assert isinstance(ent["klo"], str) and ent["klo"] <= ent["khi"]
    sink.upsert_batch(_df(spark, 200, 220, "r"), batch_id=5)
    assert _ops(table)[-1] == "append"
    assert sink.row_count() == 60


def test_recompute_key_stats_backfills_adopted_table(spark, tmp_path):
    """Buckets the heal path re-listed from disk carry only footer
    stats (string-unsound) -> merge path; recompute_key_stats()
    backfills exact ranges and unlocks the append path."""
    table = str(tmp_path / "healed")
    sink = UpsertParquetSink(spark, table, key_cols=["doc_id"], num_buckets=4)
    sink.upsert_batch(_df(spark, 0, 40, "v"), batch_id=0)
    # external mutation: every bucket's listed files vanish under new
    # names, so the next read heals each bucket from a fresh listing
    for k in sink._load_manifest()["buckets"]:
        live = f"{table}/data/bucket={k}"
        for i, f in enumerate(sorted(os.listdir(live))):
            if f.endswith(".parquet"):
                os.rename(f"{live}/{f}", f"{live}/part-renamed-{i}.parquet")
    assert sink.row_count() == 40  # heals every bucket
    m = sink._load_manifest()
    assert all("klo" not in e for e in m["buckets"].values())
    # without exact stats a disjoint string batch takes the merge path
    sink.upsert_batch(_df(spark, 100, 105, "m"), batch_id=1)
    assert _ops(table)[-1] == "merge"
    updated = sink.recompute_key_stats()
    assert updated == len(sink._load_manifest()["buckets"])
    assert sink.recompute_key_stats() == 0  # idempotent: nothing missing
    sink.upsert_batch(_df(spark, 200, 210, "a"), batch_id=2)
    assert _ops(table)[-1] == "append"
    got = {r["doc_id"]: r["v"] for r in sink.read().collect()}
    assert len(got) == 55 and got[_doc(200)] == "a200"


def test_array_column_table_keeps_fast_path_after_merge(spark, tmp_path):
    """Nested nullability (array containsNull) flipped by the COALESCE
    merge rewrite must not knock the table off the append path — the
    embedding-registry regression."""
    table = str(tmp_path / "vtab")
    sink = UpsertParquetSink(spark, table, key_cols=["k"], num_buckets=4)

    def vdf(lo, hi):
        return spark.createDataFrame(
            [Row(k=i, emb=[float(i), float(i + 1)]) for i in range(lo, hi)],
            "k bigint, emb array<double>",
        )

    sink.upsert_batch(vdf(0, 20), batch_id=0)
    # overlap forces ONE merge: the rewrite goes through COALESCE and
    # flips containsNull in the written files' schema
    sink.upsert_batch(vdf(10, 30), batch_id=1)
    assert _ops(table)[-1] == "merge"
    # subsequent disjoint batches must append again
    sink.upsert_batch(vdf(100, 120), batch_id=2)
    assert _ops(table)[-1] == "append"
    assert sink.row_count() == 50
