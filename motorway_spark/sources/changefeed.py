"""Changefeed (CDC) streaming source over an ``UpsertParquetSink``
manifest table — the missing leg of the reference's end-to-end
change-mover shape (``/root/reference/motorway/pipeline.py:65-92``:
ramp -> intersections -> sink): with this source a table WRITTEN by the
engine is also a change STREAM for downstream queries, so
stream -> table -> downstream-stream composes without re-scanning
snapshots.

Shape: Delta Lake's Change Data Feed, recomputed from the manifest log
plus retained replaced files instead of stored change files.

- **Offsets are commit seqs.** ``latestOffset`` is one driver-side log
  listing; each micro-batch covers the commits in ``(start, end]``.
  Spark's streaming checkpoint persists the offsets, so restart
  resumes at the exact commit boundary — every change row is delivered
  exactly once (no sink-side dedup needed).
- **One ``InputPartition`` per (commit, bucket)** — a wide commit's
  row diff fans out across the cluster; a narrow one costs one task.
  The file-level plan comes from ``UpsertParquetSink.changes_plan``
  (driver metadata only), the same plan the batch ``read_changes``
  executes, so the two surfaces can never disagree about WHAT changed.
- **Executor-side diff in Arrow.** A partition reads its bucket's
  before/after parquet files with pyarrow (readers in the Python Data
  Source API run off-session), aligns them to the stream schema
  (missing evolved columns -> NULL, widened types -> cast), hash-joins
  full-outer on the key columns, classifies insert / delete /
  update_preimage / update_postimage with vectorized compute kernels,
  and yields Arrow record batches — no per-row Python on the hot path.
  Appends skip the join entirely: the commit's added files stream out
  as inserts.

Schema is pinned at stream start (table schema + ``_change_type`` +
``_commit_seq``); columns added by later schema evolution appear after
a stream restart, the Delta-CDF behaviour. Reach is bounded by the log
and vacuum retention windows — a feed that falls behind them fails
with a clear restart-from-snapshot error instead of scanning a hole.
"""

from __future__ import annotations

import json

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from motorway_spark.sinks.upsert import UpsertParquetSink

CDC_TYPE_COL = "_change_type"
CDC_SEQ_COL = "_commit_seq"


def _data_schema(sink) -> StructType:
    """The table's data schema (manifest-recorded, ``bucket`` partition
    column excluded); partitions carry it to the executors as JSON."""
    schema = sink.table_schema()
    if not schema.fields:
        raise ValueError(
            "changefeed needs a manifest-recorded schema; no write to "
            "this table has recorded one yet"
        )
    return schema


class _ChangePartition(InputPartition):
    def __init__(
        self,
        seq: int,
        op: str,
        old_paths: list[str],
        new_paths: list[str],
        key_cols: list[str],
        schema_json: str,
    ):
        self.seq = seq
        self.op = op
        self.old_paths = old_paths
        self.new_paths = new_paths
        self.key_cols = key_cols
        self.schema_json = schema_json


class ManifestChangefeedReader(DataSourceStreamReader):
    def __init__(self, options):
        self.table_dir = options["path"].rstrip("/")
        self.since = int(options.get("sinceSeq", -1))
        sink = UpsertParquetSink.open(None, self.table_dir)
        self.key_cols = list(sink.key_cols)
        # pinned at stream start — evolution after this needs a restart
        self.schema_json = _data_schema(sink).json()

    def initialOffset(self) -> dict:
        return {"seq": self.since}

    def latestOffset(self) -> dict:
        # open() loads the manifest, which sets the current head seq
        sink = UpsertParquetSink.open(None, self.table_dir)
        return {"seq": max(sink._head_seq, self.since)}

    def partitions(self, start: dict, end: dict):
        s, e = int(start["seq"]), int(end["seq"])
        if e <= s:
            return [_ChangePartition(-1, "none", [], [], [], "")]
        sink = UpsertParquetSink.open(None, self.table_dir)
        items, _schema = sink.changes_plan(s, e)
        parts = [
            _ChangePartition(
                it["seq"],
                it["op"],
                old_p,
                new_p,
                self.key_cols,
                self.schema_json,
            )
            for it in items
            for old_p, new_p in it["buckets"].values()
        ]
        return parts or [_ChangePartition(-1, "none", [], [], [], "")]

    def read(self, partition: _ChangePartition):
        if partition.seq < 0:
            return
        yield from _diff_partition(partition)

    def commit(self, end: dict) -> None:
        # the manifest log is the source of truth and Spark's streaming
        # checkpoint owns the offsets; nothing to persist source-side
        pass


def _diff_partition(partition: _ChangePartition):
    """Executor-side change-row computation for ONE (commit, bucket):
    Arrow reads, Arrow hash join, vectorized classification. Yields
    ``pyarrow.RecordBatch`` objects matching the stream schema."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    spark_schema = StructType.fromJson(json.loads(partition.schema_json))
    data_schema = to_arrow_schema(spark_schema)
    names = [f.name for f in data_schema]
    keys = partition.key_cols
    nonkeys = [c for c in names if c not in keys]
    seq = partition.seq

    def load(paths: list[str]) -> "pa.Table":
        if not paths:
            return data_schema.empty_table()
        tables = []
        for p in paths:
            t = pq.read_table(p)
            cols = []
            for field in data_schema:
                if field.name in t.column_names:
                    c = t.column(field.name)
                    if c.type != field.type:
                        c = pc.cast(c, field.type)
                else:
                    # evolved column absent in an older file: NULL
                    c = pa.nulls(t.num_rows, field.type)
                cols.append(c)
            tables.append(
                pa.table(dict(zip(names, cols)), schema=data_schema)
            )
        return pa.concat_tables(tables)

    def emit(table: "pa.Table", change_type: str):
        n = table.num_rows
        if n == 0:
            return
        out = table.append_column(
            CDC_TYPE_COL, pa.array([change_type] * n, pa.string())
        ).append_column(CDC_SEQ_COL, pa.array([seq] * n, pa.int64()))
        yield from out.to_batches()

    if not partition.old_paths:  # append/bootstrap: pure inserts
        yield from emit(load(partition.new_paths), "insert")
        return
    if not partition.new_paths:  # bucket dropped: pure deletes
        yield from emit(load(partition.old_paths), "delete")
        return

    old = load(partition.old_paths)
    new = load(partition.new_paths)
    # presence markers survive the outer join where data columns can't
    # distinguish "absent row" from "NULL value"
    o2 = old.append_column("#po", pa.array([True] * old.num_rows))
    n2 = new.append_column("#pn", pa.array([True] * new.num_rows))
    j = o2.join(
        n2,
        keys=keys,
        join_type="full outer",
        left_suffix="#o",
        right_suffix="#n",
    ).combine_chunks()
    po = pc.fill_null(j["#po"], False)
    pn = pc.fill_null(j["#pn"], False)

    if nonkeys:
        eq = pa.array([True] * j.num_rows)
        for c in nonkeys:
            a, b = j[f"{c}#o"], j[f"{c}#n"]
            try:
                # null-safe equality: equal-and-valid OR both-null
                veq = pc.fill_null(pc.equal(a, b), False)
                both_null = pc.and_(pc.is_null(a), pc.is_null(b))
                col_eq = pc.or_(veq, both_null)
            except pa.lib.ArrowNotImplementedError:
                # complex type (list/struct/map): python compare, which
                # is already null-safe (None == None is True)
                col_eq = pa.array(
                    [x == y for x, y in zip(a.to_pylist(), b.to_pylist())],
                    pa.bool_(),
                )
            eq = pc.and_(eq, col_eq)
    else:
        eq = pa.array([True] * j.num_rows)

    def side(mask, suffix: str) -> "pa.Table":
        ft = j.filter(mask)
        cols = [
            ft[c] if c in keys else ft[f"{c}{suffix}"] for c in names
        ]
        return pa.table(dict(zip(names, cols)), schema=data_schema)

    ins_mask = pc.and_(pc.invert(po), pn)
    del_mask = pc.and_(po, pc.invert(pn))
    upd_mask = pc.and_(pc.and_(po, pn), pc.invert(eq))
    yield from emit(side(ins_mask, "#n"), "insert")
    yield from emit(side(del_mask, "#o"), "delete")
    yield from emit(side(upd_mask, "#o"), "update_preimage")
    yield from emit(side(upd_mask, "#n"), "update_postimage")


class ManifestChangefeedSource(DataSource):
    """``spark.readStream.format("manifest_changefeed")`` with options
    ``path`` (the table directory) and ``sinceSeq`` (exclusive start
    commit, default -1 = from the first commit). Registered by
    ``UpsertParquetSink.read_stream`` and
    ``motorway_spark.sources.register_all``."""

    @classmethod
    def name(cls) -> str:
        return "manifest_changefeed"

    def schema(self) -> StructType:
        sink = UpsertParquetSink.open(None, self.options["path"].rstrip("/"))
        data = _data_schema(sink)
        return StructType(
            list(data.fields)
            + [
                StructField(CDC_TYPE_COL, StringType(), False),
                StructField(CDC_SEQ_COL, LongType(), False),
            ]
        )

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return ManifestChangefeedReader(self.options)
