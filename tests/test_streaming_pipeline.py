"""End-to-end Structured Streaming pipeline tests.

Mirrors the reference's integration scenarios (BigQuerySinkConnectorIT):
records flow source -> convert/route -> warehouse, with upsert/delete
and batch-load variants. Kafka itself is stood in by a parquet-dir
stream with the same column contract (the connector jar isn't in the
test image)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_connect_bigquery_spark.config import SinkConfig
from kafka_connect_bigquery_spark.sinks.warehouse import Warehouse
from kafka_connect_bigquery_spark.sources.kafka import KAFKA_SCHEMA, file_stream_source
from kafka_connect_bigquery_spark.streaming.pipeline import SinkPipeline, retry_with_jitter

VALUE_SCHEMA = T.StructType(
    [
        T.StructField("row", T.LongType()),
        T.StructField("name", T.StringType()),
    ]
)


def _kafka_rows(rows):
    """[(key, value_dict_or_None, topic, partition, offset)] -> kafka-shaped tuples."""
    out = []
    for key, val, topic, part, off in rows:
        out.append(
            (
                key.encode() if key else None,
                json.dumps(val).encode() if val is not None else None,
                topic,
                part,
                off,
                None,
            )
        )
    return out


def _write_source(spark, tmp_path, rows, subdir="src"):
    src = str(tmp_path / subdir)
    spark.createDataFrame(_kafka_rows(rows), KAFKA_SCHEMA).write.mode("append").parquet(src)
    return src


def _run_stream(pipeline, spark, src_path, tmp_path, key_cols=None):
    stream = file_stream_source(spark, src_path)
    q = pipeline.start(stream, str(tmp_path / "ckpt"), key_cols=key_cols)
    q.processAllAvailable()
    q.stop()


def test_streaming_insert_path(spark, tmp_path):
    rows = [
        ("k1", {"row": 1, "name": "a"}, "topic_a", 0, 0),
        ("k2", {"row": 2, "name": "b"}, "topic_a", 0, 1),
        ("k3", None, "topic_a", 0, 2),  # tombstone -> filtered (F1)
        ("k4", {"row": 3, "name": "c"}, "topic_b", 0, 0),
    ]
    src = _write_source(spark, tmp_path, rows)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    cfg = SinkConfig(topics=["topic_a", "topic_b"], time_partitioning_type="NONE")
    pipe = SinkPipeline(
        warehouse=wh,
        config=cfg,
        value_parser=lambda c: F.from_json(c.cast("string"), VALUE_SCHEMA),
    )
    _run_stream(pipe, spark, src, tmp_path)
    a = wh.read("topic_a").orderBy("row").collect()
    assert [(r.row, r.name) for r in a] == [(1, "a"), (2, "b")]
    assert wh.read("topic_b").count() == 1


def test_streaming_insert_with_kafka_metadata_and_decorator(spark, tmp_path):
    rows = [("k1", {"row": 1, "name": "a"}, "t", 0, 7)]
    src = _write_source(spark, tmp_path, rows)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    cfg = SinkConfig(
        topics=["t"],
        kafka_data_field_name="kafkaData",
        use_partition_decorator=True,
        time_partitioning_type="DAY",
    )
    pipe = SinkPipeline(
        warehouse=wh,
        config=cfg,
        value_parser=lambda c: F.from_json(c.cast("string"), VALUE_SCHEMA),
    )
    _run_stream(pipe, spark, src, tmp_path)
    row = wh.read("t").first()
    assert row.kafkaData.offset == 7
    assert row.p_date is not None


def test_upsert_delete_path(spark, tmp_path):
    # IT-style scenario: pairs share a key keep the second; tombstone deletes
    rows = [
        ("u1", {"row": 1, "name": "first"}, "t", 0, 0),
        ("u1", {"row": 2, "name": "second"}, "t", 0, 1),
        ("u2", {"row": 3, "name": "gone"}, "t", 0, 2),
        ("u2", None, "t", 0, 3),  # tombstone after value -> delete
        ("u3", {"row": 4, "name": "stays"}, "t", 0, 4),
    ]
    src = _write_source(spark, tmp_path, rows)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    cfg = SinkConfig(
        topics=["t"],
        upsert_enabled=True,
        delete_enabled=True,
        errors_tolerance="none",
        kafka_key_field_name="kkey",
        time_partitioning_type="NONE",
    )
    pipe = SinkPipeline(
        warehouse=wh,
        config=cfg,
        value_parser=lambda c: F.from_json(c.cast("string"), VALUE_SCHEMA),
        key_parser=lambda c: c.cast("string"),
    )
    _run_stream(pipe, spark, src, tmp_path, key_cols=["kkey"])
    got = {r.kkey: r.name for r in wh.read("t").collect()}
    assert got == {"u1": "second", "u3": "stays"}


def test_streaming_merges_compose_with_time_travel_and_cdc(spark, tmp_path):
    """End-to-end composition: each streaming micro-batch MERGE commit
    is a readable snapshot, and read_changes yields the per-batch CDC
    feed — the audit trail of what each micro-batch did to the table."""
    from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec

    wh = Warehouse(spark, str(tmp_path / "wh"), snapshot_retention=4)
    cfg = SinkConfig(
        topics=["t"],
        upsert_enabled=True,
        delete_enabled=True,
        errors_tolerance="none",
        kafka_key_field_name="kkey",
        time_partitioning_type="NONE",
    )
    pipe = SinkPipeline(
        warehouse=wh,
        config=cfg,
        value_parser=lambda c: F.from_json(c.cast("string"), VALUE_SCHEMA),
        key_parser=lambda c: c.cast("string"),
        table_specs={"t": TableSpec(partition_grain="NONE", key_bucket_count=4)},
    )
    b0 = spark.createDataFrame(
        _kafka_rows(
            [
                ("u1", {"row": 1, "name": "first"}, "t", 0, 0),
                ("u2", {"row": 2, "name": "keep"}, "t", 0, 1),
            ]
        ),
        KAFKA_SCHEMA,
    )
    b1 = spark.createDataFrame(
        _kafka_rows(
            [
                ("u1", {"row": 3, "name": "updated"}, "t", 0, 2),
                ("u2", None, "t", 0, 3),  # tombstone
                ("u3", {"row": 4, "name": "new"}, "t", 0, 4),
            ]
        ),
        KAFKA_SCHEMA,
    )
    pipe.merge_batch(b0, 0, key_cols=["kkey"])
    pipe.merge_batch(b1, 1, key_cols=["kkey"])

    assert wh.snapshots("t") == [0, 1]
    v0 = {r.kkey: r.name for r in wh.read("t", version=0).collect()}
    assert v0 == {"u1": "first", "u2": "keep"}
    now = {r.kkey: r.name for r in wh.read("t").collect()}
    assert now == {"u1": "updated", "u3": "new"}
    changes = {
        (r["_change_type"], r["kkey"]): r["name"]
        for r in wh.read_changes("t", from_version=0).collect()
    }
    assert changes == {
        ("update", "u1"): "updated",
        ("delete", "u2"): "keep",
        ("insert", "u3"): "new",
    }


def test_streaming_merge_maintains_rollup(spark, tmp_path):
    """A RollupMaintainer attached to the pipeline keeps its aggregate
    table fresh per micro-batch through the CDC feed; a detached
    (lagging) maintainer catches up across multiple versions in one
    refresh — the crash-between-merge-and-refresh story."""
    from kafka_connect_bigquery_spark.operators import rollup as R
    from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec

    wh = Warehouse(spark, str(tmp_path / "wh"), snapshot_retention=4)
    cfg = SinkConfig(
        topics=["t"],
        upsert_enabled=True,
        delete_enabled=True,
        errors_tolerance="none",
        kafka_key_field_name="kkey",
        time_partitioning_type="NONE",
    )
    measures = {
        "n": F.lit(1).cast("bigint"),
        "sum_row": F.col("row").cast("bigint"),
    }
    live = R.RollupMaintainer(
        wh, "t", "t_by_name", ["name"], measures, count_measure="n"
    )
    lagging = R.RollupMaintainer(
        wh, "t", "t_by_name_lag", ["name"], measures, count_measure="n"
    )
    pipe = SinkPipeline(
        warehouse=wh,
        config=cfg,
        value_parser=lambda c: F.from_json(c.cast("string"), VALUE_SCHEMA),
        key_parser=lambda c: c.cast("string"),
        table_specs={"t": TableSpec(partition_grain="NONE", key_bucket_count=4)},
        rollup_maintainers={"t": [live]},
    )
    b0 = spark.createDataFrame(
        _kafka_rows(
            [
                ("u1", {"row": 1, "name": "a"}, "t", 0, 0),
                ("u2", {"row": 2, "name": "a"}, "t", 0, 1),
                ("u3", {"row": 3, "name": "b"}, "t", 0, 2),
            ]
        ),
        KAFKA_SCHEMA,
    )
    b1 = spark.createDataFrame(
        _kafka_rows(
            [
                ("u1", {"row": 4, "name": "b"}, "t", 0, 3),  # group move a->b
                ("u3", None, "t", 0, 4),                      # delete
                ("u4", {"row": 5, "name": "c"}, "t", 0, 5),   # new group
            ]
        ),
        KAFKA_SCHEMA,
    )

    def snap(table):
        return {
            (r["name"], r["n"], r["sum_row"]) for r in wh.read(table).collect()
        }

    def recomputed():
        return {
            (r["name"], r["n"], r["sum_row"])
            for r in R.build_rollup(wh.read_bucketed("t"), ["name"], measures).collect()
        }

    pipe.merge_batch(b0, 0, key_cols=["kkey"])
    assert snap("t_by_name") == recomputed() == {("a", 2, 3), ("b", 1, 3)}
    pipe.merge_batch(b1, 1, key_cols=["kkey"])
    assert snap("t_by_name") == recomputed() == {("a", 1, 2), ("b", 1, 4), ("c", 1, 5)}
    assert live.refresh() == 0  # already current

    # the lagging consumer never ran: one refresh spans both versions
    assert lagging.refresh() >= 1
    assert snap("t_by_name_lag") == recomputed()


def test_streaming_ivm_is_incremental_with_one_cdc_read_per_batch(
    spark, tmp_path, monkeypatch
):
    """A rollup and an HLL sketch attached to one table stay EQUAL to a
    direct rebuild batch after batch WITHOUT rebuilding: after the first
    batch both ``_rebuild`` methods raise, so every later refresh must
    take the incremental path. Both consumers share one CDC read per
    batch, and the rollup table carries no ingestion-time partition
    column (a ``p_date`` there would break the incremental delta)."""
    from kafka_connect_bigquery_spark.operators import rollup as R
    from kafka_connect_bigquery_spark.operators import sketch as SK
    from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec

    wh = Warehouse(spark, str(tmp_path / "wh"))
    cfg = SinkConfig(
        topics=["t"],
        upsert_enabled=True,
        delete_enabled=True,
        errors_tolerance="none",
        kafka_key_field_name="kkey",
    )
    measures = {"n": F.lit(1).cast("bigint"), "sum_row": F.col("row").cast("bigint")}
    rollup = R.RollupMaintainer(
        wh, "t", "t_by_name", ["name"], measures, count_measure="n"
    )
    hll = SK.SketchMaintainer(wh, "t", "t_row_hll", "row", ["name"], kind="hll")
    pipe = SinkPipeline(
        warehouse=wh,
        config=cfg,
        value_parser=lambda c: F.from_json(c.cast("string"), VALUE_SCHEMA),
        key_parser=lambda c: c.cast("string"),
        table_specs={"t": TableSpec(partition_grain="NONE", key_bucket_count=4)},
        rollup_maintainers={"t": [rollup, hll]},
    )
    batches = [
        [
            ("u1", {"row": 1, "name": "a"}, "t", 0, 0),
            ("u2", {"row": 2, "name": "a"}, "t", 0, 1),
            ("u3", {"row": 3, "name": "b"}, "t", 0, 2),
        ],
        [
            ("u1", {"row": 4, "name": "b"}, "t", 0, 3),  # group move a->b
            ("u3", None, "t", 0, 4),                      # delete
            ("u4", {"row": 5, "name": "c"}, "t", 0, 5),   # new group
        ],
        [
            ("u2", {"row": 6, "name": "a"}, "t", 0, 6),   # in-group update
            ("u4", None, "t", 0, 7),                      # group emptied
            ("u5", {"row": 7, "name": "b"}, "t", 0, 8),
        ],
    ]

    def rows(df, *cols):
        return {tuple(r) for r in df.select(*cols).collect()}

    def check():
        src = wh.read_bucketed("t")
        assert rows(wh.read("t_by_name"), "name", "n", "sum_row") == rows(
            R.build_rollup(src, ["name"], measures), "name", "n", "sum_row"
        )
        assert rows(wh.read("t_row_hll"), "name", "register", "rho") == rows(
            SK.hll_build_grouped(src, "row", ["name"]), "name", "register", "rho"
        )

    def run(i):
        batch = spark.createDataFrame(_kafka_rows(batches[i]), KAFKA_SCHEMA)
        pipe.merge_batch(batch, i, key_cols=["kkey"])

    run(0)
    check()

    def no_rebuild(self):
        raise AssertionError(f"{type(self).__name__} rebuilt instead of applying its CDC span")

    monkeypatch.setattr(R.RollupMaintainer, "_rebuild", no_rebuild)
    monkeypatch.setattr(SK.SketchMaintainer, "_rebuild", no_rebuild)
    calls = []
    read_changes = Warehouse.read_changes

    def counted(self, *a, **kw):
        calls.append(kw.get("from_version"))
        return read_changes(self, *a, **kw)

    monkeypatch.setattr(Warehouse, "read_changes", counted)
    for i in (1, 2):
        calls.clear()
        run(i)
        assert len(calls) == 1, calls
        check()
    assert rollup.cursor() == hll.cursor() == int(wh.layout_meta("t")["generation"])
    assert "p_date" not in wh.read("t_by_name").columns


def test_upsert_delete_with_bucketed_layout(spark, tmp_path):
    """The streaming merge path honors TableSpec.key_bucket_count:
    state lands in a __bucket= layout and upsert/delete semantics hold."""
    import os
    from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec

    rows = [
        ("u1", {"row": 1, "name": "first"}, "t", 0, 0),
        ("u1", {"row": 2, "name": "second"}, "t", 0, 1),
        ("u2", {"row": 3, "name": "gone"}, "t", 0, 2),
        ("u2", None, "t", 0, 3),
    ]
    src = _write_source(spark, tmp_path, rows)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    cfg = SinkConfig(
        topics=["t"],
        upsert_enabled=True,
        delete_enabled=True,
        errors_tolerance="none",
        kafka_key_field_name="kkey",
        time_partitioning_type="NONE",
    )
    pipe = SinkPipeline(
        warehouse=wh,
        config=cfg,
        value_parser=lambda c: F.from_json(c.cast("string"), VALUE_SCHEMA),
        key_parser=lambda c: c.cast("string"),
        table_specs={"t": TableSpec(partition_grain="NONE", key_bucket_count=4)},
    )
    _run_stream(pipe, spark, src, tmp_path, key_cols=["kkey"])
    got = {r.kkey: r.name for r in wh.read_bucketed("t").collect()}
    assert got == {"u1": "second"}
    assert wh.layout_meta("t").get("generations"), "state should land bucketed"
    assert "_buckets" in os.listdir(wh.path("t"))


def test_batch_load_path(spark, tmp_path):
    rows = [("k", {"row": 1, "name": "x"}, "t", 0, 0)]
    src = _write_source(spark, tmp_path, rows)
    staging = str(tmp_path / "staging")
    wh = Warehouse(spark, str(tmp_path / "wh"))
    cfg = SinkConfig(
        topics=["t"],
        enable_batch_load_topics=["t"],
        gcs_staging_dir=staging,
        time_partitioning_type="NONE",
    )
    pipe = SinkPipeline(
        warehouse=wh,
        config=cfg,
        value_parser=lambda c: F.from_json(c.cast("string"), VALUE_SCHEMA),
    )
    _run_stream(pipe, spark, src, tmp_path)
    # staged but not yet loaded
    assert not wh.exists("t")
    loaded = pipe.load_staged(staging)
    assert loaded == ["t"]
    assert wh.read("t").count() == 1
    # second tick: nothing pending (blobs deleted after load)
    assert pipe.load_staged(staging) == []


def test_tombstone_only_batch(spark, tmp_path):
    """Reference edge case (SchemaManager.java:311-319): a batch of
    only tombstones must delete its keys and leave the table schema
    intact — no value schemas to infer from."""
    rows1 = [
        ("u1", {"row": 1, "name": "a"}, "t", 0, 0),
        ("u2", {"row": 2, "name": "b"}, "t", 0, 1),
    ]
    src = _write_source(spark, tmp_path, rows1)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    cfg = SinkConfig(
        topics=["t"],
        upsert_enabled=True,
        delete_enabled=True,
        errors_tolerance="none",
        kafka_key_field_name="kkey",
        time_partitioning_type="NONE",
    )

    def mk_pipe():
        return SinkPipeline(
            warehouse=wh,
            config=cfg,
            value_parser=lambda c: F.from_json(c.cast("string"), VALUE_SCHEMA),
            key_parser=lambda c: c.cast("string"),
        )

    _run_stream(mk_pipe(), spark, src, tmp_path, key_cols=["kkey"])
    schema_before = wh.read("t").schema
    # second stream delivery: tombstones only
    _write_source(spark, tmp_path, [("u1", None, "t", 0, 2)])
    _run_stream(mk_pipe(), spark, src, tmp_path, key_cols=["kkey"])
    got = {r.kkey: r.name for r in wh.read("t").collect()}
    assert got == {"u2": "b"}
    assert wh.read("t").schema == schema_before


def test_checkpoint_restart_no_duplicates(spark, tmp_path):
    """T5 exactly-once: stop the query, append new source data, restart
    with the same checkpoint — previously-committed batches are not
    re-appended, new data flows."""
    rows1 = [("k1", {"row": 1, "name": "a"}, "t", 0, 0)]
    rows2 = [("k2", {"row": 2, "name": "b"}, "t", 0, 1)]
    src = _write_source(spark, tmp_path, rows1)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    cfg = SinkConfig(topics=["t"], time_partitioning_type="NONE")

    def mk_pipe():
        return SinkPipeline(
            warehouse=wh,
            config=cfg,
            value_parser=lambda c: F.from_json(c.cast("string"), VALUE_SCHEMA),
        )

    _run_stream(mk_pipe(), spark, src, tmp_path)
    assert wh.read("t").count() == 1
    # restart against the same checkpoint with more source data
    _write_source(spark, tmp_path, rows2)
    _run_stream(mk_pipe(), spark, src, tmp_path)
    got = sorted((r.row, r.name) for r in wh.read("t").collect())
    assert got == [(1, "a"), (2, "b")]  # row 1 not duplicated


def test_offset_dedup_and_observe_metrics(spark, tmp_path):
    """S2 row-id dedup: duplicated (topic, partition, offset) rows —
    e.g. a replayed source segment — collapse to one; A3 counters are
    observed on the batch plan."""
    rows = [
        ("k1", {"row": 1, "name": "a"}, "t", 0, 0),
        ("k1", {"row": 1, "name": "a"}, "t", 0, 0),  # exact replay dup
        ("k2", {"row": 2, "name": "b"}, "t", 0, 1),
        ("k3", None, "t", 0, 2),  # tombstone (filtered, but counted)
    ]
    src = _write_source(spark, tmp_path, rows)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    cfg = SinkConfig(topics=["t"], time_partitioning_type="NONE")
    pipe = SinkPipeline(
        warehouse=wh,
        config=cfg,
        value_parser=lambda c: F.from_json(c.cast("string"), VALUE_SCHEMA),
    )
    _run_stream(pipe, spark, src, tmp_path)
    got = sorted((r.row, r.name) for r in wh.read("t").collect())
    assert got == [(1, "a"), (2, "b")]  # dup collapsed, tombstone dropped
    assert pipe.last_metrics["n_records"] == 4
    assert pipe.last_metrics["n_tombstones"] == 1


def test_retry_with_jitter_classification():
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise OSError("retriable")
        return "ok"

    sleeps = []
    out = retry_with_jitter(
        flaky, retries=5, wait_ms=10, classify=lambda e: isinstance(e, OSError),
        sleep=sleeps.append,
    )
    assert out == "ok" and calls["n"] == 3 and len(sleeps) == 2

    with pytest.raises(ValueError):
        retry_with_jitter(
            lambda: (_ for _ in ()).throw(ValueError("fatal")),
            retries=5,
            wait_ms=10,
            classify=lambda e: isinstance(e, OSError),
            sleep=lambda s: None,
        )


def test_streaming_quarantine_constraints_do_not_stall_stream(spark, tmp_path):
    """A poison record in a micro-batch must not stall ingestion: with
    TableSpec(constraints=..., constraint_mode='quarantine') on the
    routed table, the streaming append diverts violating rows to
    <table>__quarantine and commits the batch — the engine-side DLQ
    posture (the reference routes unconvertible records to the error
    reporter rather than failing the task)."""
    from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec

    rows = [
        ("k1", {"row": 1, "name": "ok"}, "topic_a", 0, 0),
        ("k2", {"row": -5, "name": "poison"}, "topic_a", 0, 1),  # row < 0
        ("k3", {"row": 2, "name": "ok2"}, "topic_a", 0, 2),
    ]
    src = _write_source(spark, tmp_path, rows)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    cfg = SinkConfig(topics=["topic_a"], time_partitioning_type="NONE")
    spec = TableSpec(
        partition_grain="NONE",
        constraints=(("row_nonneg", "row >= 0"),),
        constraint_mode="quarantine",
    )
    pipe = SinkPipeline(
        warehouse=wh,
        config=cfg,
        value_parser=lambda c: F.from_json(c.cast("string"), VALUE_SCHEMA),
        table_specs={"topic_a": spec},
    )
    _run_stream(pipe, spark, src, tmp_path)

    assert {r["row"] for r in wh.read("topic_a").collect()} == {1, 2}
    q = wh.read("topic_a__quarantine").collect()
    assert [(r["row"], r["_violated"]) for r in q] == [(-5, ["row_nonneg"])]

    # fail mode on the streaming path surfaces loudly instead
    rows2 = [("k9", {"row": -1, "name": "bad"}, "topic_a", 0, 3)]
    src2 = _write_source(spark, tmp_path, rows2, subdir="src2")
    pipe2 = SinkPipeline(
        warehouse=wh,
        config=cfg,
        value_parser=lambda c: F.from_json(c.cast("string"), VALUE_SCHEMA),
        table_specs={
            "topic_a": TableSpec(
                partition_grain="NONE", constraints=(("row_nonneg", "row >= 0"),)
            )
        },
    )
    from pyspark.errors import StreamingQueryException

    stream = file_stream_source(spark, src2)
    q2 = pipe2.start(stream, str(tmp_path / "ckpt2"))
    with pytest.raises(StreamingQueryException, match="row_nonneg"):
        q2.processAllAvailable()
    q2.stop()


def test_load_staged_groups_jobs_under_caps(spark, tmp_path):
    """GCSToBQLoadRunnable parity (:71-73,101-139): one load job per
    table per tick, claiming staged batches in order only while under
    the file/byte caps; leftovers stay staged for the next tick, and a
    single over-cap batch still loads alone (progress guarantee)."""
    staging = str(tmp_path / "staging")
    wh = Warehouse(spark, str(tmp_path / "wh"))
    cfg = SinkConfig(
        topics=["t"],
        enable_batch_load_topics=["t"],
        gcs_staging_dir=staging,
        time_partitioning_type="NONE",
    )
    pipe = SinkPipeline(
        warehouse=wh,
        config=cfg,
        value_parser=lambda c: F.from_json(c.cast("string"), VALUE_SCHEMA),
    )
    for bid in range(3):
        batch = spark.createDataFrame(
            [
                (
                    bytearray(b"k"),
                    bytearray(
                        ('{"row": %d, "name": "b%d"}' % (bid, bid)).encode()
                    ),
                    "t", 0, bid, None,
                )
            ],
            "key: binary, value: binary, topic: string, partition: int, "
            "offset: long, timestamp: timestamp",
        )
        pipe.stage_batch(batch, bid, staging)
    # cap of 1 file per job: three ticks drain one batch each, in order
    assert pipe.load_staged(staging, max_files_per_job=1) == ["t"]
    assert sorted(r.row for r in wh.read("t").collect()) == [0]
    assert pipe.load_staged(staging, max_files_per_job=1) == ["t"]
    assert pipe.load_staged(staging, max_files_per_job=1) == ["t"]
    assert sorted(r.row for r in wh.read("t").collect()) == [0, 1, 2]
    assert pipe.load_staged(staging, max_files_per_job=1) == []
    # byte cap below a single batch: the oversized batch loads ALONE
    pipe.stage_batch(
        spark.createDataFrame(
            [
                (bytearray(b"k"), bytearray(b'{"row": 9, "name": "big"}'),
                 "t", 0, 9, None)
            ],
            "key: binary, value: binary, topic: string, partition: int, "
            "offset: long, timestamp: timestamp",
        ),
        9,
        staging,
    )
    assert pipe.load_staged(staging, max_bytes_per_job=1) == ["t"]
    assert sorted(r.row for r in wh.read("t").collect()) == [0, 1, 2, 9]


def test_streaming_keeps_hll_sketch_index_fresh(spark, tmp_path):
    """Once record_sketch has run, every streaming micro-batch append
    refreshes the per-file HLL index through the warehouse hook — so a
    dashboard's metadata-only approx_distinct never lags the stream.
    Cross-checked against the pure-Python register oracle."""
    from tests.test_sketch_index import py_hll_estimate

    rows1 = [
        ("k%d" % i, {"row": i, "name": "n%d" % (i % 5)}, "t", 0, i)
        for i in range(8)
    ]
    src = _write_source(spark, tmp_path, rows1)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    cfg = SinkConfig(topics=["t"], time_partitioning_type="NONE")
    pipe = SinkPipeline(
        warehouse=wh,
        config=cfg,
        value_parser=lambda c: F.from_json(c.cast("string"), VALUE_SCHEMA),
    )
    _run_stream(pipe, spark, src, tmp_path)
    wh.record_sketch("t", ["name"])
    est = wh.approx_distinct("t", "name").collect()[0].asDict()
    assert est == py_hll_estimate({"n%d" % (i % 5) for i in range(8)})
    # second micro-batch arrives: the append hook must index its files
    rows2 = [
        ("k%d" % i, {"row": i, "name": "n%d" % (i % 11)}, "t", 0, i)
        for i in range(8, 30)
    ]
    _write_source(spark, tmp_path, rows2)
    _run_stream(pipe, spark, src, tmp_path)  # same checkpoint: only new offsets
    est2 = wh.approx_distinct("t", "name").collect()[0].asDict()
    want = {"n%d" % (i % 5) for i in range(8)} | {
        "n%d" % (i % 11) for i in range(8, 30)
    }
    assert est2 == py_hll_estimate(want)


# ---------------------------------------------------------------------------
# errors.tolerance / dead-letter routing (r08)
# ---------------------------------------------------------------------------


def _raw_kafka_rows(rows):
    """[(key_bytes, value_bytes, topic, part, off)] verbatim — lets a
    test feed deliberately malformed value bytes."""
    return [(k, v, t, p, o, None) for k, v, t, p, o in rows]


def test_dlq_routes_malformed_and_keeps_tombstones(spark, tmp_path):
    from kafka_connect_bigquery_spark.streaming.pipeline import json_value_parser

    rows = [
        (b"k1", b'{"row": 1, "name": "a"}', "t1", 0, 0),
        (b"k2", b"{definitely not json", "t1", 0, 1),   # -> DLQ
        (b"k3", None, "t1", 0, 2),                      # tombstone: NOT an error
        (b"k4", b'{"row": "zz"}', "t1", 0, 3),          # type mismatch -> DLQ
        (b"k5", b'{"row": 5, "name": "e"}', "t1", 0, 4),
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(_raw_kafka_rows(rows), KAFKA_SCHEMA).write.parquet(src)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    cfg = SinkConfig(
        topics=["t1"],
        time_partitioning_type="NONE",
        errors_tolerance="all",
        dead_letter_table="t1_dlq",
    )
    pipe = SinkPipeline(
        warehouse=wh, config=cfg, value_parser=json_value_parser(VALUE_SCHEMA)
    )
    _run_stream(pipe, spark, src, tmp_path)
    good = {(r["row"], r["name"]) for r in wh.read("t1").collect()}
    assert good == {(1, "a"), (5, "e")}
    # no leaked corrupt-record column on the destination
    assert "_corrupt_record" not in wh.read("t1").columns
    dlq = {
        (r["offset"], r["error"]) for r in wh.read("t1_dlq").collect()
    }
    assert dlq == {(1, "value_conversion_failed"), (3, "value_conversion_failed")}
    import base64

    raws = {
        base64.b64decode(r["value_b64"]) for r in wh.read("t1_dlq").collect()
    }
    assert raws == {b"{definitely not json", b'{"row": "zz"}'}


def test_dlq_malformed_never_tombstones_in_delete_mode(spark, tmp_path):
    from kafka_connect_bigquery_spark.streaming.pipeline import json_value_parser

    rows1 = [(b"k1", b'{"row": 1, "name": "a"}', "st", 0, 0)]
    # a corrupt message for the SAME key must not delete it
    rows2 = [(b"k1", b"{corrupt!!", "st", 0, 1)]
    src = str(tmp_path / "src")
    spark.createDataFrame(_raw_kafka_rows(rows1), KAFKA_SCHEMA).write.mode(
        "append"
    ).parquet(src)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    cfg = SinkConfig(
        topics=["st"],
        upsert_enabled=True,
        delete_enabled=True,
        kafka_key_field_name="kkey",
        time_partitioning_type="NONE",
        errors_tolerance="all",
        dead_letter_table="st_dlq",
    )
    from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec

    pipe = SinkPipeline(
        warehouse=wh,
        config=cfg,
        value_parser=json_value_parser(VALUE_SCHEMA),
        key_parser=lambda c: c.cast("string"),
        table_specs={"st": TableSpec(partition_grain="NONE", key_bucket_count=2)},
    )
    stream = file_stream_source(spark, src)
    q = pipe.start(stream, str(tmp_path / "ckpt"), key_cols=["kkey"])
    q.processAllAvailable()
    spark.createDataFrame(_raw_kafka_rows(rows2), KAFKA_SCHEMA).write.mode(
        "append"
    ).parquet(src)
    q.processAllAvailable()
    q.stop()
    assert {(r["kkey"], r["row"]) for r in wh.read("st").collect()} == {("k1", 1)}
    assert wh.read("st_dlq").count() == 1


def test_errors_tolerance_none_fails_the_stream(spark, tmp_path):
    from kafka_connect_bigquery_spark.streaming.pipeline import json_value_parser

    rows = [
        (b"k1", b'{"row": 1, "name": "a"}', "t1", 0, 0),
        (b"k2", b"{broken", "t1", 0, 1),
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(_raw_kafka_rows(rows), KAFKA_SCHEMA).write.parquet(src)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    cfg = SinkConfig(
        topics=["t1"], time_partitioning_type="NONE", errors_tolerance="none"
    )
    pipe = SinkPipeline(
        warehouse=wh, config=cfg, value_parser=json_value_parser(VALUE_SCHEMA)
    )
    stream = file_stream_source(spark, src)
    q = pipe.start(stream, str(tmp_path / "ckpt"))
    with pytest.raises(Exception, match="conversion failed at t1-0:1"):
        q.processAllAvailable()
    q.stop()


def test_dlq_config_validation():
    from kafka_connect_bigquery_spark.config import ConfigError

    with pytest.raises(ConfigError, match="errors_tolerance"):
        SinkConfig(topics=["a"], errors_tolerance="sometimes").validate()
    with pytest.raises(ConfigError, match="dead_letter_table"):
        SinkConfig(topics=["a"], dead_letter_table="dlq").validate()


def test_delete_mode_rejects_permissive_tolerance():
    """Delete mode + permissive tolerance is a silent-DELETE hazard: a
    conversion failure becomes a NULL value, and delete mode treats a
    NULL value as a tombstone. validate() must refuse the combination
    (the reference deployment fails fast: Connect errors.tolerance=none
    by default, BigQuerySinkConfig.java error-handling posture)."""
    from kafka_connect_bigquery_spark.config import ConfigError

    base = dict(
        topics=["a"],
        upsert_enabled=True,
        delete_enabled=True,
        kafka_key_field_name="kkey",
    )
    with pytest.raises(ConfigError, match="tombstone"):
        SinkConfig(**base).validate()  # default tolerance is permissive
    SinkConfig(**base, errors_tolerance="none").validate()
    SinkConfig(
        **base, errors_tolerance="all", dead_letter_table="dlq"
    ).validate()
    # permissive remains valid for append-only pipelines (historical
    # default) and for upsert-without-delete (no tombstone semantics).
    SinkConfig(topics=["a"]).validate()
    SinkConfig(
        topics=["a"], upsert_enabled=True, kafka_key_field_name="kkey"
    ).validate()


# ---------------------------------------------------------------------------
# Real-Kafka-shaped source witness (r11, from r09 ask #5): drive the
# EXACT Kafka source column contract through kafka_stream_source
# (sources/kafka.py:38) verbatim and on through SinkPipeline, so the
# only untested delta vs a live broker is the socket itself. Mirrors
# the reference IT (kcbq-test BigQuerySinkConnectorIT.java:238-252:
# embedded Kafka + Schema Registry -> connector -> table assertion).
# ---------------------------------------------------------------------------


# what spark.readStream.format("kafka").load() REALLY emits: the 6
# contract columns PLUS timestampType — kafka_stream_source's select
# must prune it, so the stand-in load() serves all 7
_KAFKA_WIRE_SCHEMA = T.StructType(
    list(KAFKA_SCHEMA.fields)
    + [T.StructField("timestampType", T.IntegerType(), True)]
)


class _RecordingReadStream:
    """Stands in for ``spark.readStream``: records every format/option
    call verbatim, then serves ``load()`` from a parquet dir carrying
    Spark's real kafka-source shape. kafka_stream_source runs
    UNMODIFIED — builder lines, option routing, and the projection are
    all exercised; only the socket is faked."""

    def __init__(self, spark, src):
        self._spark = spark
        self._src = src
        self.fmt = None
        self.options: dict[str, str] = {}

    def format(self, fmt):
        self.fmt = fmt
        return self

    def option(self, k, v):
        self.options[str(k)] = str(v)
        return self

    def load(self):
        assert self.fmt == "kafka", self.fmt
        return (
            self._spark.readStream.schema(_KAFKA_WIRE_SCHEMA)
            .option("maxFilesPerTrigger", "10")
            .parquet(self._src)
        )


_AVRO_VALUE_SCHEMA = {
    "type": "record",
    "name": "val",
    "fields": [
        {"name": "row", "type": "long"},
        {"name": "name", "type": ["null", "string"], "default": None},
    ],
}


def test_kafka_source_contract_through_pipeline(spark, tmp_path):
    """Binary keys, CONFLUENT-FRAMED Avro values, tombstones, absent
    timestamps (a CreateTime of -1 surfaces as NULL), interleaved
    partitions with gapped offsets, subscribePattern subscription, and
    declarative backpressure — the full Kafka wire contract — flow
    through kafka_stream_source verbatim into the upsert+delete
    pipeline, landing the reference IT's expected table state."""
    import datetime as dt
    from types import SimpleNamespace

    from kafka_connect_bigquery_spark.schema.avro import (
        avro_value_parser,
        make_encoder,
    )
    from kafka_connect_bigquery_spark.sources.kafka import kafka_stream_source

    enc = make_encoder(json.dumps(_AVRO_VALUE_SCHEMA))

    def framed(v):  # Confluent wire format: magic 0x00 + 4-byte schema id
        return None if v is None else b"\x00\x00\x00\x00\x2a" + enc(v)

    ts = dt.datetime(2024, 1, 5, 12, 0, 0)
    rows = [
        # (key, value, topic, partition, offset, timestamp, timestampType)
        (b"u1", framed({"row": 1, "name": "first"}), "tp.orders", 0, 3, ts, 0),
        (b"u1", framed({"row": 2, "name": "second"}), "tp.orders", 0, 9, ts, 0),
        (b"u2", framed({"row": 3, "name": "gone"}), "tp.orders", 1, 0, None, 1),
        (b"u2", framed(None), "tp.orders", 1, 7, None, 1),  # tombstone
        (b"u3", framed({"row": 4, "name": None}), "tp.orders", 0, 12, ts, 0),
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, _KAFKA_WIRE_SCHEMA).write.parquet(src)

    cfg = SinkConfig(
        topics_regex=r"tp\..*",
        upsert_enabled=True,
        delete_enabled=True,
        errors_tolerance="none",
        kafka_key_field_name="kkey",
        sanitize_topics=True,
        time_partitioning_type="NONE",
    )
    recorder = _RecordingReadStream(spark, src)
    stream = kafka_stream_source(
        SimpleNamespace(readStream=recorder),
        cfg,
        "broker1:9092,broker2:9092",
        max_offsets_per_trigger=500,
    )
    # the subscription options the reference drives through consumer
    # config (topics.regex, backpressure) were recorded verbatim
    assert recorder.options["kafka.bootstrap.servers"] == "broker1:9092,broker2:9092"
    assert recorder.options["subscribePattern"] == r"tp\..*"
    assert "subscribe" not in recorder.options
    assert recorder.options["startingOffsets"] == "earliest"
    assert recorder.options["failOnDataLoss"] == "false"
    assert recorder.options["maxOffsetsPerTrigger"] == "500"
    # the projection pruned timestampType and kept the 6-column contract
    assert stream.columns == ["key", "value", "topic", "partition", "offset", "timestamp"]
    assert isinstance(stream.schema["key"].dataType, T.BinaryType)
    assert isinstance(stream.schema["value"].dataType, T.BinaryType)

    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = SinkPipeline(
        warehouse=wh,
        config=cfg,
        value_parser=avro_value_parser(
            spark, json.dumps(_AVRO_VALUE_SCHEMA), confluent_framed=True
        ),
        key_parser=lambda c: c.cast("string"),
    )
    q = pipe.start(stream, str(tmp_path / "ckpt"), key_cols=["kkey"])
    q.processAllAvailable()
    q.stop()
    got = {r["kkey"]: (r["row"], r["name"]) for r in wh.read("tp_orders").collect()}
    assert got == {"u1": (2, "second"), "u3": (4, None)}


def test_kafka_source_subscribe_list_options(spark, tmp_path):
    """The topics-list form of the subscription contract: comma-joined
    `subscribe`, no pattern, and no backpressure option when the knob
    is absent (reference: BigQuerySinkConfig topics vs topics.regex)."""
    from types import SimpleNamespace

    from kafka_connect_bigquery_spark.sources.kafka import kafka_stream_source

    src = str(tmp_path / "src")
    spark.createDataFrame([], _KAFKA_WIRE_SCHEMA).write.parquet(src)
    cfg = SinkConfig(topics=["alpha", "beta"], time_partitioning_type="NONE")
    recorder = _RecordingReadStream(spark, src)
    stream = kafka_stream_source(
        SimpleNamespace(readStream=recorder), cfg, "b:9092"
    )
    assert recorder.options["subscribe"] == "alpha,beta"
    assert "subscribePattern" not in recorder.options
    assert "maxOffsetsPerTrigger" not in recorder.options
    assert stream.columns == ["key", "value", "topic", "partition", "offset", "timestamp"]
