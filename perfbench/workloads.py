"""The two streaming ingest workloads: the sink's write paths.

Each run is a closed loop from one process: the next Kafka-contract file
is fed only after the stream has committed the previous one. The timed
region has three phases on one warehouse:

1. per-file: one file per trigger;
2. bulk: a new query whose single trigger drains a backlog staged before
   it starts (the reference's ``mergeIntervalMs`` amortisation);
3. lookups: ``read_pruned_where`` point reads on the tables just written
   (on the upsert table through a Bloom index recorded, untimed, after the
   bulk phase; the append tables are read unindexed).

The work is fixed by the seed and ``--seconds``: the per-file phase takes
``files_per_s * seconds`` files, a workload's nominal rate on a 4-core
host, so that every run of a commit writes and reads the same warehouse
states, and a faster program finishes the same work sooner.

``prepare`` generates and stages the inputs from the seed before the
clock starts; ``warmup`` feeds the first file, creating the tables and
paying the first batch's one-time costs. One warm-up batch is what the
time budget allows: batch times still fall for a few batches after it
(see ``BASELINE.md``), at the same pace on every run of a commit. ``check`` compares every lookup
with the reference and a plain filtered read, and the final warehouse
with the pure-Python references in ``gen``.
"""

from __future__ import annotations

import math
import os
import time

import numpy as np

import gen

WARMUP_FILES = 1
MIN_BATCHES = 1
N_LOOKUPS = 6


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile of a non-empty sample."""
    xs = sorted(values)
    k = max(0, min(len(xs) - 1, math.ceil(q * len(xs)) - 1))
    return xs[k]


def tail_percentile(n: int) -> float:
    """Highest percentile with at least ten samples beyond it; the median
    when the sample is too small to have one above it."""
    return max(0.5, (n - 10) / n)


def check_lookups(wh, targets, got_rows, row_key, expected) -> list[str]:
    """Each lookup against the reference and against a plain filtered
    read of its table (one read per table and column)."""
    from pyspark.sql import functions as F

    wanted: dict[tuple, list] = {}
    for table, pred in targets:
        (col, val), = pred.items()
        wanted.setdefault((table, col), []).append(val)
    plain = {
        (table, col): wh.read(table).filter(F.col(col).isin(vals)).collect()
        for (table, col), vals in wanted.items()
    }
    bad = []
    for (table, pred), got in zip(targets, got_rows):
        (col, val), = pred.items()
        ref = sorted(row_key(r) for r in plain[(table, col)] if r[col] == val)
        got_k = sorted(row_key(r) for r in got)
        want = sorted(expected(table, pred))
        if not got_k == ref == want:
            bad.append(f"lookup {table} {pred}: got {got_k}, plain read {ref}, expected {want}")
    return bad


def storage(wh, tables: list[str], lookup_files: list[tuple[str, int]]) -> dict[str, float]:
    """Live data files and their bytes per live row over the written
    tables, and the share of a table's live files a lookup still opens
    after pruning."""
    live = {t: wh.read(t).inputFiles() for t in tables}
    n_files = sum(len(f) for f in live.values())
    size = sum(os.path.getsize(p.removeprefix("file:")) for f in live.values() for p in f)
    rows = sum(wh.read(t).count() for t in tables)
    ratios = [n / max(1, len(live[t])) for t, n in lookup_files]
    return {
        "warehouse.live_files": n_files,
        "warehouse.bytes_per_row": size / max(1, rows),
        "warehouse.lookup_files_ratio": sum(ratios) / len(ratios),
    }


class Ingest:
    """The run loop both ingest workloads share; subclasses supply the
    inputs, the pipeline, the lookups and the output checks."""

    name = ""
    rows_per_file = 0
    files_per_s = 0.0
    bulk_files = 0
    key_cols: list[str] | None = None
    tables: list[str] = []
    # the spans one unit of work (a micro-batch) runs in
    op_spans = ("pipeline.handler",)

    def __init__(self, seed: int, seconds: float, span) -> None:
        self.seed = seed
        self.per_file = max(MIN_BATCHES, round(self.files_per_s * seconds))
        self.span = span
        self.failures: list[str] = []

    # -- per-workload hooks ------------------------------------------------
    def make_files(self, n: int) -> list:
        """The warm-up and per-file inputs (``n`` files), then the bulk
        backlog (``bulk_files`` more)."""
        raise NotImplementedError

    def pipeline(self, wh):
        raise NotImplementedError

    def index(self) -> None:
        """Record any index the lookups probe, once the tables exist."""

    def lookup_targets(self) -> list[tuple[str, dict]]:
        """(table, predicate) of each point read."""
        raise NotImplementedError

    def expected(self, table: str, pred: dict) -> list:
        """Row keys a lookup must return."""
        raise NotImplementedError

    @staticmethod
    def row_key(row):
        raise NotImplementedError

    def check_state(self) -> list[str]:
        """Differences between the written tables and the reference."""
        raise NotImplementedError

    # -- phases ------------------------------------------------------------
    def prepare(self, work: str) -> None:
        self.work = work
        self.files = self.make_files(WARMUP_FILES + self.per_file)
        self.pending = os.path.join(work, "pending")
        os.makedirs(self.pending)
        for i, recs in enumerate(self.files):
            gen.write_kafka_file(recs, os.path.join(self.pending, f"{i:05d}.parquet"))
        self.next_file = 0

    def _feed(self, src: str, n: int) -> int:
        """Move the next ``n`` staged files into a source directory."""
        rows = 0
        for _ in range(n):
            name = f"{self.next_file:05d}.parquet"
            os.rename(os.path.join(self.pending, name), os.path.join(src, name))
            rows += len(self.files[self.next_file])
            self.next_file += 1
        return rows

    def _start(self, tag: str, max_files, backlog: int = 0):
        """Start a query on a new source directory, after moving
        ``backlog`` staged files into it so its first trigger sees them
        all."""
        from kafka_connect_bigquery_spark.sources.kafka import file_stream_source

        src = os.path.join(self.work, f"src_{tag}")
        os.makedirs(src)
        rows = self._feed(src, backlog)
        q = self.pipeline(self.wh).start(
            file_stream_source(self.spark, src, max_files_per_trigger=max_files),
            os.path.join(self.work, f"ckpt_{tag}"),
            key_cols=self.key_cols,
        )
        return q, src, rows

    @staticmethod
    def _progress(q, after: int = -1) -> list:
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return [p for p in q.recentProgress if p.numInputRows > 0 and p.batchId > after]

    def warmup(self, spark) -> None:
        from kafka_connect_bigquery_spark.sinks.warehouse import Warehouse

        self.spark = spark
        self.wh = Warehouse(spark, os.path.join(self.work, "wh"))
        self.query, self.src, _ = self._start("file", 1)
        for _ in range(WARMUP_FILES):
            self._feed(self.src, 1)
            self.query.processAllAvailable()
        self.warm_batch = max(p.batchId for p in self._progress(self.query))

    def measure(self) -> dict:
        t0 = time.perf_counter()
        # per-file phase, on the query the warm-up started
        q = self.query
        rows = 0
        ingest_s = 0.0
        try:
            for _ in range(self.per_file):
                f0 = time.perf_counter()
                rows += self._feed(self.src, 1)
                q.processAllAvailable()
                ingest_s += time.perf_counter() - f0
            progress = self._progress(q, self.warm_batch)
        finally:
            q.stop()
        # bulk phase: a new query whose one trigger drains the whole backlog
        bulk, _, bulk_rows = self._start("bulk", None, backlog=self.bulk_files)
        try:
            bulk.processAllAvailable()
            bulk_progress = self._progress(bulk)
        finally:
            bulk.stop()
        if len(bulk_progress) != 1:
            self.failures.append(f"bulk drain took {len(bulk_progress)} triggers")
        self.progress = progress + bulk_progress
        batch_ms = [float(p.durationMs["triggerExecution"]) for p in progress]
        bulk_ms = sum(float(p.durationMs["triggerExecution"]) for p in bulk_progress)
        ingest_wall = time.perf_counter() - t0
        # lookup phase, after an untimed index build and two warm-up reads
        self.index()
        self.targets = self.lookup_targets()
        for table, pred in self.targets[:2]:
            self.wh.read_pruned_where(table, pred).collect()
        lookup_ms: list[float] = []
        self.lookup_files: list[tuple[str, int]] = []
        self.lookup_rows = []
        for table, pred in self.targets:
            l0 = time.perf_counter()
            with self.span("warehouse.lookup"):
                df = self.wh.read_pruned_where(table, pred)
                self.lookup_rows.append(df.collect())
            lookup_ms.append((time.perf_counter() - l0) * 1000)
            self.lookup_files.append((table, len(df.inputFiles())))
        return {
            "ops": len(progress) + 1,
            "batches": len(progress) + 1,
            "op_ms": batch_ms,
            # from each file's arrival to its commit
            "ops_per_min": 60 * self.per_file / ingest_s,
            "rows_per_s": rows / ingest_s,
            "bulk_rows_per_s": bulk_rows / (bulk_ms / 1000),
            "bulk_ms": bulk_ms,
            "lookup_ms": lookup_ms,
            "measured_s": ingest_wall + sum(lookup_ms) / 1000,
        }

    def check(self) -> list[str]:
        """One message per failed operation: each lookup, and the final
        state of the written tables as one operation."""
        state = self.check_state()
        bad = check_lookups(self.wh, self.targets, self.lookup_rows, self.row_key, self.expected)
        return bad + (["; ".join(state)] if state else [])

    def consumed(self) -> list:
        return self.files[: self.next_file]

    def storage(self) -> dict[str, float]:
        return storage(self.wh, self.tables, self.lookup_files)


class IngestAppend(Ingest):
    """Default streaming-insert path (``write_batch``): two topics routed
    to two DAY-partitioned tables, ~1% replayed offsets, ~1% tombstones and
    a nullable field that appears mid-stream. Per-batch cost is fixed
    driver work: offset dedup, parse, ``to_bq_shape``, the
    ``split_by_table`` collect and the partitioned append commit. No MERGE,
    strict probe or IVM runs here, so a MERGE/IVM change must leave this
    workload unmoved. Its lookups read the tables unindexed, by a filtered
    scan."""

    name = "ingest_append"
    rows_per_file = 2000
    files_per_s = 0.3
    bulk_files = 16
    tables = list(gen.APPEND_TOPICS.values())

    def make_files(self, n):
        return gen.append_stream(self.seed, n + self.bulk_files, self.rows_per_file)

    def pipeline(self, wh):
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from kafka_connect_bigquery_spark.config import SinkConfig
        from kafka_connect_bigquery_spark.streaming.pipeline import SinkPipeline

        schema = T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("user_id", T.LongType()),
                T.StructField("ts", T.TimestampType()),
                T.StructField("amount", T.LongType()),
                T.StructField("kind", T.StringType()),
                T.StructField("coupon", T.StringType()),
            ]
        )
        cfg = SinkConfig(
            topics=list(gen.APPEND_TOPICS),
            topic2table_map=dict(gen.APPEND_TOPICS),
            time_partitioning_type="DAY",
            timestamp_partition_field_name="ts",
        )
        return SinkPipeline(
            warehouse=wh,
            config=cfg,
            value_parser=lambda c: F.from_json(c.cast("string"), schema),
        )

    def lookup_targets(self):
        # events of the warm-up file, present in every later state; the
        # same number on each table, whose sizes differ, so that the
        # median does not depend on how a seed splits them
        rng = np.random.default_rng([self.seed, 3])
        per_table = []
        for topic, table in gen.APPEND_TOPICS.items():
            live = [r for r in self.files[0] if r.value is not None and r.topic == topic]
            picks = rng.choice(len(live), N_LOOKUPS // 2, replace=False)
            per_table.append([(table, {"event_id": live[p].value["event_id"]}) for p in picks])
        return [t for pair in zip(*per_table) for t in pair]

    def expected(self, table, pred):
        return [pred["event_id"]]

    @staticmethod
    def row_key(row):
        return row["event_id"]

    def check_state(self) -> list[str]:
        from pyspark.sql import functions as F

        bad = []
        for table, exp in gen.expected_append(self.consumed()).items():
            row = (
                self.wh.read(table)
                .agg(
                    F.count(F.lit(1)).alias("rows"),
                    F.coalesce(F.sum("amount"), F.lit(0)).alias("amount"),
                    F.count("coupon").alias("coupons"),
                    F.countDistinct(F.to_date("ts")).alias("days"),
                )
                .first()
                .asDict()
            )
            if row != exp:
                bad.append(f"{table}: got {row}, expected {exp}")
        return bad


UPSERT_FIELDS = [
    ("account_id", "long"),
    ("txn_id", "long"),
    ("region", "string"),
    ("amount", "long"),
    ("item", "long"),
    ("ts", "timestamp"),
]


class IngestUpsertIvm(Ingest):
    """Upsert+delete through ``merge_batch`` under errors_tolerance='none'
    into a bucketed table, with a rollup and an HLL sketch refreshed on
    every batch. Zipf-skewed keys and ~2% tombstones. The per-file phase
    (1000-row files) pays MERGE, the strict-tolerance probe and IVM refresh
    per batch. The bulk trigger drains 40k rows in four 10k-row files, so
    that per-row cost is a share of it and not only fixed cost (the split
    measured on a 4-core host is in ``BASELINE.md``)."""

    name = "ingest_upsert_ivm"
    rows_per_file = 1000
    files_per_s = 0.1
    bulk_files = 4
    bulk_rows_per_file = 10_000
    key_cols = ["ukey"]
    tables = [gen.UPSERT_TOPIC]

    def make_files(self, n):
        sizes = [self.rows_per_file] * n + [self.bulk_rows_per_file] * self.bulk_files
        return gen.upsert_stream(self.seed, sizes)

    def pipeline(self, wh):
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from kafka_connect_bigquery_spark.config import SinkConfig
        from kafka_connect_bigquery_spark.operators.rollup import RollupMaintainer
        from kafka_connect_bigquery_spark.operators.sketch import SketchMaintainer
        from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec
        from kafka_connect_bigquery_spark.streaming.pipeline import (
            SinkPipeline,
            json_value_parser,
        )

        types = {"long": T.LongType(), "string": T.StringType(), "timestamp": T.TimestampType()}
        schema = T.StructType([T.StructField(n, types[t]) for n, t in UPSERT_FIELDS])
        t = gen.UPSERT_TOPIC
        cfg = SinkConfig(
            topics=[t],
            upsert_enabled=True,
            delete_enabled=True,
            kafka_key_field_name="ukey",
            errors_tolerance="none",
        )
        measures = {"n": F.lit(1).cast("bigint"), "amt": F.col("amount").cast("bigint")}
        return SinkPipeline(
            warehouse=wh,
            config=cfg,
            value_parser=json_value_parser(schema),
            key_parser=lambda c: c.cast("string"),
            table_specs={t: TableSpec(partition_grain="NONE", key_bucket_count=4)},
            rollup_maintainers={
                t: [
                    RollupMaintainer(wh, t, f"{t}_by_region", ["region"], measures, count_measure="n"),
                    SketchMaintainer(wh, t, f"{t}_item_hll", "item", ["region"], kind="hll"),
                ]
            },
        )

    def index(self) -> None:
        self.wh.record_bloom(gen.UPSERT_TOPIC, ["txn_id"])

    def lookup_targets(self):
        """Half by merge key (bucket routing), half by the Bloom-indexed
        non-key ``txn_id``, over keys live at the end of the ingest."""
        state = gen.expected_upsert(self.consumed())
        rng = np.random.default_rng([self.seed, 3])
        keys = sorted(state)
        picks = [keys[p] for p in rng.choice(len(keys), N_LOOKUPS, replace=False)]
        return [
            (gen.UPSERT_TOPIC, {"ukey": k} if i % 2 == 0 else {"txn_id": state[k]["txn_id"]})
            for i, k in enumerate(picks)
        ]

    def expected(self, table, pred):
        if not hasattr(self, "_state"):
            self._state = gen.expected_upsert(self.consumed())
        if "ukey" in pred:
            return [pred["ukey"]] if pred["ukey"] in self._state else []
        return [k for k, v in self._state.items() if v["txn_id"] == pred["txn_id"]]

    @staticmethod
    def row_key(row):
        return row["ukey"]

    def check_state(self) -> list[str]:
        from kafka_connect_bigquery_spark.operators.sketch import HLL_P, hll_estimate_grouped

        t = gen.UPSERT_TOPIC
        state = gen.expected_upsert(self.consumed())
        bad = []
        cols = [n for n, _ in UPSERT_FIELDS if n != "ts"]
        got = {
            r["ukey"]: tuple(r[c] for c in cols)
            for r in self.wh.read(t).select("ukey", *cols).collect()
        }
        want = {k: tuple(v[c] for c in cols) for k, v in state.items()}
        if got != want:
            diff = set(got.items()) ^ set(want.items())
            bad.append(f"{t}: {len(diff)} rows differ from the reference")
        rollup = {
            r["region"]: (r["n"], r["amt"])
            for r in self.wh.read(f"{t}_by_region").select("region", "n", "amt").collect()
            if r["n"]
        }
        if rollup != gen.expected_rollup(state):
            bad.append(f"{t}_by_region: {rollup} != {gen.expected_rollup(state)}")
        exact = gen.exact_distinct(state, "item", "region")
        est = {
            r["region"]: _hll_count(r)
            for r in hll_estimate_grouped(self.wh.read(f"{t}_item_hll"), ["region"]).collect()
        }
        # 4 standard errors of an HLL with 2^p registers
        tol = 4 * 1.04 / (1 << HLL_P) ** 0.5
        for region, n in exact.items():
            e = est.get(region)
            if e is None or abs(e - n) > tol * n:
                bad.append(f"{t}_item_hll[{region}]: estimate {e} vs exact {n}")
        return bad


def _hll_count(row) -> float:
    """HLL estimate with the small-range (linear counting) correction
    that ``hll_estimate_grouped`` leaves to its caller."""
    m, zeros = row["m"], row["m"] - row["n_nonzero"]
    if row["hll_estimate"] <= 2.5 * m and zeros:
        return m * math.log(m / zeros)
    return row["hll_estimate"]
