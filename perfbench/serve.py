"""The read workload: registry queries with warehouse point lookups
interleaved, no streaming.

A run times one pass, in a seed-shuffled order, over a fixed list of
registry queries on tables generated at ``SF`` by ``tools/gen_scale.py``,
with a ``read_pruned_where`` lookup after each query. The lookups read
a bucketed table that the timed region first upserts into with
``Warehouse.merge`` (the sink's MERGE path; the rows per second of that
merge are the workload's ``bulk_rows_per_s``) and
then indexes with ``record_bloom``; they alternate between the merge key
and the Bloom-indexed non-key ``txn_id``.

The warm-up runs a registry query outside the list, the merge that
creates the lookup table and two lookups, so the pass is each listed
query's first run in the process: its construction and execution include
the query's own first-time costs (code generation, checkpoints), not the
session's.

``check`` compares every query's result with its ``oracle_sql()`` twin
run by DuckDB on the same files, every lookup with the reference and a
plain filtered read, and the built table with the reference state.
"""

from __future__ import annotations

import contextlib
import os
import sys
import time
import types

import numpy as np

import gen
import workloads

# the repository's scale-factor generator and its oracle comparator
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
import gen_scale  # noqa: E402
import verify_local  # noqa: E402

# A fixed third of the registry's 24-query serving list, chosen for
# coverage: the five families ROADMAP direction 5 names as flat at sf1
# (checkpoint barriers, bigram packing, k-NN), then TPC-H join and
# aggregation, sessionization and the Python/Arrow boundary. The whole
# list does not fit the benchmark's time budget; a seeded subset made the
# median query time unsteady.
QUERIES = [
    "docs_ngram_novelty",
    "dedup_passages",
    "text_bm25",
    "text_collocations",
    "graph_triangles",
    "tpch_q18_large_orders",
    "events_sessionize",
    "multimodal_audio_chunks",
]
# warms the session's SQL paths without being one of the timed queries
WARMUP_QUERY = "tpch_q6_forecast_revenue"
SF = 0.01
BUILD_FILES = 1
BUILD_ROWS = 20_000
TABLE = gen.UPSERT_TOPIC


class Serve:
    name = "serve_queries"
    tables = [TABLE]
    # the spans one unit of work (a query) runs in
    op_spans = ("queries.construct", "queries.execute")

    def __init__(self, seed: int, seconds: float, span) -> None:
        self.seed = seed
        self.span = span
        self.failures: list[str] = []

    def prepare(self, work: str) -> None:
        self.work = work
        self.data = os.path.join(work, "data")
        with contextlib.redirect_stdout(sys.stderr):
            gen_scale.gen(SF, self.data)
        # file 0 creates the lookup table in the warm-up, the rest are
        # merged into it in the timed region
        self.files = gen.upsert_stream(self.seed, [BUILD_ROWS] * (1 + BUILD_FILES))
        self.batches = []
        for i, recs in enumerate(self.files):
            path = os.path.join(work, "merge", f"{i:05d}.parquet")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            gen.write_merge_batch(recs, path)
            self.batches.append(path)
        self.state = gen.expected_upsert(self.files)
        rng = np.random.default_rng([self.seed, 4])
        self.order = [QUERIES[i] for i in rng.permutation(len(QUERIES))]
        keys = sorted(self.state)
        picks = [keys[p] for p in rng.choice(len(keys), len(self.order), replace=False)]
        self.targets = [
            (TABLE, {"ukey": k} if i % 2 == 0 else {"txn_id": self.state[k]["txn_id"]})
            for i, k in enumerate(picks)
        ]

    def _merge(self, path: str, table: str) -> None:
        from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec

        self.wh.merge(
            self.spark.read.parquet(path),
            table,
            ["ukey"],
            mode="upsert_delete",
            order_col="i",
            tombstone_col="__tombstone",
            spec=TableSpec(partition_grain="NONE", key_bucket_count=4),
        )

    def warmup(self, spark) -> None:
        import __spark_entry__ as entry
        from kafka_connect_bigquery_spark.sinks.warehouse import Warehouse

        self.spark = spark
        self.wh = Warehouse(spark, os.path.join(self.work, "wh"))
        self.registry = entry.queries()
        self.registry[WARMUP_QUERY](spark, self.data).toPandas()
        self._merge(self.batches[0], TABLE)
        for _, pred in self.targets[:2]:
            self.wh.read_pruned_where(TABLE, pred).collect()

    def measure(self) -> dict:
        t0 = time.perf_counter()
        build_ms = 0.0
        for path in self.batches[1:]:
            b0 = time.perf_counter()
            self._merge(path, TABLE)
            build_ms += (time.perf_counter() - b0) * 1000
        self.wh.record_bloom(TABLE, ["txn_id"])
        self.query_ms: dict[str, float] = {}
        self.results = {}
        self.frames = {}
        lookup_ms: list[float] = []
        self.lookup_files: list[tuple[str, int]] = []
        self.lookup_rows = []
        for i, name in enumerate(self.order):
            q0 = time.perf_counter()
            trace = f"{name}-pass0"
            with self.span("queries.construct", trace):
                df = self.registry[name](self.spark, self.data)
            with self.span("queries.execute", trace):
                self.results[name] = df.toPandas()
            self.query_ms[name] = (time.perf_counter() - q0) * 1000
            self.frames[name] = df
            table, pred = self.targets[i]
            l0 = time.perf_counter()
            with self.span("warehouse.lookup", trace):
                ldf = self.wh.read_pruned_where(table, pred)
                self.lookup_rows.append(ldf.collect())
            lookup_ms.append((time.perf_counter() - l0) * 1000)
            self.lookup_files.append((table, len(ldf.inputFiles())))
        query_ms = list(self.query_ms.values())
        return {
            "ops": len(query_ms),
            "batches": BUILD_FILES,
            "op_ms": query_ms,
            "ops_per_min": 60_000 * len(query_ms) / sum(query_ms),
            "bulk_rows_per_s": sum(len(f) for f in self.files[1:]) / (build_ms / 1000),
            "bulk_ms": build_ms,
            "lookup_ms": lookup_ms,
            "measured_s": time.perf_counter() - t0,
        }

    def check(self) -> list[str]:
        """One message per failed operation: each query, each lookup and
        the built table."""
        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        con = verify_local._duck_con(self.data)
        bad = []
        for name in self.order:
            got = types.SimpleNamespace(toPandas=lambda pdf=self.results[name]: pdf)
            r = verify_local.compare(got, con.sql(oracles[name]))
            if not (
                r.get("cols_match")
                and r["rows_spark"] == r["rows_duck"]
                and r.get("value_mismatches") == 0
                and r.get("max_float_dev", 1) == 0.0
            ):
                bad.append(f"query {name} differs from its oracle: {r}")
        bad += workloads.check_lookups(
            self.wh, self.targets, self.lookup_rows, self.row_key, self.expected
        )
        cols = [n for n, _ in workloads.UPSERT_FIELDS if n != "ts"]
        got_state = {
            r["ukey"]: tuple(r[c] for c in cols)
            for r in self.wh.read(TABLE).select("ukey", *cols).collect()
        }
        want = {k: tuple(v[c] for c in cols) for k, v in self.state.items()}
        if got_state != want:
            bad.append(f"{TABLE}: {len(set(got_state.items()) ^ set(want.items()))} rows differ")
        return bad

    def expected(self, table, pred):
        if "ukey" in pred:
            return [pred["ukey"]] if pred["ukey"] in self.state else []
        return [k for k, v in self.state.items() if v["txn_id"] == pred["txn_id"]]

    @staticmethod
    def row_key(row):
        return row["ukey"]

    def storage(self) -> dict[str, float]:
        return workloads.storage(self.wh, self.tables, self.lookup_files)
