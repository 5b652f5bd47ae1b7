"""Incremental materialized-aggregate maintenance (IVM) over the
warehouse CDC feed.

A 100 TB ingest pipeline keeps serving rollups (counts / sums per
group) without recomputing them per ingest: the manifest-diff CDC feed
(`Warehouse.read_changes(images="both")`) names every changed row with
its pre- and post-image, and for *self-maintainable* aggregates
(SUM / COUNT / anything additive — classic incremental-view-maintenance
theory) the new rollup is

    rollup' = rollup  ⊕  Σ sign(change) · contribution(row)

with sign = +1 for insert / update_postimage and -1 for delete /
update_preimage. Cost follows the change volume and the number of
*touched groups*, never the corpus or the rollup size (the delta is
aggregated first; the final merge joins the rollup only on touched
keys — broadcast when the delta is small).

``RollupMaintainer`` applies this per micro-batch behind a durable
applied-version cursor, storing the rollup unpartitioned (one row per
group, no ingestion-time column) so every refresh after the first is
the delta merge above, never a rebuild. ``SinkPipeline.merge_batch``
reads the CDC span once per batch and cursor and hands it to every
consumer of the table (this rollup and ``sketch.SketchMaintainer``
alike, both ``CdcMaintainer``s).

Exactness: double sums are not associative, so a maintained sum would
drift from a recomputed one. Contributions should therefore be integer
or decimal typed — `quantized()` maps a double onto 1e-4 quanta as
DECIMAL(38,0), making the maintained state order- and
history-independent (same discipline as the TPC-H oracle sums,
queries.py:_qsum).

Reference parity: the reference keeps BigQuery tables fresh by MERGE
and lets BigQuery recompute queries (kcbq/MergeQueries.java:137); a
warehouse that owns storage maintains its aggregates incrementally
instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_Q = 10_000  # 1e-4 quanta, matches queries._Q


def quantized(col: Column | str, q: int = _Q) -> Column:
    """Exact additive contribution for a double column: round-half-up
    onto 1/q quanta as DECIMAL(38,0) (order-independent under SUM)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * q + F.lit(0.5)).cast("decimal(38,0)")


def dequantized(col: Column | str, q: int = _Q) -> Column:
    """Quantized decimal sum back to a double value."""
    c = F.col(col) if isinstance(col, str) else col
    return (c.cast("double") / F.lit(float(q)))


def build_rollup(
    df: DataFrame, keys: list[str], measures: dict[str, Column]
) -> DataFrame:
    """Materialize the rollup: one row per group, one summed measure
    per entry. ``measures`` maps output name -> per-row contribution
    (integer/decimal typed for exact maintenance; ``F.lit(1)`` is a
    row count). One map-side-combinable shuffle on ``keys``."""
    return df.groupBy(*keys).agg(
        *[F.sum(c).alias(name) for name, c in measures.items()]
    )


def rollup_delta(
    changes: DataFrame, keys: list[str], measures: dict[str, Column]
) -> DataFrame:
    """Aggregate a CDC frame (from ``read_changes(images="both")``)
    into one signed delta row per touched group.

    A plain ``update`` row (the ``images="post"`` feed) cannot be
    applied additively — its pre-image is unknown — so it fails loudly
    per-row rather than corrupting the rollup silently."""
    sign = (
        F.when(F.col("_change_type").isin("insert", "update_postimage"), F.lit(1))
        .when(F.col("_change_type").isin("delete", "update_preimage"), F.lit(-1))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("rollup_delta requires read_changes(images='both'); got _change_type="),
                    F.col("_change_type"),
                )
            ).cast("int")
        )
    )
    return changes.groupBy(*keys).agg(
        *[F.sum(sign * c).alias(name) for name, c in measures.items()]
    )


def apply_rollup_delta(
    rollup: DataFrame,
    delta: DataFrame,
    keys: list[str],
    *,
    count_measure: str,
) -> DataFrame:
    """Merge a signed delta into the existing rollup: touched groups
    add their contributions, new groups appear, groups whose
    ``count_measure`` reaches zero disappear (every row deleted).

    Shaped as union + re-aggregate rather than a full-outer join: one
    map-side-combinable shuffle over |rollup| + |touched groups| rows
    (a full-outer join cannot broadcast-hash in Spark and would fall
    back to a sort-merge of both sides anyway), NULL group keys group
    natively, and the plan stays whole-stage-codegen. The shuffled
    rollup is the *aggregate* — group-count sized, not corpus sized;
    when even that is too big, store the rollup bucketed by ``keys``
    and apply the (tiny) delta per-bucket via the warehouse MERGE
    machinery instead.

    The measure columns come from the delta, so a stored rollup
    carrying extra columns (a legacy ingestion-time ``p_date``) drops
    them here and heals on its next refresh."""
    measure_cols = [c for c in delta.columns if c not in keys]
    merged = rollup.select(*keys, *measure_cols).unionByName(
        delta.select(*keys, *measure_cols)
    )
    out = merged.groupBy(*keys).agg(
        *[F.sum(m).alias(m) for m in measure_cols]
    )
    return out.filter(F.col(count_measure) > 0)


class CdcMaintainer:
    """The cursor protocol shared by the IVM consumers of a bucketed
    source table (``RollupMaintainer`` here, ``sketch.SketchMaintainer``):
    each keeps a materialized table fresh by consuming the warehouse
    CDC feed.

    Crash tolerance via a durable cursor: the maintained table's layout
    manifest records the source generation it has applied
    (``CURSOR_KEY``). Each refresh applies the CDC span cursor→current,
    so a crash between a merge commit and its refresh loses nothing —
    the next refresh covers both batches. A replayed idempotent merge
    contributes an empty row-diff, so refresh is replay-safe too. A
    consumer whose cursor snapshot has been pruned (it lagged past
    snapshot_retention), or whose table is missing, rebuilds in full —
    correct, just not incremental. Every other failure raises.

    Subclasses set ``CURSOR_KEY`` and provide ``_rebuild()`` (the
    materialized frame from the whole source) and ``_apply(changes)``
    (the maintained frame from a ``read_changes(images="both")`` span).
    """

    CURSOR_KEY = ""

    def __init__(self, warehouse, source_table: str, table: str) -> None:
        self.wh = warehouse
        self.source = source_table
        self.table = table

    def _rebuild(self) -> DataFrame:
        raise NotImplementedError

    def _apply(self, changes: DataFrame) -> DataFrame:
        raise NotImplementedError

    def cursor(self) -> int | None:
        """The source generation this consumer has applied (None before
        its first refresh)."""
        last = self.wh.table_property(self.table, self.CURSOR_KEY)
        return None if last is None else int(last)

    def refresh(
        self, changes: DataFrame | None = None, *, to_version: int | None = None
    ) -> int:
        """Bring the materialized table up to the source's current
        generation (or ``to_version``). Returns the number of source
        versions applied (0 = current).

        ``changes``: the ``read_changes(images="both")`` span from this
        consumer's cursor to ``to_version``, when a caller reads it once
        for several consumers (``SinkPipeline.merge_batch``); without
        it, refresh reads its own span."""
        cur = to_version
        if cur is None:
            cur = self.wh.layout_meta(self.source).get("generation")
            if cur is None:
                raise ValueError(
                    f"source {self.source} is not a bucketed table; "
                    f"{type(self).__name__} consumes the bucketed-MERGE CDC feed"
                )
        cur = int(cur)
        last = self.cursor()
        if last == cur:
            return 0
        if (
            last is None
            or last not in self.wh.snapshots(self.source)
            or not self.wh.exists(self.table)
        ):
            out = self._rebuild()
        else:
            if changes is None:
                changes = self.wh.read_changes(
                    self.source, from_version=last, to_version=cur, images="both"
                )
            out = self._apply(changes)
        # the source snapshot is immutable, so materialize (one pass)
        # before the overwrite drops the old files out from under the
        # lazily-read plan
        out = out.localCheckpoint(eager=True)
        from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec

        # explicit NONE grain: a maintained table must not grow an
        # ingestion-time partition column
        self.wh.overwrite(out, self.table, TableSpec(partition_grain="NONE"))
        self.wh.set_table_property(self.table, self.CURSOR_KEY, cur)
        return cur - (last if last is not None else cur - 1)


class RollupMaintainer(CdcMaintainer):
    """Keeps a materialized rollup table fresh against a bucketed
    source table by consuming the warehouse CDC feed — the IVM consumer
    a streaming MERGE pipeline attaches per micro-batch. The rollup is
    stored unpartitioned, one row per group; its durable cursor is
    ``rollup_applied_version`` (protocol in ``CdcMaintainer``).
    """

    CURSOR_KEY = "rollup_applied_version"

    def __init__(
        self,
        warehouse,
        source_table: str,
        rollup_table: str,
        keys: list[str],
        measures: dict[str, Column],
        *,
        count_measure: str,
    ) -> None:
        super().__init__(warehouse, source_table, rollup_table)
        self.keys = keys
        self.measures = measures
        self.count_measure = count_measure

    def _rebuild(self) -> DataFrame:
        return build_rollup(self.wh.read(self.source), self.keys, self.measures)

    def _apply(self, changes: DataFrame) -> DataFrame:
        return apply_rollup_delta(
            self.wh.read(self.table),
            rollup_delta(changes, self.keys, self.measures),
            self.keys,
            count_measure=self.count_measure,
        )
