"""Watermark state store for incremental (CDC) extraction.

The reference recovers its watermark by re-reading the **last delta file it
wrote** and computing max(created_at)/max(last_updated) over it with a
sort-based scan (``src/extract.py:176-199``) — fragile (state dies with the
file, and the file is overwritten every cycle) and O(n log n) where a max-agg
is O(n). Here the state is an explicit tiny parquet table
``(table_name, max_created_at, max_last_updated)`` — one row per source
table. A cycle reads it once (:meth:`WatermarkStore.load`), decides every
table's delta against it in memory, and replaces it once
(:meth:`WatermarkStore.save`) after the deltas are staged, so a crash
before the commit leaves the old watermarks and the next cycle re-stages
the same rows. At 100 TB the state table is still a few KB; the expensive
part (the maxima over the source snapshots) runs distributed.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pw_etl_scrumptious_squad_spark.sources.parquet import fs_exists

STATE_SCHEMA = T.StructType(
    [
        T.StructField("table_name", T.StringType(), False),
        T.StructField("max_created_at", T.TimestampNTZType()),
        T.StructField("max_last_updated", T.TimestampNTZType()),
    ]
)

# The reference's implicit epoch: a table absent from the bucket gets a full
# scan (src/extract.py:211-214); EPOCH-valued watermarks reproduce that with
# one code path.
EPOCH = datetime(1970, 1, 1)


@dataclass(frozen=True)
class Watermark:
    created_at: datetime
    last_updated: datetime

    def merge(
        self, created_at: datetime | None, last_updated: datetime | None
    ) -> Watermark:
        """Monotone max with observed maxima (NULL = nothing observed): a
        stale or empty observation never regresses the watermark."""
        return Watermark(
            created_at=max(self.created_at, created_at or EPOCH),
            last_updated=max(self.last_updated, last_updated or EPOCH),
        )


def delta_watermark(df: DataFrame) -> Watermark | None:
    """Max-agg watermark over a delta (reference ``get_most_recent_time``,
    ``src/extract.py:176-199``, re-expressed as a single distributed agg)."""
    row = df.agg(
        F.max("created_at").alias("c"), F.max("last_updated").alias("u")
    ).first()
    if row is None or (row["c"] is None and row["u"] is None):
        return None
    return Watermark(created_at=row["c"] or EPOCH, last_updated=row["u"] or EPOCH)


def _ntz_literal(ts: datetime) -> str:
    return f"TIMESTAMP_NTZ '{ts.isoformat(sep=' ', timespec='microseconds')}'"


class WatermarkStore:
    """Parquet-backed per-table watermark state: one ``load`` and at most
    one ``save`` per extract cycle."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def load(self) -> dict[str, Watermark]:
        if not fs_exists(self.path, self.spark):
            return {}
        rows = self.spark.read.schema(STATE_SCHEMA).parquet(self.path).collect()
        return {
            r["table_name"]: Watermark(
                created_at=r["max_created_at"] or EPOCH,
                last_updated=r["max_last_updated"] or EPOCH,
            )
            for r in rows
        }

    def save(self, state: dict[str, Watermark]) -> None:
        """Replace the whole state. The rows are a ``VALUES`` local relation
        planned on the JVM side (``createDataFrame`` over a Python list
        would start a Python-worker RDD); table names bind as query
        parameters and timestamps render as exact microsecond
        ``TIMESTAMP_NTZ`` literals."""
        if state:
            items = sorted(state.items())
            values = ", ".join(
                f"(:t{i}, {_ntz_literal(wm.created_at)},"
                f" {_ntz_literal(wm.last_updated)})"
                for i, (_, wm) in enumerate(items)
            )
            df = self.spark.sql(
                f"SELECT * FROM VALUES {values}"
                " AS t(table_name, max_created_at, max_last_updated)",
                args={f"t{i}": name for i, (name, _) in enumerate(items)},
            )
        else:
            df = self.spark.createDataFrame([], STATE_SCHEMA)
        # Tiny table: single file, atomic-enough overwrite.
        df.coalesce(1).write.mode("overwrite").parquet(self.path)
