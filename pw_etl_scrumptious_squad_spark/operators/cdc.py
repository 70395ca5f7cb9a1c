"""Change-data-capture operators (reference §2.3 semantics).

The reference's incremental extract is: watermark = max audit timestamps of
the last delta (``src/extract.py:176-199``), delta = rows with
``created_at > w1 OR last_updated > w2`` strict (``src/extract.py:110-112``),
handoff = overwrite the per-table parquet with only the delta
(``src/extract.py:250-253``). Rows whose timestamps tie the watermark are
silently lost on re-extraction — reproduced by ``delta_predicate`` for
parity, fixed by ``extract_delta(..., inclusive=True)`` + natural-key dedup
(the documented improvement, SURVEY.md §2.3).

These operators work identically over a JDBC source (predicate pushed into
the database) or a parquet snapshot (predicate pushed into the scan —
visible as PushedFilters in ``.explain``).
"""

from __future__ import annotations

import functools
from datetime import datetime

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pw_etl_scrumptious_squad_spark.sources.state import EPOCH, Watermark


def delta_predicate(
    created_after: datetime | str,
    updated_after: datetime | str,
    inclusive: bool = False,
) -> Column:
    """Disjunctive range filter (reference ``src/extract.py:110-112``)."""
    created, updated = F.col("created_at"), F.col("last_updated")
    if inclusive:
        return (created >= F.lit(created_after)) | (updated >= F.lit(updated_after))
    return (created > F.lit(created_after)) | (updated > F.lit(updated_after))


def extract_delta(
    snapshot: DataFrame,
    watermark: Watermark,
    inclusive: bool = False,
    dedup_key: str | None = None,
) -> DataFrame:
    """Delta since watermark. With ``inclusive=True`` + ``dedup_key`` the
    tie-timestamp loss is fixed: re-extracted rows are de-duplicated on the
    natural key keeping the latest ``last_updated``."""
    delta = snapshot.filter(
        delta_predicate(watermark.created_at, watermark.last_updated, inclusive)
    )
    if inclusive and dedup_key is not None:
        # keep the newest version per key; max_by is a hash agg, no sort.
        newest = delta.groupBy(dedup_key).agg(
            F.max("last_updated").alias("__newest")
        )
        delta = delta.join(
            newest,
            (delta[dedup_key] == newest[dedup_key])
            & (delta["last_updated"] == newest["__newest"]),
            "leftsemi",
        )
    return delta


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Full-snapshot table compare: emit one row per changed key with
    ``op`` in {'I','U','D'} — the CDC path when the source has NO audit
    timestamps to push a delta predicate into (the reference's extract
    assumes ``created_at``/``last_updated`` exist; this covers the tables
    where they don't).

    One full outer join on the key columns — both sides shuffle on the
    same key, so with bucketed/pre-partitioned snapshots this is a
    shuffle-free sort-merge join at 100 TB. Value comparison is null-safe
    (``<=>``), so NULL -> value and value -> NULL both count as updates.
    'I'/'U' rows carry the new-side values, 'D' rows the old-side values.
    """
    if compare_cols is None:
        compare_cols = [c for c in new.columns if c not in key_cols]
    o = old.alias("o")
    n = new.alias("n")
    cond = None
    for k in key_cols:
        eq = F.col(f"o.{k}") == F.col(f"n.{k}")
        cond = eq if cond is None else cond & eq
    joined = o.join(n, cond, "full_outer")
    new_missing = F.col(f"n.{key_cols[0]}").isNull()
    old_missing = F.col(f"o.{key_cols[0]}").isNull()
    changed = None
    for c in compare_cols:
        ne = ~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
        changed = ne if changed is None else changed | ne
    op = (
        F.when(old_missing, F.lit("I"))
        .when(new_missing, F.lit("D"))
        .when(changed, F.lit("U"))
    )
    side = lambda c: F.when(new_missing, F.col(f"o.{c}")).otherwise(  # noqa: E731
        F.col(f"n.{c}")
    )
    return (
        joined.withColumn("op", op)
        .filter(F.col("op").isNotNull())
        .select(
            "op",
            *[side(k).alias(k) for k in key_cols],
            *[side(c).alias(c) for c in compare_cols],
        )
    )


def apply_diff(
    old: DataFrame, diff: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Replay a ``snapshot_diff`` stream onto ``old``: drop keys marked
    'D', replace keys marked 'U', add keys marked 'I'. By construction
    ``apply_diff(old, snapshot_diff(old, new, k), k) == new`` — the
    round-trip law the property tests pin down. This is the load-side
    CDC apply (the reference's warehouse load replays extract deltas);
    one anti-join on the key plus a union — both shuffle on the same key,
    so co-partitioned inputs replay shuffle-free.
    """
    cols = [c for c in old.columns]
    touched = diff.select(*key_cols)
    kept = old.join(touched, key_cols, "left_anti")  # drop D and stale U
    incoming = diff.filter(F.col("op") != "D").select(*cols)
    return kept.unionByName(incoming)


def table_maxima(
    tables: dict[str, DataFrame],
) -> dict[str, tuple[datetime | None, datetime | None]]:
    """``(max created_at, max last_updated)`` of every table, in ONE Spark
    job; ``(None, None)`` for a table with no non-NULL audit value. No
    job starts when ``tables`` is empty.

    The job is a ``unionAll`` of ``(table index, created_at,
    last_updated)`` projections grouped by the index — one shuffle for
    any number of tables (a union of per-table aggregates would plan one
    exchange, hence one AQE job, per table)."""
    if not tables:
        return {}
    names = list(tables)
    probes = [
        df.select(F.lit(i).alias("t"), "created_at", "last_updated")
        for i, df in enumerate(tables.values())
    ]
    seen = {
        names[r["t"]]: (r["c"], r["u"])
        for r in functools.reduce(DataFrame.unionAll, probes)
        .groupBy("t")
        .agg(F.max("created_at").alias("c"), F.max("last_updated").alias("u"))
        .collect()
    }
    return {name: seen.get(name, (None, None)) for name in names}


def incremental_extract(
    tables: dict[str, DataFrame],
    state: dict[str, Watermark],
    inclusive: bool = False,
    maxima: dict[str, tuple[datetime | None, datetime | None]] | None = None,
) -> tuple[dict[str, DataFrame], dict[str, Watermark]]:
    """Per-table dispatch (reference ``check_each_table``,
    ``src/extract.py:202-238``): first sight of a table -> full scan;
    otherwise delta-only. Returns only non-empty deltas, like the
    reference (``src/extract.py:230-237``), and the advanced state. Pure:
    the caller loads and commits the state (``plans.etl.extract`` commits
    after staging).

    The decision needs each table's snapshot maxima. ``maxima`` holds
    those the caller already has (``plans.etl.extract`` memoizes them
    under each source's stat signature); the tables it does not cover —
    the sources whose signature changed — are scanned by ONE
    :func:`table_maxima` job, and none starts when it covers them all.
    Exact against the per-delta rule
    ``max(prev, delta_watermark(extract_delta(...)))``: a row passes the
    delta predicate iff one of its audit timestamps passes the stored
    watermark (``>``, or ``>=`` when inclusive), so the delta is
    non-empty iff a snapshot maximum does, and the monotone max over the
    delta equals ``max(prev, snapshot max)``. NULL timestamps never
    pass; a table whose maxima are both NULL (empty) yields no delta.
    Tables in ``state`` but not in ``tables`` keep their watermark.
    """
    known = dict(maxima or {})
    known.update(table_maxima({n: df for n, df in tables.items() if n not in known}))
    new_state = dict(state)

    def passes(seen: datetime | None, mark: datetime) -> bool:
        return seen is not None and (seen >= mark if inclusive else seen > mark)

    out: dict[str, DataFrame] = {}
    for name, df in tables.items():
        c, u = known[name]
        if c is None and u is None:
            continue  # empty delta — reference drops empties too
        wm = state.get(name)
        if wm is None:
            out[name] = df
            new_state[name] = Watermark(EPOCH, EPOCH).merge(c, u)
        elif passes(c, wm.created_at) or passes(u, wm.last_updated):
            out[name] = extract_delta(df, wm, inclusive)
            new_state[name] = wm.merge(c, u)
    return out, new_state
