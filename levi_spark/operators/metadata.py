"""Metadata-plane operators: queries over the Delta transaction log.

Spark-native re-expression of the reference's metadata analytics
(``/root/reference/levi/__init__.py:13-116`` — ``skipped_stats``,
``filter_to_sql`` / ``filters_to_sql``, ``latest_version``,
``delta_file_sizes``, ``updated_partitions``).

Scale stance: the questions are O(number of live files) of metadata
work and never touch data-plane rows. Like the reference's in-process
filters over its add-actions table, they are answered on the driver
from the snapshot's live-file list (:meth:`Snapshot.live_files`), which
scan planning builds anyway: on a log under the driver-side replay cap
that is zero Spark jobs, and above it the one collect of the live adds
that every scan of the snapshot shares.

The Spark evaluation over :meth:`Snapshot.add_actions_flat` remains
only for inputs that have no driver-side evaluator: a filter whose
literal is not an int/float (SQL text such as ``"'abc'"``, dates),
whose column is not a top-level numeric data column, or — in
:func:`pruned_scan` — that names a partition column.
"""

from __future__ import annotations

import datetime as _dt
import math
import operator
from decimal import Decimal
from typing import Iterable, Sequence
from urllib.parse import unquote

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from levi_spark.delta.log import NUMERIC_STATS_TYPES, DeltaLog, LiveFile, Snapshot
from levi_spark.functions.units import boundary_parser

DEFAULT_SIZE_BOUNDARIES = ["<1mb", "1mb-500mb", "500mb-1gb", "1gb-2gb", ">2gb"]

Filter = tuple  # (column, op, value)

# The min/max comparisons each operator compiles to (``filter_to_sql``).
_BOUND_CHECKS = {
    "=": (("min", operator.le), ("max", operator.ge)),
    "<": (("min", operator.lt),),
    "<=": (("min", operator.le),),
    ">": (("max", operator.gt),),
    ">=": (("max", operator.ge),),
}
_ROW_OPS = {
    "=": operator.eq, "<": operator.lt, "<=": operator.le,
    ">": operator.gt, ">=": operator.ge,
}
# Integers a float32 holds exactly: comparing one with a FloatType stat
# gives the same answer whether Spark widens to float or to double.
_FLOAT32_EXACT_INT = 1 << 24


def _unsupported(filter: Filter) -> ValueError:
    return ValueError(f"Unsupported filter operator: {filter[1]!r} in {filter!r}")


def filter_to_sql(filter: Filter) -> str:
    """Compile one ``(col, op, value)`` predicate into pruning SQL over the
    flattened stats columns (``min.<col>`` / ``max.<col>``).

    Semantics (reference parity, levi/__init__.py:34-47):
    ``=`` is *interval overlap* — a file can contain the value iff
    ``min <= v <= max``; ``<``/``<=`` consult only the file minimum;
    ``>``/``>=`` only the maximum. Unsupported operators raise
    ``ValueError``.
    """
    column, operator, value = filter
    if operator == "=":
        return f"(`min.{column}` <= {value} and `max.{column}` >= {value})"
    if operator == "<":
        return f"(`min.{column}` < {value})"
    if operator == "<=":
        return f"(`min.{column}` <= {value})"
    if operator == ">":
        return f"(`max.{column}` > {value})"
    if operator == ">=":
        return f"(`max.{column}` >= {value})"
    raise _unsupported(filter)


def filters_to_sql(filters: Iterable[Filter]) -> str:
    """AND-conjunction of per-filter pruning SQL (no OR/NOT — reference
    parity, levi/__init__.py:27-31)."""
    return " and ".join(filter_to_sql(f) for f in filters)


def _literal(value, sql_text: bool) -> tuple[str, object] | None:
    """``(kind, value)`` of a filter literal as Spark types it: as the
    SQL text :func:`filter_to_sql` writes (``sql_text``), where plain
    float text is an exact decimal and exponent text a double, or as a
    Column literal, where every float is a double. None for literals
    only Spark evaluates: bools, strings, dates, non-finite floats and
    ints beyond a long."""
    if isinstance(value, bool) or not isinstance(value, (int, float)):
        return None
    if isinstance(value, int):
        return ("integral", value) if -(1 << 63) <= value < (1 << 63) else None
    if not math.isfinite(value):
        return None
    text = f"{value}"
    if sql_text and "e" not in text:
        return ("decimal", Decimal(text))
    return ("double", float(value))


def _stat_key(dt: T.DataType, literal: tuple[str, object]):
    """``(key, literal key)`` such that comparing ``key(stat)`` with the
    literal key gives Spark's answer for a ``dt`` column against the
    literal; None when the pair is left to Spark."""
    kind, v = literal
    if (
        isinstance(dt, T.FloatType)
        and kind == "integral"
        and abs(v) > _FLOAT32_EXACT_INT
    ):
        return None
    if kind == "double" or isinstance(dt, (T.FloatType, T.DoubleType)):
        # compared as doubles; Spark orders NaN above +inf, equal to itself
        def key(x):
            x = float(x)
            return (1, 0.0) if math.isnan(x) else (0, x)

        return key, key(v)
    return (lambda x: x), v  # integral / decimal on both sides: exact


def _stats_outcomes(
    snapshot: Snapshot, filters: Sequence[Filter], sql_text: bool
) -> list[tuple[LiveFile, list]] | None:
    """Each live file with the outcome of every min/max comparison the
    filters compile to (True / False, or None where the stat is
    missing), evaluated on the driver. None when some filter is not an
    int/float literal on a top-level numeric data column — the caller
    then evaluates on Spark."""
    meta = snapshot.metadata
    parts = set(meta.partition_columns)
    types = {f.name: f.dataType for f in meta.schema.fields}
    checks = []
    for f in filters:
        column, op, value = f
        if op not in _BOUND_CHECKS:
            raise _unsupported(f)
        dt = types.get(column)
        lit = _literal(value, sql_text)
        if column in parts or not isinstance(dt, NUMERIC_STATS_TYPES) or lit is None:
            return None
        keyed = _stat_key(dt, lit)
        if keyed is None:
            return None
        key, v = keyed
        checks += [(bound, column, cmp, key, v) for bound, cmp in _BOUND_CHECKS[op]]
    out = []
    for lf in snapshot.live_files():
        res = []
        for bound, column, cmp, key, v in checks:
            stat = (lf.min_values if bound == "min" else lf.max_values).get(column)
            res.append(None if stat is None else cmp(key(stat), v))
        out.append((lf, res))
    return out


def skipped_stats(snapshot: Snapshot, filters: Sequence[Filter]) -> dict:
    """File-skipping simulation: how many files / bytes would min-max
    stats pruning eliminate for this conjunctive predicate?

    Returns ``{"num_files", "num_files_skipped", "num_bytes_skipped"}``.
    Files with missing stats produce NULL comparisons → not matched →
    counted as skipped (mirrors the reference's pandas-NaN behavior,
    SURVEY §7.3-4).

    When every filter is an int/float literal on a top-level numeric
    data column, the ``filters_to_sql`` comparisons are evaluated on the
    driver over :meth:`Snapshot.live_files`, with the literal typed and
    compared as Spark would (no Spark job under the log cap). Any other
    filter list is evaluated by one aggregation job over
    ``add_actions_flat()``.
    """
    filters = list(filters)
    outcomes = _stats_outcomes(snapshot, filters, sql_text=True) if filters else None
    if outcomes is not None:
        matched = [lf for lf, res in outcomes if all(r is True for r in res)]
        total = sum(lf.size or 0 for lf, _ in outcomes)
        return {
            "num_files": len(outcomes),
            "num_files_skipped": len(outcomes) - len(matched),
            "num_bytes_skipped": total - sum(lf.size or 0 for lf in matched),
        }
    flat = snapshot.add_actions_flat()
    pred = F.expr(filters_to_sql(filters))
    row = flat.agg(
        F.count(F.lit(1)).alias("num_files"),
        F.coalesce(F.sum("size_bytes"), F.lit(0)).alias("total_bytes"),
        F.coalesce(F.sum(F.when(pred, F.lit(1)).otherwise(F.lit(0))), F.lit(0)).alias(
            "matching_files"
        ),
        F.coalesce(F.sum(F.when(pred, F.col("size_bytes"))), F.lit(0)).alias(
            "matching_bytes"
        ),
    ).first()
    return {
        "num_files": row["num_files"],
        "num_files_skipped": row["num_files"] - row["matching_files"],
        "num_bytes_skipped": row["total_bytes"] - row["matching_bytes"],
    }


def _pruned_paths_spark(snapshot: Snapshot, filters: Sequence[Filter]) -> list[str]:
    """:func:`pruned_scan`'s surviving files, evaluated by one job over
    ``add_actions_flat()`` (partition-column filters, and literals the
    driver-side evaluator does not type)."""
    meta = snapshot.metadata
    part_cols = set(meta.partition_columns)
    types = {f.name: f.dataType for f in meta.schema.fields}
    flat = snapshot.add_actions_flat()
    stat_cols = {c[len("min."):] for c in flat.columns if c.startswith("min.")}
    keep = F.lit(True)
    for column, op, value in filters:
        if column in part_cols:
            pv = F.col("partitionValues").getItem(column).cast(types[column])
            keep = keep & _ROW_OPS[op](pv, value)
        elif column in stat_cols:
            pred = F.lit(True)
            for bound, cmp in _BOUND_CHECKS[op]:
                pred = pred & cmp(F.col(f"`{bound}.{column}`"), value)
            keep = keep & F.coalesce(pred, F.lit(True))  # no stats -> must read
        # else: not prunable (nested / no stats schema) — residual only
    return [unquote(r["path"]) for r in flat.where(keep).select("path").collect()]


def pruned_scan(
    snapshot: Snapshot,
    filters: Sequence[Filter],
    with_lineage: bool = False,
) -> DataFrame:
    """Scan with data skipping APPLIED: the same ``(col, op, value)``
    conjunction that :func:`skipped_stats` measures prunes the file
    list before any data is read, then re-applies exactly per row.

    The reference only ever *simulates* skipping (P1's whole purpose);
    this is the other half — a scan whose IO is O(files that can
    match):

    * **stats pruning** (data columns): a file survives unless its
      min/max interval *provably* excludes the predicate
      (``filter_to_sql`` semantics); missing stats keep the file —
      conservative, never wrong. Int/float literals on top-level
      numeric columns are decided on the driver over
      :meth:`Snapshot.live_files` (no Spark job to plan the scan).
    * **partition pruning** (partition columns): exact — every row of
      a file shares the partition value, so ``value op v`` not being
      TRUE (including the NULL partition) eliminates the file. A filter
      list with a partition-column filter, or a literal the driver
      does not type, plans with one job over ``add_actions_flat()``.
    * the row-level predicate is then applied on the surviving files,
      where it also pushes into the parquet scan as usual.

    Unsupported operators raise ``ValueError`` (same contract as
    ``filter_to_sql``). Deletion vectors, partition-value typing, and
    lineage columns behave exactly as :meth:`Snapshot.to_df`.
    """
    filters = list(filters)
    exact = F.lit(True)
    for f in filters:
        if f[1] not in _ROW_OPS:
            raise _unsupported(f)
        exact = exact & _ROW_OPS[f[1]](F.col(f[0]), f[2])
    outcomes = _stats_outcomes(snapshot, filters, sql_text=False)
    if outcomes is not None:
        survivors = [lf.path for lf, res in outcomes if False not in res]
    else:
        survivors = _pruned_paths_spark(snapshot, filters)
    return snapshot.to_df(paths=survivors, with_lineage=with_lineage).where(exact)


def latest_version(table: DeltaLog | Snapshot | str, spark=None) -> int:
    """Version of the table (reference: levi/__init__.py:50-51, which
    returns ``DeltaTable.version()``, the loaded version): a snapshot's
    own version — also when it was time-travelled — and the newest
    committed version for a ``DeltaLog`` or a path."""
    if isinstance(table, Snapshot):
        return table.version
    if isinstance(table, DeltaLog):
        return table.latest_version()
    if isinstance(table, str):
        if spark is None:
            raise TypeError("latest_version(path) requires the spark argument")
        return DeltaLog(spark, table).latest_version()
    raise TypeError(f"expected DeltaLog/Snapshot/path, got {type(table).__name__}")


def delta_file_sizes(
    snapshot: Snapshot, boundaries: Sequence[str] | None = None
) -> dict:
    """File-size histogram over live files.

    ``num_files_<boundary>`` counts the files whose ``add.size`` lies in
    the boundary's inclusive ``between(lo, hi)`` range (reference
    parity, levi/__init__.py:54-63). Counted on the driver over
    :meth:`Snapshot.live_files` — no Spark job under the log cap.
    """
    boundaries = list(boundaries or DEFAULT_SIZE_BOUNDARIES)
    sizes = [lf.size for lf in snapshot.live_files() if lf.size is not None]
    out = {}
    for b in boundaries:
        lo, hi = boundary_parser(b)
        out[f"num_files_{b}"] = sum(1 for s in sizes if lo <= s <= hi)
    return out


def _to_epoch_millis(t) -> int:
    if isinstance(t, _dt.datetime):
        return int(t.timestamp() * 1000)
    if isinstance(t, (int, float)):
        return int(t)
    raise TypeError(f"expected datetime or epoch millis, got {type(t).__name__}")


def updated_partitions(
    snapshot: Snapshot,
    start_time: _dt.datetime | int | None = None,
    end_time: _dt.datetime | int | None = None,
) -> list[dict]:
    """Distinct partition values of files modified in ``[start, end)``
    — start inclusive, end exclusive (reference parity,
    levi/__init__.py:108-116). Values are cast to the declared partition
    column types (deltalake returns typed values, e.g. int 1 not "1").
    """
    meta = snapshot.metadata
    part_cols = meta.partition_columns
    if not part_cols:
        return []
    aa = snapshot.add_actions()
    if start_time is not None:
        aa = aa.where(F.col("modification_time") >= F.lit(_to_epoch_millis(start_time)))
    if end_time is not None:
        aa = aa.where(F.col("modification_time") < F.lit(_to_epoch_millis(end_time)))
    by_name = {f.name: f for f in meta.schema.fields}
    typed = (
        aa.select(
            F.col("commit_version"),
            F.col("modification_time"),
            *[
                F.col("partitionValues").getItem(c).cast(by_name[c].dataType).alias(c)
                for c in part_cols
            ],
        )
        # First-seen order parity with the reference (levi returns
        # partitions in add-action order): order by earliest commit /
        # modification time per distinct partition tuple.
        .groupBy(*part_cols)
        .agg(
            F.min("commit_version").alias("__v"),
            F.min("modification_time").alias("__t"),
        )
        .orderBy("__v", "__t")
        .drop("__v", "__t")
    )
    return [r.asDict() for r in typed.collect()]
