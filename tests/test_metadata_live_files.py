"""Driver-side metadata answers (``Snapshot.live_files``) against the
Spark evaluation they replace, on tables built here: int / long / float /
double / decimal columns, a file whose add carries no stats, a NaN max,
a FloatType min equal to a literal (the float32 edge) and a
column-mapped ('name') table. ``skipped_stats`` and ``delta_file_sizes``
must equal ``F.expr(filters_to_sql(...))`` / ``size_bytes.between`` over
``add_actions_flat()``, ``pruned_scan`` must read exactly the files its
Spark planning expression keeps, and on a log under the replay cap none of these
calls may run a Spark job."""

from __future__ import annotations

import itertools
import json
import os
from decimal import Decimal
from urllib.parse import unquote, urlparse

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from levi_spark.delta.log import DeltaLog, _numeric_minmax, to_float32
from levi_spark.delta.writer import write_delta
from levi_spark.functions.units import boundary_parser
from levi_spark.operators.metadata import (
    delta_file_sizes,
    filters_to_sql,
    pruned_scan,
    skipped_stats,
)

OPS = ["=", "<", "<=", ">", ">="]
NUM_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("i", T.IntegerType()),
        T.StructField("f", T.FloatType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("dec", T.DecimalType(10, 2)),
        T.StructField("s", T.StringType()),
    ]
)
LITERALS = {
    "id": [-1, 0, 99, 100, 150, 399, 400, 99.5, 1e20, 2**53, float(2**53), 2**53 + 2],
    "i": [0, 7, 2000, 2001, 3990, 1000.0, 2000.5, 1e-05],
    "f": [0.1, 0.5, 2.5, 10, 20.0, 39.9, 40, 16777217, 1e30],
    "d": [0.25, 24.75, 25, 25.1, 99.75, 1e-05, 1e300],
    "dec": [0, 0.5, 1, 1.0, 0.99, 3.99, 4, 100],
}
SIZE_BOUNDARIES = ["<1kb", "1kb-2kb", "2kb-3kb", ">3kb", "<=2500b"]


def _rows(lo, hi):
    return [
        (n, n * 20, n * 0.1, n * 0.25, Decimal(n) / 100, f"s{n:04d}")
        for n in range(lo, hi)
    ]


def _edit_adds(log_file: str, edit) -> None:
    """Apply ``edit`` to every add action of one commit file."""
    with open(log_file) as fh:
        acts = [json.loads(line) for line in fh if line.strip()]
    for a in acts:
        if "add" in a:
            edit(a["add"])
    with open(log_file, "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in acts) + "\n")


def _float_min_as_text(add: dict) -> None:
    """Record the float min 0.1f as ``0.1``, the shortest text other
    Delta writers emit for it (this writer emits its exact double)."""
    stats = json.loads(add["stats"])
    stats["minValues"]["f"] = 0.1
    add["stats"] = json.dumps(stats)


@pytest.fixture(scope="module")
def num_table(spark, tmp_path_factory):
    """v0: 4 range-disjoint files; v1: a file with float min 0.1f
    (recorded as the text ``0.1``), a
    float max of exactly 2.5, a NaN double max and a long max of 2^53+1
    (a double literal of 2^53 equals it, a decimal literal does not);
    v2: a file whose add has no stats."""
    p = str(tmp_path_factory.mktemp("live_files") / "num")
    base = spark.createDataFrame(_rows(0, 400), NUM_SCHEMA)
    write_delta(
        base.repartitionByRange(4, "id").sortWithinPartitions("id"),
        p, mode="error", checkpoint_interval=None,
    )
    edge = spark.createDataFrame(
        [
            (500, 5, 0.1, 3.0, Decimal("0.50"), "e"),
            (2**53 + 1, 6, 2.5, float("nan"), Decimal("0.99"), "e"),
        ],
        NUM_SCHEMA,
    )
    write_delta(edge.coalesce(1), p, mode="append", checkpoint_interval=None)
    _edit_adds(os.path.join(p, "_delta_log", f"{1:020d}.json"), _float_min_as_text)
    write_delta(
        spark.createDataFrame(_rows(600, 610), NUM_SCHEMA).coalesce(1),
        p, mode="append", checkpoint_interval=None,
    )
    _edit_adds(
        os.path.join(p, "_delta_log", f"{2:020d}.json"), lambda a: a.pop("stats")
    )
    return p


PHYS = {"k": "col-k1", "x": "col-x2"}


@pytest.fixture(scope="module")
def mapped_table(spark, tmp_path_factory):
    """Column mapping 'name': three files written under physical names,
    stats keyed by physical name."""
    p = str(tmp_path_factory.mktemp("live_files") / "mapped")
    os.makedirs(os.path.join(p, "_delta_log"))
    for lo in (0, 10, 20):
        spark.createDataFrame(
            [(n, n * 1.5) for n in range(lo, lo + 10)],
            f"`{PHYS['k']}` BIGINT, `{PHYS['x']}` DOUBLE",
        ).coalesce(1).write.mode("append").parquet(p)
    schema = {
        "type": "struct",
        "fields": [
            {"name": name, "type": typ, "nullable": True,
             "metadata": {"delta.columnMapping.id": i + 1,
                          "delta.columnMapping.physicalName": PHYS[name]}}
            for i, (name, typ) in enumerate([("k", "long"), ("x", "double")])
        ],
    }
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {
            "id": "mapped", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema), "partitionColumns": [],
            "configuration": {"delta.columnMapping.mode": "name"},
            "createdTime": 0,
        }},
    ]
    for name in sorted(n for n in os.listdir(p) if n.endswith(".parquet")):
        t = pq.read_table(os.path.join(p, name))
        cols = {c: t.column(c).to_pylist() for c in t.column_names}
        stats = {
            "numRecords": t.num_rows,
            "minValues": {c: min(v) for c, v in cols.items()},
            "maxValues": {c: max(v) for c, v in cols.items()},
            "nullCount": {c: 0 for c in cols},
        }
        actions.append({"add": {
            "path": name, "partitionValues": {},
            "size": os.path.getsize(os.path.join(p, name)),
            "modificationTime": 0, "dataChange": True,
            "stats": json.dumps(stats),
        }})
    with open(os.path.join(p, "_delta_log", f"{0:020d}.json"), "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions) + "\n")
    return p


def _skipped_reference(snap, filter_sets) -> list[dict]:
    """``skipped_stats`` of every filter set as one Spark job over
    ``add_actions_flat()`` evaluating ``filters_to_sql``."""
    aggs = [F.count(F.lit(1)), F.coalesce(F.sum("size_bytes"), F.lit(0))]
    for filters in filter_sets:
        pred = F.expr(filters_to_sql(filters))
        aggs += [
            F.coalesce(F.sum(F.when(pred, 1).otherwise(0)), F.lit(0)),
            F.coalesce(F.sum(F.when(pred, F.col("size_bytes"))), F.lit(0)),
        ]
    row = snap.add_actions_flat().agg(*aggs).first()
    n, total = row[0], row[1]
    return [
        {
            "num_files": n,
            "num_files_skipped": n - row[2 + 2 * k],
            "num_bytes_skipped": total - row[3 + 2 * k],
        }
        for k in range(len(filter_sets))
    ]


def _kept_reference(snap, filter_sets) -> list[list[str]]:
    """Files ``pruned_scan`` keeps for each filter set, as one Spark
    job: a file is dropped only where a Column comparison of the
    literal with its min/max stat is FALSE."""
    cmp = {
        "=": [("min", "__le__"), ("max", "__ge__")],
        "<": [("min", "__lt__")], "<=": [("min", "__le__")],
        ">": [("max", "__gt__")], ">=": [("max", "__ge__")],
    }
    keeps = []
    for filters in filter_sets:
        keep = F.lit(True)
        for c, op, v in filters:
            pred = F.lit(True)
            for bound, method in cmp[op]:
                pred = pred & getattr(F.col(f"`{bound}.{c}`"), method)(v)
            keep = keep & F.coalesce(pred, F.lit(True))
        keeps.append(keep)
    rows = snap.add_actions_flat().select(
        "path", *[k.alias(f"k{i}") for i, k in enumerate(keeps)]
    ).collect()
    return [[r["path"] for r in rows if r[f"k{i}"]] for i in range(len(filter_sets))]


def _scan_reference(snap, filters, kept) -> set[str]:
    """Files a scan of ``kept`` reads under the row-level filter (the
    optimizer drops every file when the filter is provably empty)."""
    exact = F.lit(True)
    for c, op, v in filters:
        exact = exact & {"=": F.col(c) == v, "<": F.col(c) < v, "<=": F.col(c) <= v,
                         ">": F.col(c) > v, ">=": F.col(c) >= v}[op]
    return _names(snap.to_df(paths=kept).where(exact))


def _filter_sets(literals):
    singles = [
        [(c, op, v)] for c, vs in literals.items() for v in vs for op in OPS
    ]
    cols = list(literals)
    pairs = [
        [(a, ">=", literals[a][1]), (b, "<", literals[b][-2])]
        for a, b in itertools.combinations(cols, 2)
    ]
    return singles + pairs


def _names(df) -> set[str]:
    return {os.path.basename(unquote(urlparse(f).path)) for f in df.inputFiles()}


def _parity(snap, literals):
    filter_sets = _filter_sets(literals)
    skipped = _skipped_reference(snap, filter_sets)
    kept = _kept_reference(snap, filter_sets)
    for filters, want_skipped, want_kept in zip(filter_sets, skipped, kept):
        assert skipped_stats(snap, filters) == want_skipped, filters
        want = _scan_reference(snap, filters, want_kept)
        assert _names(pruned_scan(snap, filters)) == want, filters


def test_skipped_stats_and_pruning_match_spark(spark, num_table):
    _parity(DeltaLog(spark, num_table).snapshot(), LITERALS)


def test_column_mapped_table_matches_spark(spark, mapped_table):
    snap = DeltaLog(spark, mapped_table).snapshot()
    assert all(lf.min_values for lf in snap.live_files())
    _parity(snap, {"k": [0, 9, 10, 15, 29, 30, 9.5], "x": [0, 13.5, 14.0, 44.25, 45]})
    rows = sorted(r.k for r in pruned_scan(snap, [("k", ">=", 25)]).collect())
    assert rows == list(range(25, 30))


def test_delta_file_sizes_matches_spark(spark, num_table):
    snap = DeltaLog(spark, num_table).snapshot()
    flat = snap.add_actions_flat()
    want = {}
    for b in SIZE_BOUNDARIES:
        lo, hi = boundary_parser(b)
        want[f"num_files_{b}"] = flat.where(F.col("size_bytes").between(lo, hi)).count()
    assert delta_file_sizes(snap, SIZE_BOUNDARIES) == want
    assert sum(delta_file_sizes(snap, ["<1gb"]).values()) == 6


def test_stats_are_conformed_like_from_json(spark, num_table):
    snap = DeltaLog(spark, num_table).snapshot()
    by_version = {}
    for lf in snap.live_files():
        by_version.setdefault(lf.version, []).append(lf)
    (edge,) = by_version[1]
    assert edge.min_values["f"] == to_float32(0.1) != 0.1
    assert edge.max_values["f"] == 2.5
    assert edge.max_values["d"] != edge.max_values["d"]  # NaN
    assert edge.min_values["dec"] == Decimal("0.50")
    assert "s" not in edge.min_values  # only numeric columns
    (bare,) = by_version[2]
    assert bare.min_values == {} and bare.max_values == {}
    # the float32 edge: the file's min is 0.1f, which is above 0.1
    assert skipped_stats(snap, [("f", "<=", 0.1)])["num_files_skipped"] == 5
    assert skipped_stats(snap, [("f", "=", 2.5)]) == _skipped_reference(
        snap, [[("f", "=", 2.5)]]
    )[0]


def test_non_numeric_literals_take_the_spark_path(spark, num_table):
    snap = DeltaLog(spark, num_table).snapshot()
    filters = [("s", ">=", "'s0100'")]
    assert skipped_stats(snap, filters) == _skipped_reference(snap, [filters])[0]
    scan = pruned_scan(snap, [("s", ">=", "s0300")])
    kept = _kept_reference(snap, [[("s", ">=", "s0300")]])[0]
    assert _names(scan) == _scan_reference(snap, [("s", ">=", "s0300")], kept)
    assert scan.count() == 100 + 10


def _jobs_in(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"live-files-{id(fn)}"
    sc.setJobGroup(group, "metadata questions")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_metadata_questions_run_no_spark_jobs(spark, num_table):
    def ask():
        snap = DeltaLog(spark, num_table).snapshot()
        skipped_stats(snap, [("id", ">=", 100), ("f", "<", 20.0)])
        skipped_stats(snap, [("dec", "=", 1)])
        delta_file_sizes(snap, SIZE_BOUNDARIES)
        pruned_scan(snap, [("d", ">", 30)]).inputFiles()

    ask()  # warm any lazy session state outside the counted group
    assert _jobs_in(spark, ask) == 0


def test_stat_conforming_matches_from_json(spark):
    """Odd stats JSON — out-of-range integrals, a float token for an
    int, decimals past their scale or precision, non-finite tokens,
    float32 overflow — conformed as ``from_json`` does it."""
    cols = [
        ("b", T.ByteType()), ("i", T.IntegerType()), ("l", T.LongType()),
        ("f", T.FloatType()), ("d", T.DoubleType()), ("m", T.DecimalType(4, 2)),
    ]
    docs = [
        '{"b": 300, "i": 1.0, "l": 9223372036854775807, "f": 0.1, "d": "NaN", "m": 0.125}',
        '{"b": -128, "i": 2147483648, "l": "7", "f": 1e39, "d": 1e400, "m": 12.345}',
        '{"b": true, "i": -5, "l": -1, "f": "-Infinity", "d": 1, "m": 123.45}',
        '{"f": 3.4028235e38, "d": -0.0, "m": "1.5", "i": null}',
    ]
    schema = T.StructType([T.StructField(n, t) for n, t in cols])
    df = spark.createDataFrame([(d,) for d in docs], "j string")
    want = [
        {k: v for k, v in r["s"].asDict().items() if v is not None}
        for r in df.select(F.from_json("j", schema).alias("s")).collect()
    ]
    stat_cols = tuple((n, n, t) for n, t in cols)
    got = [_numeric_minmax('{"minValues": %s}' % d, stat_cols)[0] for d in docs]
    for g, w in zip(got, want):
        assert set(g) == set(w)
        for k in w:
            assert g[k] == w[k] or (g[k] != g[k] and w[k] != w[k]), (k, g[k], w[k])
