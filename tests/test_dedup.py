"""Dedup operator round-trips — canonical inputs/expected sets from the
reference suite (/root/reference/tests/test_public_interface.py:159-198,
597-906)."""

import pytest

from levi_spark.delta.table import LeviTable
from levi_spark.delta.writer import write_delta
from levi_spark.operators.dedup import (
    drop_duplicates,
    drop_duplicates_pkey,
    kill_duplicates,
    kill_duplicates_targeted,
)


def _mk_table(spark, path, rows, cols):
    df = spark.createDataFrame(rows, cols)
    write_delta(df, path, mode="error")
    return LeviTable(spark, path)


def _rows(table, cols):
    return sorted(tuple(r) for r in table.to_df().select(*cols).collect())


KILL_ROWS = [
    (1, "A", "A"), (2, "A", "B"), (3, "A", "A"), (4, "A", "A"),
    (5, "B", "B"), (6, "D", "D"), (9, "B", "B"),
]


def test_kill_duplicates(spark, tmp_path):
    t = _mk_table(spark, str(tmp_path / "t"), KILL_ROWS, ["col1", "col2", "col3"])
    kill_duplicates(t, ["col3", "col2"])
    assert _rows(t, ["col1", "col2", "col3"]) == [(2, "A", "B"), (6, "D", "D")]


def test_kill_duplicates_null_keys_survive(spark, tmp_path):
    rows = [(1, None, "A"), (2, None, "A"), (3, "X", "A")]
    t = _mk_table(spark, str(tmp_path / "t"), rows, ["col1", "col2", "col3"])
    kill_duplicates(t, ["col2", "col3"])
    # NULL = NULL never matches: both null rows survive
    assert _rows(t, ["col1"]) == [(1,), (2,), (3,)]


def test_kill_duplicates_errors(spark, tmp_path):
    t = _mk_table(spark, str(tmp_path / "t"), KILL_ROWS, ["col1", "col2", "col3"])
    with pytest.raises(TypeError):
        kill_duplicates("not a table", ["col1"])
    with pytest.raises(TypeError):
        kill_duplicates(t, [])
    with pytest.raises(TypeError):
        kill_duplicates(t, ["nope"])


def test_kill_duplicates_targeted_rewrites_only_hit_files(spark, tmp_path):
    path = str(tmp_path / "t")
    cols = ["col1", "col2", "col3"]
    # file 0: all the duplicate groups; file 1: clean rows only
    write_delta(spark.createDataFrame(KILL_ROWS, cols).coalesce(1), path, mode="error")
    clean = [(10, "X", "Y"), (11, "Y", "Z")]
    write_delta(spark.createDataFrame(clean, cols).coalesce(1), path, mode="append")
    t = LeviTable(spark, path)
    clean_paths = {
        r["path"]
        for r in t.snapshot().add_actions().where("commit_version = 1").collect()
    }

    res = kill_duplicates_targeted(t, ["col3", "col2"])
    assert res["files_rewritten"] == 1
    assert res["files_total"] == 2
    assert res["rows_deleted"] == 5
    t = LeviTable(spark, path)
    assert _rows(t, cols) == [(2, "A", "B"), (6, "D", "D"), (10, "X", "Y"), (11, "Y", "Z")]
    # the clean file was not rewritten — same physical file still live
    live = {r["path"] for r in t.snapshot().add_actions().collect()}
    assert clean_paths <= live


def test_kill_duplicates_targeted_noop_and_nulls(spark, tmp_path):
    path = str(tmp_path / "t")
    cols = ["col1", "col2", "col3"]
    # NULL-keyed repeats only → never deleted, and no file rewritten
    rows = [(1, None, "A"), (2, None, "A"), (3, "X", "A")]
    write_delta(spark.createDataFrame(rows, cols), path, mode="error")
    t = LeviTable(spark, path)
    res = kill_duplicates_targeted(t, ["col2", "col3"])
    assert res["version"] == -1
    assert res["files_rewritten"] == 0
    assert _rows(t, ["col1"]) == [(1,), (2,), (3,)]


def test_kill_duplicates_targeted_group_spanning_files(spark, tmp_path):
    path = str(tmp_path / "t")
    cols = ["col1", "col2", "col3"]
    # one duplicate group split across two commits/files → both rewritten
    write_delta(
        spark.createDataFrame([(1, "A", "A"), (2, "A", "B")], cols).coalesce(1),
        path, mode="error",
    )
    write_delta(
        spark.createDataFrame([(3, "A", "A"), (4, "C", "C")], cols).coalesce(1),
        path, mode="append",
    )
    t = LeviTable(spark, path)
    res = kill_duplicates_targeted(t, ["col2", "col3"])
    assert res["files_rewritten"] == 2
    assert _rows(t, cols) == [(2, "A", "B"), (4, "C", "C")]


DROP_ROWS = [
    (1, "A", "A", "C"), (2, "A", "B", "C"), (3, "A", "A", "D"),
    (4, "A", "A", "E"), (5, "B", "B", "C"), (6, "D", "D", "C"), (9, "B", "B", "E"),
]


def test_drop_duplicates_keeps_first_physical(spark, tmp_path):
    # single input partition → one file → physical order == insertion order
    df = spark.createDataFrame(DROP_ROWS, ["col1", "col2", "col3", "col4"]).coalesce(1)
    path = str(tmp_path / "t")
    write_delta(df, path, mode="error")
    t = LeviTable(spark, path)
    drop_duplicates(t, ["col2", "col3"])
    assert _rows(t, ["col1", "col2", "col3", "col4"]) == [
        (1, "A", "A", "C"),
        (2, "A", "B", "C"),
        (5, "B", "B", "C"),
        (6, "D", "D", "C"),
    ]


def test_drop_duplicates_pkey(spark, tmp_path):
    # unsorted pk input — survivor must be lowest pk per group
    rows = [(9, "B", "B", "E"), (4, "A", "A", "E"), (1, "A", "A", "C"),
            (5, "B", "B", "C"), (2, "A", "B", "C"), (6, "D", "D", "C"),
            (3, "A", "A", "D")]
    t = _mk_table(spark, str(tmp_path / "t"), rows, ["col1", "col2", "col3", "col4"])
    drop_duplicates_pkey(t, "col1", ["col2", "col3"])
    assert _rows(t, ["col1", "col2", "col3", "col4"]) == [
        (1, "A", "A", "C"),
        (2, "A", "B", "C"),
        (5, "B", "B", "C"),
        (6, "D", "D", "C"),
    ]


def test_drop_duplicates_pkey_errors(spark, tmp_path):
    t = _mk_table(
        spark, str(tmp_path / "t"),
        [(1, "A", "A"), (1, "B", "B")], ["col1", "col2", "col3"],
    )
    with pytest.raises(TypeError):
        drop_duplicates_pkey(t, "", ["col2"])
    with pytest.raises(TypeError):
        drop_duplicates_pkey(t, "col1", ["col1", "col2"])
    with pytest.raises(TypeError):
        drop_duplicates_pkey(t, "col1", ["missing"])
    with pytest.raises(ValueError):
        drop_duplicates_pkey(t, "col1", ["col2"])  # pk not unique


def _mk_partitioned(spark, path):
    """Three partitions; every duplicate group spans two of them."""
    rows = [(i, i % 4, f"p{i % 3}") for i in range(24)]
    df = spark.createDataFrame(rows, ["id", "k", "part"])
    write_delta(df, path, mode="error", partition_by=["part"])
    return LeviTable(spark, path)


def test_drop_duplicates_on_partitioned_table(spark, tmp_path):
    t = _mk_partitioned(spark, str(tmp_path / "pt"))
    res = drop_duplicates(t, ["k"])
    got = sorted(tuple(r) for r in t.to_df().select("k", "part").collect())
    assert [k for k, _ in got] == [0, 1, 2, 3]
    assert res["rows_deleted"] == 20
    # partition values ride through the rewrite
    assert all(p in ("p0", "p1", "p2") for _, p in got)


def test_kill_duplicates_targeted_on_partitioned_table(spark, tmp_path):
    t = _mk_partitioned(spark, str(tmp_path / "pt"))
    write_delta(
        spark.createDataFrame([(100, 100, "p1")], ["id", "k", "part"]),
        str(tmp_path / "pt"), mode="append", partition_by=["part"],
    )
    res = kill_duplicates_targeted(t, ["k"])
    assert res["rows_deleted"] == 24
    assert [tuple(r) for r in t.to_df().select("id", "k", "part").collect()] == [
        (100, 100, "p1")
    ]
