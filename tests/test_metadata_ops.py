"""Metadata-plane operator goldens — same values the reference asserts
(/root/reference/tests/test_public_interface.py:11-156)."""

import datetime
import os
import time

import pytest

from levi_spark.delta.log import DeltaLog
from levi_spark.delta.writer import write_delta
from levi_spark.functions.units import boundary_parser, str_to_bytes
from levi_spark.operators.metadata import (
    delta_file_sizes,
    filter_to_sql,
    filters_to_sql,
    latest_version,
    skipped_stats,
    updated_partitions,
)


@pytest.fixture(scope="module")
def basic_append(spark, fixtures_dir):
    return DeltaLog(spark, os.path.join(fixtures_dir, "basic_append", "delta")).snapshot()


def test_skipped_stats_goldens(basic_append):
    cases = [
        ([("a_float", "=", 4.5)], {"num_files": 3, "num_files_skipped": 2, "num_bytes_skipped": 3887}),
        ([("a_float", ">", 1), ("a_float", "<", 3)], {"num_files": 3, "num_files_skipped": 1, "num_bytes_skipped": 984}),
        ([("a_float", "<", 4.5)], {"num_files": 3, "num_files_skipped": 0, "num_bytes_skipped": 0}),
        ([("a_float", "<=", 2.3)], {"num_files": 3, "num_files_skipped": 1, "num_bytes_skipped": 984}),
        ([("a_float", ">", 4.5)], {"num_files": 3, "num_files_skipped": 2, "num_bytes_skipped": 3887}),
    ]
    for filters, expected in cases:
        assert skipped_stats(basic_append, filters) == expected, filters


def test_filter_to_sql():
    assert filter_to_sql(("a_float", "=", 4.5)) == "(`min.a_float` <= 4.5 and `max.a_float` >= 4.5)"
    assert filter_to_sql(("a_float", ">", 3)) == "(`max.a_float` > 3)"
    assert filters_to_sql([("a", "<", 1), ("b", ">=", 2)]) == "(`min.a` < 1) and (`max.b` >= 2)"
    with pytest.raises(ValueError):
        filter_to_sql(("a", "!=", 1))


def test_delta_file_sizes_golden(basic_append):
    res = delta_file_sizes(basic_append, ["<300b", "300b-1kb", "1kb-100kb", ">100kb"])
    assert res == {
        "num_files_<300b": 0,
        "num_files_300b-1kb": 2,
        "num_files_1kb-100kb": 1,
        "num_files_>100kb": 0,
    }


def test_latest_version_golden(spark, fixtures_dir):
    log = DeltaLog(spark, os.path.join(fixtures_dir, "multi_partitioned", "delta"))
    assert latest_version(log) == 2
    assert latest_version(log.snapshot()) == 2


def test_latest_version_of_time_travelled_snapshot(spark, tmp_path):
    loc = str(tmp_path / "tt")
    for i in range(4):
        write_delta(spark.range(i, i + 1), loc, mode="error" if i == 0 else "append")
    log = DeltaLog(spark, loc)
    assert latest_version(log.snapshot(version=1)) == 1
    assert latest_version(log.snapshot()) == 3
    assert latest_version(log) == 3
    assert latest_version(loc, spark=spark) == 3

def test_str_to_bytes():
    assert str_to_bytes("100b") == 100
    assert str_to_bytes("1kb") == 1_000
    assert str_to_bytes("4gb") == 4_000_000_000
    with pytest.raises(ValueError):
        str_to_bytes("4zb")


def test_boundary_parser():
    ten_tb = 10_000_000_000_000
    assert boundary_parser("<=1kb") == (0, 1_000)
    assert boundary_parser("<1kb") == (0, 999)
    assert boundary_parser(">=1kb") == (1000, ten_tb)
    assert boundary_parser(">1kb") == (1001, ten_tb)
    assert boundary_parser("10kb-4gb") == (10_000, 4_000_000_000)
    with pytest.raises(ValueError):
        boundary_parser("oops")


def test_updated_partitions_roundtrip(spark, tmp_path):
    loc = str(tmp_path / "t")
    df1 = spark.range(100).selectExpr("id as data", "1 as partition_1", "'a' as partition_2")
    write_delta(df1, loc, mode="error", partition_by=["partition_1", "partition_2"])
    start = datetime.datetime.now(datetime.timezone.utc)
    time.sleep(0.05)
    df2 = spark.range(100).selectExpr("id as data", "2 as partition_1", "'b' as partition_2")
    write_delta(df2, loc, mode="append", partition_by=["partition_1", "partition_2"])
    time.sleep(0.05)
    end = datetime.datetime.now(datetime.timezone.utc)

    snap = DeltaLog(spark, loc).snapshot()
    # no time filter: both partitions, first-seen order, typed values
    assert updated_partitions(snap) == [
        {"partition_1": 1, "partition_2": "a"},
        {"partition_1": 2, "partition_2": "b"},
    ]
    # [start, end) captures only the second append
    assert updated_partitions(snap, start, end) == [{"partition_1": 2, "partition_2": "b"}]


def test_write_read_roundtrip_overwrite(spark, tmp_path):
    loc = str(tmp_path / "rt")
    df = spark.range(10).selectExpr("id", "id * 2 as dbl")
    write_delta(df, loc, mode="error")
    log = DeltaLog(spark, loc)
    assert log.latest_version() == 0
    assert log.snapshot().to_df().count() == 10
    df2 = spark.range(3).selectExpr("id", "id * 3 as dbl")
    write_delta(df2, loc, mode="overwrite")
    assert log.snapshot().to_df().count() == 3
    # time travel still sees v0
    assert log.snapshot(0).to_df().count() == 10
    # stats present and parsed
    aa = log.snapshot().add_actions()
    assert aa.selectExpr("sum(num_records)").first()[0] == 3
