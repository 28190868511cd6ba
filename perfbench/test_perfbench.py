"""Tests of the benchmark's own code: the seeded fixture and span arithmetic.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import os
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import fixture  # noqa: E402
from layers import _metric_total  # noqa: E402
from spans import Span, self_time, union_length  # noqa: E402

from prajna_spark.sources.catalog import DEFAULT_SF_DIR, TABLES  # noqa: E402


def _column_types(files: list[str]) -> list[tuple[str, str, str]]:
    schema = pq.ParquetFile(files[0]).schema
    return [
        (schema.column(i).path, schema.column(i).physical_type, str(schema.column(i).logical_type))
        for i in range(len(schema))
    ]


@pytest.fixture(scope="module")
def fixtures(tmp_path_factory):
    if not os.path.isdir(DEFAULT_SF_DIR):
        pytest.skip(f"dataset {DEFAULT_SF_DIR} not present")
    work = str(tmp_path_factory.mktemp("work"))
    return {seed: fixture.fixture_dir(DEFAULT_SF_DIR, seed, work, TABLES) for seed in (1, 2)}


@pytest.mark.parametrize("seed", [1, 2])
@pytest.mark.parametrize("table", TABLES)
def test_fixture_keeps_rows_schema_and_parquet_types(fixtures, seed, table):
    src = fixture._source_files(DEFAULT_SF_DIR, table)
    out = fixture._source_files(fixtures[seed], table)
    assert len(out) == fixture.PARTS.get(table, 1)
    a, b = pq.read_table(src), pq.read_table(out)
    assert b.num_rows == a.num_rows
    assert b.schema.remove_metadata() == a.schema.remove_metadata()
    for f in out:
        assert _column_types([f]) == _column_types(src)
    key = [(c, "ascending") for c in a.column_names if not str(a.schema.field(c).type).startswith("list")]
    assert b.sort_by(key).equals(a.sort_by(key))


def test_fixture_order_depends_on_seed_only(fixtures, tmp_path):
    table = "orders"
    again = fixture.fixture_dir(DEFAULT_SF_DIR, 1, str(tmp_path), (table,))
    one = pq.read_table(fixture._source_files(fixtures[1], table))
    two = pq.read_table(fixture._source_files(fixtures[2], table))
    assert pq.read_table(fixture._source_files(again, table)).equals(one)
    assert not one.equals(two)


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6), (6, 6)]) == pytest.approx(4.0)
    assert union_length([]) == 0.0


def test_self_time_subtracts_covered_part_once():
    parent = Span(0, "build", 10.0, 20.0, None, "r")
    kids = [
        Span(1, "job", 11.0, 14.0, 0, "r"),
        Span(2, "job", 13.0, 15.0, 0, "r"),
        Span(3, "job", 19.0, 25.0, 0, "r"),
    ]
    assert self_time(parent, kids) == pytest.approx(10.0 - 4.0 - 1.0)


def test_metric_total_reads_sizes_and_counts():
    text = "total (min, med, max (stageId: taskId))\n2.5 MiB (1.0 KiB, 2.0 KiB, 3.0 KiB (stage 3.0: task 12))"
    assert _metric_total(text) == pytest.approx(2.5 * 1024 * 1024)
    assert _metric_total("1,234") == 1234.0


def test_compare_verdicts():
    from compare import verdict

    parent = [10.0, 10.1, 9.9, 10.0, 10.2, 9.8, 10.1, 10.0, 9.9, 10.0]
    assert verdict(parent, [x * 0.8 for x in parent], 0.1, True)[0] == "gain"
    assert verdict(parent, [x * 1.2 for x in parent], 0.1, True)[0] == "regression"
    assert verdict(parent, [x * 1.01 for x in parent], 0.1, True)[0] == "within bound"
    noisy = [5.0, 15.0, 7.0, 13.0, 10.0, 6.0, 14.0, 9.0, 11.0, 8.0]
    assert verdict(parent, noisy, 0.1, True)[0] == "unresolved"
