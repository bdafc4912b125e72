"""aihw_sheets Python DataSource: registration, partition planning,
executor-side parse, and row-for-row parity with the driver-side
compile_sheets path on the reference-shaped fixtures."""

from __future__ import annotations

import pytest

from healthcare_aihw_etl_pipeline_spark.sources import fixtures
from healthcare_aihw_etl_pipeline_spark.sources.sheet_datasource import (
    SheetWorkbookDataSource,
    SheetWorkbookReader,
    write_workbook_json,
)
from healthcare_aihw_etl_pipeline_spark.sources.sheet_ingest import (
    compile_sheets,
    widen_dims,
)


@pytest.fixture(scope="module")
def zone(tmp_path_factory) -> str:
    """A landing zone of one workbook file per fixture sheet, each with a
    wanted name plus one decoy sheet that the S5 filter must drop."""
    d = tmp_path_factory.mktemp("zone")
    # A fully PARSEABLE sheet under a non-wanted name: only the S5 name
    # filter (not schema inference) can be what drops it.
    decoy = ("Contents", fixtures.SHEET2[0])
    for i, (rows, year) in enumerate(fixtures.SHEETS):
        write_workbook_json(
            str(d / f"wb{i}.json"), year, [(f"Table {4 + i}", rows), decoy]
        )
    return str(d)


def test_partition_per_workbook(zone):
    reader = SheetWorkbookReader({"path": zone})
    parts = reader.partitions()
    assert len(parts) == len(fixtures.SHEETS)
    assert [p.path.endswith(f"wb{i}.json") for i, p in enumerate(parts)] == [
        True
    ] * len(parts)


def test_datasource_matches_driver_compile(spark, zone):
    spark.dataSource.register(SheetWorkbookDataSource)
    tidy = spark.read.format("aihw_sheets").load(zone)
    assert tidy.rdd.getNumPartitions() == len(fixtures.SHEETS)
    got = widen_dims(tidy)
    want = compile_sheets(spark, fixtures.SHEETS)
    assert sorted(got.columns) == sorted(want.columns)
    cols = sorted(got.columns)
    g = {tuple(r) for r in got.select(*cols).collect()}
    w = {tuple(r) for r in want.select(*cols).collect()}
    assert g == w


def test_sheet_filter_drops_decoy(spark, zone):
    spark.dataSource.register(SheetWorkbookDataSource)
    # The decoy sheet would parse (it has state-named columns); with the
    # S5 filter off its rows appear, with the default filter they don't.
    n_filtered = spark.read.format("aihw_sheets").load(zone).count()
    n_all = (
        spark.read.format("aihw_sheets")
        .option("filter_sheets", "false")
        .load(zone)
        .count()
    )
    assert n_all > n_filtered


def test_missing_path_raises():
    with pytest.raises(ValueError, match="path"):
        SheetWorkbookReader({})
