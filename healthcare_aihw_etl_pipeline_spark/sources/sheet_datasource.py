"""``aihw_sheets`` — a Spark 4 Python DataSource for the workbook landing zone.

The S-series sources (SURVEY §2.1) read statistical workbooks —
discover → fetch → sheet-filter → parse (/root/reference/main.py:25-39,
139-151). ``compile_sheets_distributed`` already runs the parse on
executors, but it still requires the caller to lift the raw sheets into
a DataFrame first. This module closes the loop with the idiomatic
Spark-4 form: a custom `Python DataSource
<pyspark.sql.datasource>`_, so a landing zone of workbook files is read
declaratively::

    spark.dataSource.register(SheetWorkbookDataSource)
    tidy = spark.read.format("aihw_sheets").load("/landing/zone/dir")

Scale shape: ``partitions()`` is driver-side METADATA only (a directory
listing — one :class:`WorkbookPartition` per workbook file); every
workbook is opened, sheet-filtered and parsed on an EXECUTOR inside
``read()``, so a zone of thousands of files parallelizes across the
cluster exactly like a parquet scan. Dims are emitted as parallel
key/value arrays (the fixed-schema contract of the mapInPandas kernel —
dynamic per-sheet columns are widened afterwards with
``sheet_ingest.widen_dims``).

Workbook format: the landing files are the container-friendly JSON
serialization ``{"year": int, "sheets": [{"name": str, "rows":
[[cell|null, ...], ...]}]}`` — the same (rows, year) payload the driver
path uses. A real Excel zone plugs in by swapping the loader for
``discovery.excel_to_sheets`` (import-gated on openpyxl, absent here);
the Spark-side plumbing — registration, partition planning, executor
parse, schema — is identical and fully tested.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from healthcare_aihw_etl_pipeline_spark.sources.discovery import sheet_name_wanted
from healthcare_aihw_etl_pipeline_spark.sources.sheet_ingest import (
    RECORD_SCHEMA,
    iter_tidy_records,
)


class WorkbookPartition(InputPartition):
    """One landing-zone workbook file == one input partition."""

    def __init__(self, path: str):
        self.path = path


class SheetWorkbookReader(DataSourceReader):
    def __init__(self, options: dict):
        # `load(path)` surfaces as options["path"]: a workbook file or a
        # directory of *.json workbooks.
        self.path = options.get("path")
        if not self.path:
            raise ValueError("aihw_sheets requires a path: .load('/dir/or/file')")
        self.filter_sheets = options.get("filter_sheets", "true").lower() != "false"

    def partitions(self) -> Sequence[WorkbookPartition]:
        # Driver-side metadata pass: LIST files, never open them. Opening
        # happens executor-side in read() — the difference between a
        # directory listing and N workbook parses on the driver.
        if os.path.isdir(self.path):
            files = sorted(
                os.path.join(self.path, f)
                for f in os.listdir(self.path)
                if f.endswith(".json")
            )
        else:
            files = [self.path]
        if not files:
            raise ValueError(f"no workbook files under {self.path}")
        return [WorkbookPartition(p) for p in files]

    def read(self, partition: WorkbookPartition) -> Iterator[tuple]:
        # Executor-side: parse one workbook via the SAME pure-Python core
        # as compile_sheets and the mapInPandas kernel.
        with open(partition.path, encoding="utf-8") as fh:
            wb = json.load(fh)
        year = int(wb["year"])
        for sheet in wb.get("sheets", []):
            if self.filter_sheets and not sheet_name_wanted(sheet.get("name", "")):
                continue  # S5 — sheet-name filter
            yield from iter_tidy_records(year, sheet["rows"])


class SheetWorkbookDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "aihw_sheets"

    def schema(self) -> str:
        return RECORD_SCHEMA

    def reader(self, schema) -> SheetWorkbookReader:
        return SheetWorkbookReader(self.options)


def write_workbook_json(path: str, year: int, sheets: Sequence[tuple[str, Sequence[Sequence[object]]]]) -> None:
    """Serialize (name, rows) sheets into one landing-zone workbook file.

    Cells are stringified exactly like the driver path
    (sheet_ingest.sheets_to_distributed): None stays null, everything
    else str()."""
    payload = {
        "year": int(year),
        "sheets": [
            {
                "name": name,
                "rows": [
                    [None if c is None else str(c) for c in row] for row in rows
                ],
            }
            for name, rows in sheets
        ],
    }
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(payload, fh)
