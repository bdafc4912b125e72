"""End-to-end ETL orchestration — the reference's `__main__` flow
(/root/reference/main.py:169-176) as one composable function:

    discover → fetch → parse sheets → compile (union) → two-tier load

Network and Excel decoding are injected (see sources.discovery), so the
pipeline is fully testable offline with raw-row sheets. The two ingest
entry points parse with the one pure-Python core,
``sheet_ingest.iter_tidy_records``, under one column contract: here
``compile_sheets`` runs it on the driver and loads the tidy rows as one
Arrow table in one partition, so the load's scans run JVM-side without
Python workers; ``compile_sheets_distributed`` runs it on executors
through mapInArrow. The two-tier load is two Spark jobs, one write per
table: the staging write counts which dims hold a value, and the clean
write groups by those, with no shuffle over the one-partition frame.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession

from healthcare_aihw_etl_pipeline_spark.sources import discovery
from healthcare_aihw_etl_pipeline_spark.sources.sheet_ingest import (
    compile_sheets,
    load_two_tier,
)


def year_from_url(url: str) -> int:
    """X5 — fiscal-year suffix from the workbook URL
    (/root/reference/main.py:141-142)."""
    import re

    m = re.search(r"(\d{4})-(\d{2})", url)
    return int(m.group(2)) + 2000 if m else 9999


def run_etl(
    spark: SparkSession,
    out_path: str,
    *,
    fetch_html: Callable[[str], str] | None = None,
    fetch_bytes: Callable[[str], bytes] | None = None,
    sheets_override: Sequence[tuple[Sequence[Sequence[object]], int]] | None = None,
) -> tuple[DataFrame, str, str]:
    """Run the full ETL; returns (tidy_df, staging_path, clean_path).

    `sheets_override` short-circuits discovery/fetch/decode with raw-row
    sheets — the offline path used by tests and the fixture demo. The
    online path needs `fetch_bytes` (and openpyxl) injected explicitly;
    the engine never performs implicit network I/O.
    """
    if sheets_override is not None:
        sheets = list(sheets_override)
    else:
        if fetch_bytes is None:
            raise ValueError(
                "online ETL needs fetch_bytes= (e.g. sources.transport."
                "default_transports(allow_network=True)); or pass "
                "sheets_override="
            )
        sheets = []
        for url in discovery.discover_excels(fetch_html):
            year = year_from_url(url)
            for _name, rows in discovery.excel_to_sheets(fetch_bytes(url)):
                sheets.append((rows, year))

    tidy = compile_sheets(spark, sheets)
    staging, clean = load_two_tier(tidy, out_path)
    return tidy, staging, clean
