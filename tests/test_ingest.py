"""Ingest-layer tests: header inference (metadata path), parse semantics,
heterogeneous union, and the staging≡clean materialization invariant
(SURVEY §3.3)."""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
from pathlib import Path

import pytest

from healthcare_aihw_etl_pipeline_spark.sources import fixtures
from healthcare_aihw_etl_pipeline_spark.sources.sheet_ingest import (
    clean_aggregate,
    compile_sheets,
    header_row,
    infer_schema,
    load_two_tier,
    norm_state_py,
    parse_sheet,
)


def test_norm_state_py():
    assert norm_state_py("nsw") == "NSW"
    assert norm_state_py(" N.S.W. ") == "NSW"
    assert norm_state_py("Vic") == "VIC"
    assert norm_state_py("Total") is None
    assert norm_state_py(None) is None
    assert norm_state_py(123) is None


def test_header_row_detection():
    rows, _ = fixtures.SHEET1
    assert header_row(rows) == 2
    rows2, _ = fixtures.SHEET2
    assert header_row(rows2) == 1
    bad, _ = fixtures.SHEET3_INVALID
    assert header_row(bad) is None
    # bound: a state row beyond 40 rows is not found
    deep = [["x"]] * 41 + [["NSW", "VIC"]]
    assert header_row(deep) is None


def test_infer_schema_roles():
    schema = infer_schema(fixtures.SHEET1[0])
    assert schema is not None
    assert schema.id_cols == ["category", "principal_diagnosis", "care_type"]
    assert schema.state_cols == ["NSW", "VIC", "QLD", "SA", "WA", "TAS", "NT", "ACT", "AUST"]
    assert "total" not in schema.colmap  # helper column dropped

    schema2 = infer_schema(fixtures.SHEET2[0])
    assert schema2.id_cols == ["category", "hospital_type"]

    assert infer_schema(fixtures.SHEET3_INVALID[0]) is None


def test_infer_schema_duplicate_columns_keep_first():
    rows = [["", "NSW", "nsw ", "VIC", "Care type", "care type"], ["a", "1", "2", "3", "b", "c"]]
    schema = infer_schema(rows)
    assert schema.state_cols == ["NSW", "VIC"]
    # duplicate normalized names are dropped positionally
    assert schema.colmap == ["category", "NSW", None, "VIC", "care_type", None]


def test_parse_sheet_semantics(spark):
    tidy = parse_sheet(spark, *fixtures.SHEET1)
    rows: dict[tuple, float] = {}
    for r in tidy.collect():
        key = (r.category, r.principal_diagnosis, r.state)
        rows[key] = rows.get(key, 0.0) + r.separations
    # dirty tuple artifacts cleaned: both Injury spellings merge to one key
    assert rows[("Injury", "S00-T98", "NSW")] == 12.0  # 10 + 2
    assert rows[("Injury", "S00-T98", "QLD")] == 4.0  # 'n.p.' dropped, 4 kept
    assert rows[("Cancer", "C00-D48", "TAS")] == 0.5
    # pandas parity: within-sheet missing id cell → literal "nan"
    assert rows[("Mental health", "nan", "NSW")] == 5.0
    # null first-id row dropped entirely
    assert not any(k[1] == "X40" for k in rows)
    # year stamped
    assert tidy.select("year").distinct().collect()[0][0] == 2022


def test_parse_sheet_invalid_returns_none(spark):
    assert parse_sheet(spark, *fixtures.SHEET3_INVALID) is None


def test_compile_heterogeneous_union(spark):
    tidy = compile_sheets(spark, fixtures.SHEETS)
    cols = set(tidy.columns)
    assert {"category", "principal_diagnosis", "care_type", "hospital_type",
            "state", "separations", "year"} == cols
    # sheet2 rows have NULL principal_diagnosis (union fill), not "nan"
    s2 = tidy.where("year = 2023")
    assert s2.where("principal_diagnosis IS NULL").count() == s2.count()
    # sheet1 rows have NULL hospital_type
    s1 = tidy.where("year = 2022")
    assert s1.where("hospital_type IS NULL").count() == s1.count()


def test_compile_no_valid_sheets_raises(spark):
    with pytest.raises(RuntimeError):
        compile_sheets(spark, [fixtures.SHEET3_INVALID])


def test_staging_clean_invariant(spark, tmp_path):
    """SURVEY §3.3: clean computed at load time must equal on-the-fly
    aggregation of staging read back from storage (both fill-then-group).
    The load groups clean by the dims its staging write saw non-null, so
    an all-NULL dim (a valid sheet whose measures are all junk) stays in
    staging and leaves clean. Frames: the fixture sheets, a junk sheet
    last and first, no rows (from a compile, and from an RDD of zero
    partitions), no candidate dim, and the distributed compile over 4
    partitions. A frame with no rows writes no parquet file."""
    from healthcare_aihw_etl_pipeline_spark.sources.sheet_ingest import (
        compile_sheets_distributed,
    )

    year_only = ([["Year", "NSW", "VIC"], ["2019", "3", "4"]], 2024)
    junk = compile_sheets(spark, [JUNK])
    frames = [
        compile_sheets(spark, fixtures.SHEETS),
        compile_sheets(spark, [fixtures.SHEET2, JUNK]),
        compile_sheets(spark, [JUNK, fixtures.SHEET2]),
        junk,
        spark.createDataFrame(spark.sparkContext.emptyRDD(), junk.schema),
        compile_sheets(spark, [year_only]),
        compile_sheets_distributed(spark, fixtures.SHEETS, partitions=4),
    ]
    for i, tidy in enumerate(frames):
        staging_path, clean_path = load_two_tier(tidy, str(tmp_path / str(i)))
        if not list(Path(staging_path).rglob("*.parquet")):
            assert tidy.isEmpty(), i
            assert not list(Path(clean_path).rglob("*.parquet")), i
            continue
        clean_loaded = spark.read.parquet(clean_path)
        recomputed = clean_aggregate(spark.read.parquet(staging_path))
        cols = sorted(clean_loaded.columns)
        assert cols == sorted(recomputed.columns), i
        assert _sorted_rows(clean_loaded.select(*cols)) == _sorted_rows(
            recomputed.select(*cols)
        ), i


def test_clean_aggregate_drops_all_null_dims(spark):
    from pyspark.sql import functions as F

    tidy = compile_sheets(spark, fixtures.SHEETS).withColumn(
        "ghost_dim", F.lit(None).cast("string")
    )
    clean = clean_aggregate(tidy)
    # an all-null dim is excluded from grouping (main.py:160 notna().any())
    assert "ghost_dim" not in clean.columns


def test_distributed_compile_matches_driver_compile(spark):
    """SURVEY §4.2 extension #2: the mapInArrow path must produce exactly
    the driver-side compile's frame (fields by name, type, nullability and
    order, and the multiset of rows) on the fixture corpus — every quirk
    (junk preamble, unnamed headers, total drop, tuple artifacts,
    coerce-casts, ragged rows, invalid sheet, heterogeneous dims)
    included, plus a sheet whose `Year` id column the sheet's year
    overwrites, and valid sheets with only junk measures, first, last or
    alone. More partitions than sheets leaves partitions empty."""
    from healthcare_aihw_etl_pipeline_spark.sources.sheet_ingest import (
        compile_sheets_distributed,
    )

    zones = (
        fixtures.SHEETS,
        [YEAR_ID, fixtures.SHEET2],
        [JUNK, fixtures.SHEET2],
        [fixtures.SHEET2, JUNK],
        [JUNK],
    )
    for zone, partitions in [(z, 4) for z in zones] + [(fixtures.SHEETS, 16)]:
        driver = compile_sheets(spark, zone)
        dist = compile_sheets_distributed(spark, zone, partitions=partitions)
        assert _fields(dist) == _fields(driver)
        assert _sorted_rows(dist) == _sorted_rows(driver)


def test_distributed_compile_no_valid_sheets_raises(spark):
    from healthcare_aihw_etl_pipeline_spark.sources.sheet_ingest import (
        compile_sheets_distributed,
    )

    with pytest.raises(RuntimeError):
        compile_sheets_distributed(spark, [fixtures.SHEET3_INVALID])


def test_distributed_compile_from_outside_the_checkout(tmp_path):
    """Python workers start in the JVM's working directory; they must still
    import the package when the process runs elsewhere with no PYTHONPATH
    (only the driver's sys.path names the checkout)."""
    root = Path(__file__).resolve().parent.parent
    script = tmp_path / "compile_elsewhere.py"
    script.write_text(
        "import sys\n"
        f"sys.path.insert(0, {str(root)!r})\n"
        "from healthcare_aihw_etl_pipeline_spark.session import get_spark\n"
        "from healthcare_aihw_etl_pipeline_spark.sources import fixtures\n"
        "from healthcare_aihw_etl_pipeline_spark.sources.sheet_ingest import compile_sheets_distributed\n"
        "spark = get_spark(app_name='elsewhere', shuffle_partitions=2)\n"
        "print('rows', compile_sheets_distributed(spark, fixtures.SHEETS, partitions=2).count())\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    env["SPARK_DRIVER_MEMORY"] = "1g"
    done = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert done.returncode == 0, done.stderr[-2000:]
    assert int(done.stdout.split("rows")[-1]) > 0


# --- Pinned compile_sheets / run_etl output -------------------------------
# Measured on the per-sheet Catalyst + unionByName implementation; any
# rewrite of the parse path must reproduce it exactly: column order (the
# first valid sheet's dims, then state/separations/year, then dims first
# seen in later sheets), types, nullability and every row.

# A valid sheet whose measure cells are all junk: it contributes its dims
# (here `sex`) as columns but no rows.
JUNK = (
    [
        ["Junk table", None],
        ["", "Sex", "NSW", "VIC"],
        ["Injury", "Male", "n.p.", "—"],
        ["Cancer", "Female", "—", "n.p."],
    ],
    2024,
)

# An id column named like a fixed column: the sheet's year overwrites it in
# place (the reference's `df['year'] = year`), leaving one int `year`.
YEAR_ID = (
    [
        ["Separations by year", None],
        ["Year", "Sex", "NSW", "VIC"],
        ["2019", "Male", "3", "n.p."],
        ["2020", "Female", "4", "5"],
    ],
    2024,
)
_YEAR_ID_FIELDS = [
    ("year", "int", False),
    ("sex", "string", True),
    ("state", "string", False),
    ("separations", "double", True),
]

_S2_ROWS = [
    ("Cancer", "Private", "QLD", 1.0, 2023),
    ("Cancer", "Private", "VIC", 2.0, 2023),
    ("Injury", "Public", "NSW", 3.0, 2023),
    ("Injury", "Public", "QLD", 5.0, 2023),
    ("Injury", "Public", "VIC", 4.0, 2023),
    ("Mental health", "Public", "NSW", 6.0, 2023),
    ("Mental health", "Public", "QLD", 2.0, 2023),
]


def _fields(df):
    return [(f.name, f.dataType.simpleString(), f.nullable) for f in df.schema.fields]


def _sorted_rows(df) -> list[str]:
    return sorted(repr(tuple(r)) for r in df.collect())


def _digest(rows: list[str]) -> str:
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


_S1_DIMS = [
    ("category", "string", True),
    ("principal_diagnosis", "string", True),
    ("care_type", "string", True),
]
_FIXED = [("state", "string", False), ("separations", "double", True), ("year", "int", False)]


@pytest.mark.parametrize(
    "zone, fields, n_rows, digest",
    [
        (
            fixtures.SHEETS,
            _S1_DIMS + _FIXED + [("hospital_type", "string", True)],
            38,
            "37d6349b2f69869b220916889646fb39e1a429ad1e71ea332f8691b761e6f4d5",
        ),
        (
            [fixtures.SHEET2, fixtures.SHEET1],
            [("category", "string", True), ("hospital_type", "string", True)]
            + _FIXED
            + _S1_DIMS[1:],
            38,
            "0275f5f2c945a9d95e0f2004159529861c1a384067a1c7a7d62d647190db0b5e",
        ),
        (
            [YEAR_ID],
            _YEAR_ID_FIELDS,
            3,
            "caefbe0cb9fca7beaccb4041657c4581cf56635dce0e93b91daba200b175c9da",
        ),
        (
            [YEAR_ID, fixtures.SHEET2],
            _YEAR_ID_FIELDS + [("category", "string", True), ("hospital_type", "string", True)],
            10,
            "392c0e3897598435f72a031602e6b8640ec599f9f58bcbd0455ae259b734f33a",
        ),
        (
            [fixtures.SHEET2, YEAR_ID],
            [("category", "string", True), ("hospital_type", "string", True)]
            + _FIXED
            + [("sex", "string", True)],
            10,
            "ee7b9cbf22f052de03b8f06fe4d75cdbaca8e028575aca0021ba7fca1995f144",
        ),
    ],
    ids=["fixture_sheets", "later_sheet_adds_dims", "year_id", "year_id_first", "year_id_later"],
)
def test_compile_sheets_pinned(spark, zone, fields, n_rows, digest):
    tidy = compile_sheets(spark, zone)
    assert _fields(tidy) == fields
    rows = _sorted_rows(tidy)
    assert len(rows) == n_rows
    assert _digest(rows) == digest


def test_compile_sheets_pinned_junk_zones(spark):
    cat = ("category", "string", True)
    sex = ("sex", "string", True)
    hosp = ("hospital_type", "string", True)

    tidy = compile_sheets(spark, [JUNK, fixtures.SHEET2])
    assert _fields(tidy) == [cat, sex, *_FIXED, hosp]
    assert _sorted_rows(tidy) == sorted(
        repr((c, None, s, v, y, h)) for c, h, s, v, y in _S2_ROWS
    )

    tidy = compile_sheets(spark, [fixtures.SHEET2, JUNK])
    assert _fields(tidy) == [cat, hosp, *_FIXED, sex]
    assert _sorted_rows(tidy) == sorted(
        repr((c, h, s, v, y, None)) for c, h, s, v, y in _S2_ROWS
    )

    # Every valid sheet junk: an empty frame with the sheet's columns.
    tidy = compile_sheets(spark, [JUNK])
    assert _fields(tidy) == [cat, sex, *_FIXED]
    assert tidy.collect() == []


def test_run_etl_tables_pinned(spark, tmp_path):
    from healthcare_aihw_etl_pipeline_spark.pipeline import run_etl

    _tidy, staging, clean = run_etl(spark, str(tmp_path), sheets_override=fixtures.SHEETS)
    hosp = ("hospital_type", "string", True)
    year = ("year", "int", True)  # partition column, read back last

    st = spark.read.parquet(staging)
    assert _fields(st) == [
        *_S1_DIMS, ("state", "string", True), ("separations", "double", True), hosp, year
    ]
    rows = _sorted_rows(st)
    assert len(rows) == 38
    assert _digest(rows) == "7bc0bbbc0d2fc8c3ead28d00935d43fb129e97b2daf1f7e16ca7ea1ac41516fa"

    cl = spark.read.parquet(clean)
    assert _fields(cl) == [
        ("state", "string", True), *_S1_DIMS, hosp, ("separations", "double", True), year
    ]
    rows = _sorted_rows(cl)
    assert len(rows) == 32
    assert _digest(rows) == "526eec4bb8cb93ceb73d01d6db019ec01a009f24bdb51456b5bfe3dfdba604c2"

    # Write layout: one parquet file per year directory in both tables.
    for table in (staging, clean):
        files = {d.name: len(list(d.glob("*.parquet"))) for d in Path(table).glob("year=*")}
        assert files == {"year=2022": 1, "year=2023": 1}


def test_etl_job_and_lineage_counters(spark, tmp_path, jobs_run):
    """Deterministic counters instead of wall time: compile_sheets and
    sheets_to_distributed run no job and leave no Python worker in their
    frames' lineage (later scans run JVM-side), compile_sheets_distributed
    runs no job until its frame is used, and run_etl on the fixture
    sheets runs 2 jobs: the staging write, which also counts each dim's
    non-null values, and the clean write, with no shuffle between."""
    from healthcare_aihw_etl_pipeline_spark.pipeline import run_etl
    from healthcare_aihw_etl_pipeline_spark.sources.sheet_ingest import (
        compile_sheets_distributed,
        sheets_to_distributed,
    )

    def lineage(df) -> str:
        return df._jdf.queryExecution().toRdd().toDebugString()

    tidy, jobs = jobs_run(lambda: compile_sheets(spark, fixtures.SHEETS))
    assert jobs == 0
    assert "PythonRDD" not in lineage(tidy)
    lifted, jobs = jobs_run(lambda: sheets_to_distributed(spark, fixtures.SHEETS))
    assert jobs == 0
    assert "PythonRDD" not in lineage(lifted)
    _, jobs = jobs_run(lambda: compile_sheets_distributed(spark, fixtures.SHEETS))
    assert jobs == 0

    _, jobs = jobs_run(
        lambda: run_etl(spark, str(tmp_path), sheets_override=fixtures.SHEETS)
    )
    assert jobs <= 2
