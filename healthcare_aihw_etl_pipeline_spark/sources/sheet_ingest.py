"""Header-sniffing, dynamic-schema wide-sheet ingestion (SURVEY §1.4) —
the reference's `parse_sheet` pipeline (/root/reference/main.py:48-131)
as one pure-Python parse core plus Spark-side loading.

Split of responsibilities:
- *Schema inference* (header-row detection, column-role classification,
  positional renames, validity predicate) reads the first ≤40 rows of
  each sheet — metadata-sized work, pure Python, unit-testable.
- *Parsing* (F1 null-drop, X2 clean-text, X3 numeric coercion, R1
  unpivot, F2 null-measure drop, P6 year stamp) is one generator,
  :func:`iter_tidy_records`, shared by the two entry points. Both take
  their output columns from :func:`_tidy_schema` and build Arrow tables
  with :func:`_tidy_records`: :func:`compile_sheets` runs it on the
  driver and hands Spark one Arrow table (the tidy frame then scans
  JVM-side, with no Python worker); :func:`compile_sheets_distributed`
  runs it on executors through mapInArrow, one table per batch of
  sheets.
- *Loading* (:func:`load_two_tier`) is one Spark job per table: the
  staging write also counts each dim's non-null values, and the clean
  table fill-then-groups by the dims counted non-null. Over
  :func:`compile_sheets`' one-partition frame neither job shuffles, and
  each table gets one file per year.

Pandas-quirk parity (deliberately reproduced, per SURVEY §7.3 hard part 1):
- empty header cells are named ``Unnamed: N`` before slugging (pandas
  read_excel behavior);
- duplicate columns keep the first occurrence (/root/reference/main.py:79);
- `_clean_text` stringifies missing id-cells to the literal ``"nan"``
  (pandas ``astype(str)`` on NaN, /root/reference/main.py:60-68) — nulls
  introduced *later* by the heterogeneous union stay NULL and are filled
  to ``""`` before grouping (/root/reference/main.py:161-162).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from collections.abc import Iterable, Mapping, Sequence

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from healthcare_aihw_etl_pipeline_spark.functions.scalar import STATE_CODES, slug
from healthcare_aihw_etl_pipeline_spark.sources import sinks

# Fixed output columns of the tidy fact table (the reference's README.md:93-105)
# and their Arrow types.
FIXED = {"state": pa.string(), "separations": pa.float64(), "year": pa.int32()}

HEADER_SCAN_ROWS = 40  # /root/reference/main.py:50


def norm_state_py(cell: object) -> str | None:
    """Driver-side twin of functions.scalar.norm_state
    (/root/reference/main.py:42-45)."""
    s = re.sub(r"[^A-Z]", "", str(cell).upper())
    return s if s in STATE_CODES else None


def header_row(rows: Sequence[Sequence[object]]) -> int | None:
    """F8 — first of the top 40 rows containing ≥2 recognizable state codes
    (/root/reference/main.py:48-53)."""
    for i, row in enumerate(rows[:HEADER_SCAN_ROWS]):
        if sum(1 for v in row if v is not None and norm_state_py(v)) >= 2:
            return i
    return None


@dataclass
class SheetSchema:
    """Inferred roles for one sheet's columns."""

    header_idx: int
    id_cols: list[str] = field(default_factory=list)
    state_cols: list[str] = field(default_factory=list)
    # positional mapping raw-column-index -> output name (None = dropped)
    colmap: list[str | None] = field(default_factory=list)

    @property
    def valid(self) -> bool:
        """F9 — ≥2 state columns and ≥1 id column
        (/root/reference/main.py:115-116)."""
        return len(self.state_cols) >= 2 and len(self.id_cols) >= 1


def infer_schema(rows: Sequence[Sequence[object]]) -> SheetSchema | None:
    """Column-role inference (/root/reference/main.py:78-116).

    Header cells that normalize to a state code become value columns;
    everything else becomes a slugged id column, with positional renaming
    of unnamed columns (first → ``category``, next → ``principal_diagnosis``
    then ``dimension_N``) and the helper column ``total`` dropped.
    """
    hdr = header_row(rows)
    if hdr is None:
        return None
    header = list(rows[hdr])

    # pandas-style naming of empty header cells: "Unnamed: N".
    raw_names = [
        f"Unnamed: {i}" if (c is None or str(c).strip() == "") else str(c)
        for i, c in enumerate(header)
    ]

    schema = SheetSchema(header_idx=hdr)
    seen: set[str] = set()
    names: list[str | None] = []
    for name in raw_names:
        st = norm_state_py(name)
        out: str | None
        if st:
            out = st
        else:
            out = slug(name)
        if out in seen:  # P1: duplicate columns keep first occurrence
            names.append(None)
            continue
        seen.add(out)
        names.append(out)
        if st:
            schema.state_cols.append(st)
        else:
            schema.id_cols.append(out)

    # P3: positional semantic renames of unnamed id columns.
    renames: dict[str, str] = {}
    if schema.id_cols and schema.id_cols[0].startswith("unnamed"):
        renames[schema.id_cols[0]] = "category"
        schema.id_cols[0] = "category"
    for idx in range(1, len(schema.id_cols)):
        col = schema.id_cols[idx]
        if col.startswith("unnamed"):
            new = (
                "principal_diagnosis"
                if "principal_diagnosis" not in schema.id_cols
                else f"dimension_{idx}"
            )
            renames[col] = new
            schema.id_cols[idx] = new
    names = [renames.get(n, n) if n else None for n in names]

    # P4: drop the helper column "total" (/root/reference/main.py:111-113).
    if "total" in schema.id_cols:
        schema.id_cols.remove("total")
        names = [None if n == "total" else n for n in names]

    schema.colmap = names
    return schema if schema.valid else None


def parse_sheet(
    spark: SparkSession,
    rows: Sequence[Sequence[object]],
    year: int,
) -> DataFrame | None:
    """Parse one wide sheet into the tidy long form
    (/root/reference/main.py:72-131): returns columns
    ``*id_cols, state, separations, year`` or None for invalid sheets."""
    schema = _tidy_schema([(rows, year)])
    if schema is None:
        return None
    return spark.createDataFrame(_tidy_records([(rows, year)], schema))


def compile_sheets(
    spark: SparkSession,
    sheets: Sequence[tuple[Sequence[Sequence[object]], int]],
) -> DataFrame:
    """U1 — parse every (rows, year) sheet and union by name, NULL-filling
    missing columns (`pd.concat` in the reference's main.py).

    Every sheet parses on the driver through :func:`iter_tidy_records`
    into one Arrow table, loaded with a single ``createDataFrame`` as one
    partition: the frame reports SinglePartition, so a grouping over it
    plans no Exchange and each write of it is one task."""
    schema = _valid_schema(sheets)
    return spark.createDataFrame(_tidy_records(sheets, schema)).coalesce(1)


def compile_sheets_distributed(
    spark: SparkSession,
    sheets: Sequence[tuple[Sequence[Sequence[object]], int]],
    *,
    partitions: int | None = None,
) -> DataFrame:
    """Distributed twin of :func:`compile_sheets`: the same columns and
    rows, but every sheet parses on an executor. The columns are decided
    on the driver from the sheets' headers, and each mapInArrow task
    builds its records under that one schema; a task whose sheets yield
    no row, or that gets no sheet, emits nothing."""
    schema = _valid_schema(sheets)
    sdf = sheets_to_distributed(spark, sheets)
    if partitions:
        sdf = sdf.repartition(partitions, "sheet_id")

    def parse(batches):
        for batch in batches:
            rows, years = (batch.column(c).to_pylist() for c in ("rows", "year"))
            yield from _tidy_records(zip(rows, years), schema).to_batches()

    return sdf.mapInArrow(parse, schema=from_arrow_schema(schema))


def _valid_schema(
    sheets: Sequence[tuple[Sequence[Sequence[object]], int]],
) -> pa.Schema:
    schema = _tidy_schema(sheets)
    if schema is None:
        raise RuntimeError("No valid data extracted - parsing rules may need an update.")
    return schema


def _tidy_schema(
    sheets: Sequence[tuple[Sequence[Sequence[object]], int]],
) -> pa.Schema | None:
    """The tidy columns of these sheets (None if no sheet is valid), as
    ``unionByName`` over per-sheet frames ``*id_cols, state, separations,
    year`` gives them. Columns come from each valid sheet's header, so an
    all-junk sheet still adds its dims; a ``Year`` id column is the year
    column, kept at its place."""
    cols: dict[str, None] = {}
    for rows, _ in sheets:
        schema = infer_schema(rows)
        if schema is not None:
            cols.update(dict.fromkeys([*schema.id_cols, "state", "separations", "year"]))
    if not cols:
        return None
    return pa.schema(
        pa.field(c, FIXED.get(c, pa.string()), c not in ("state", "year")) for c in cols
    )


def _tidy_records(
    sheets: Iterable[tuple[Sequence[Sequence[object]], int]],
    schema: pa.Schema,
) -> pa.Table:
    """Every sheet's tidy rows as one Arrow table under ``schema`` (a
    :func:`_tidy_schema` covering these sheets): dims a sheet lacks are
    NULL, and a ``Year`` id column holds the sheet's year."""
    records = [
        dict(zip(keys, vals), state=st, separations=v, year=yr)
        for rows, year in sheets
        for yr, st, v, keys, vals in iter_tidy_records(year, rows)
    ]
    return pa.Table.from_pylist(records, schema=schema)


# The reference's three `_clean_text` regexes, with Python's Unicode-aware
# \s and `$`; functions.scalar.clean_text spells the same semantics in
# Java regex syntax.
_RE_LEAD = re.compile(r'^\("?\s*')
_RE_TRAIL = re.compile(r'"?\)$')
_RE_NUM_TAIL = re.compile(r",\s*[-+]?[0-9]*\.?[0-9]+$")

# Catalyst's string → double cast is java.lang.Double.parseDouble after
# Java's String.trim() (which strips every char ≤ U+0020): ASCII digits
# only, no `_` separators, an optional f/F/d/D suffix, hex floats with a
# binary exponent. What parseDouble rejects falls back to the special
# literals below, matched case-insensitively.
_JAVA_TRIM = "".join(map(chr, range(0x21)))
_JAVA_DOUBLE = re.compile(
    r"[+-]?(?:NaN|Infinity"
    r"|(?:[0-9]+\.?[0-9]*|\.[0-9]+)(?:[eE][+-]?[0-9]+)?[fFdD]?"
    r"|0[xX](?:[0-9a-fA-F]+\.?[0-9a-fA-F]*|\.[0-9a-fA-F]+)[pP][+-]?[0-9]+[fFdD]?)"
)
_SPECIAL_DOUBLES = {
    **dict.fromkeys(["inf", "+inf", "infinity", "+infinity"], float("inf")),
    **dict.fromkeys(["-inf", "-infinity"], float("-inf")),
    "nan": float("nan"),
}


def clean_text_py(s: object) -> str:
    """Pure-Python twin of functions.scalar.clean_text; equality with the
    Catalyst chain is property-tested (tests/test_properties.py)."""
    t = str(s)
    t = _RE_LEAD.sub("", t)
    t = _RE_TRAIL.sub("", t)
    t = _RE_NUM_TAIL.sub("", t)
    return t.strip().strip('"')


def _try_double_py(s: object) -> float | None:
    """Twin of functions.scalar.try_double (trim → try_cast double):
    returns exactly what the Catalyst cast returns, junk → None."""
    if s is None:
        return None
    t = str(s).strip(_JAVA_TRIM)
    if not _JAVA_DOUBLE.fullmatch(t):
        return _SPECIAL_DOUBLES.get(t.lower())
    t = t.rstrip("fFdD")
    return float.fromhex(t) if "x" in t.lower() else float(t)


def sheets_to_distributed(
    spark: SparkSession,
    sheets: Sequence[tuple[Sequence[Sequence[object]], int]],
) -> DataFrame:
    """Lift (rows, year) sheets into a distributed (sheet_id, year, rows)
    DataFrame — the landing-zone shape. Cells are stringified exactly as
    the parse core does (None stays NULL)."""
    cells = [
        [[None if c is None else str(c) for c in row] for row in rows]
        for rows, _ in sheets
    ]
    table = pa.table(
        {
            "sheet_id": pa.array(range(len(sheets)), pa.int64()),
            "year": pa.array([int(year) for _, year in sheets], pa.int32()),
            "rows": pa.array(cells, pa.list_(pa.list_(pa.string()))),
        }
    )
    return spark.createDataFrame(table)


def iter_tidy_records(year, rows):
    """Pure-Python per-sheet parse: yield tidy long records
    ``(year, state, separations, dim_keys, dim_vals)`` from one raw
    sheet. The one parse core behind compile_sheets (driver) and
    compile_sheets_distributed (executors); invalid sheets yield
    nothing."""
    rows = [list(r) for r in rows]
    schema = infer_schema(rows)
    if schema is None:
        return
    kept = [(i, n) for i, n in enumerate(schema.colmap) if n is not None]
    first_id = schema.id_cols[0]
    for r in rows[schema.header_idx + 1 :]:
        cells = {n: (r[i] if i < len(r) else None) for i, n in kept}
        if cells.get(first_id) is None:  # F1
            continue
        vals = [
            "nan" if cells.get(c) is None else clean_text_py(cells[c])
            for c in schema.id_cols
        ]  # X2 (+ pandas astype(str) NaN → "nan" parity)
        for st in schema.state_cols:
            v = _try_double_py(cells.get(st))  # X3
            if v is None:  # F2
                continue
            yield int(year), st, v, list(schema.id_cols), vals


def clean_aggregate(tidy: DataFrame) -> DataFrame:
    """A1 — the staging→clean contract (/root/reference/main.py:160-164):
    dims are all columns except {year, state, separations} that contain at
    least one non-null value; NULL dims are filled to "" *before* grouping
    (pandas drops NaN group keys — the fill is load-bearing for parity).

    One metadata-sized aggregate counts each candidate dim's non-null
    values; :func:`load_two_tier` takes the same counts from its staging
    write instead.
    """
    metrics = _nonnull_counts(tidy)
    counts = (
        tidy.agg(*[m.alias(c) for c, m in metrics.items()]).first().asDict()
        if metrics
        else {}
    )
    return _fill_and_group(tidy, counts)


def _nonnull_counts(tidy: DataFrame) -> dict[str, Column]:
    """One non-null count per candidate dim: every column but FIXED's."""
    return {c: F.count(F.col(c)) for c in tidy.columns if c not in FIXED}


def _fill_and_group(tidy: DataFrame, counts: Mapping[str, int]) -> DataFrame:
    """Group by year, state and every dim counted non-null at least once,
    with NULL dims filled to "" first."""
    dims = [c for c in tidy.columns if counts.get(c, 0) > 0]
    filled = tidy.na.fill("", subset=dims) if dims else tidy
    return filled.groupBy("year", "state", *dims).agg(
        F.sum("separations").alias("separations")
    )


def load_two_tier(tidy: DataFrame, base_path: str) -> tuple[str, str]:
    """S7/C3 — two-tier materialization: full-replace staging (raw tidy)
    and clean (pre-aggregated) tables (/root/reference/main.py:155-165),
    as parquet instead of JDBC. Partitioned by year: every dashboard
    filter includes year (/root/reference/streamlit_app.py:57-63), so
    partition pruning serves the interactive path at scale.

    The staging write observes each candidate dim's non-null count, and
    the clean table groups by the dims counted > 0, so the load runs one
    job per table. Over :func:`compile_sheets`' one-partition frame
    neither job shuffles."""
    staging = f"{base_path}/staging_admissions"
    clean = f"{base_path}/clean_admissions"
    counts = sinks.write_table_observed(
        tidy, staging, _nonnull_counts(tidy), partition_by=["year"]
    )
    sinks.write_table(_fill_and_group(tidy, counts), clean, partition_by=["year"])
    return staging, clean
