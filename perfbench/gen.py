"""Seeded input generators for the three benchmark workloads.

The dashboard table, the selections and the landing zone are pure
functions of the seed: the same seed gives the same inputs. The corpus
is not seeded: it is built once per checkout by the repo's own
``scripts/make_sf1.py`` from the read-only sf0.1 test corpus that
script reads (``SFB_SRC`` overrides its location), and the seed only
shuffles the order of queries. The engine under test receives only what
these functions produce.

- ``corpus``: key-offset copies of sf0.1, built into the benchmark's
  work directory.
- ``write_tidy``: the dashboard's base table, tidy rows as the ETL's
  staging table lands them, written with pyarrow.
- ``selections``: the sidebar states of a dashboard session.
- ``landing_zone``: AIHW-shaped wide sheets as raw cell rows, the shape
  ``pipeline.run_etl(sheets_override=...)`` takes.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STATES = ["NSW", "VIC", "QLD", "SA", "WA", "TAS", "NT", "ACT"]
STATES_9 = STATES + ["AUST"]
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def corpus(root: str, work: str, copies: int) -> str:
    """The corpus of ``copies`` key-offset copies of sf0.1 under ``work``
    (``copies=10`` is sf1), built by ``scripts/make_sf1.py`` on first use.
    A half-built copy is never reused: the build goes to a temporary
    directory that is renamed into place when complete."""
    # make_sf1.py links its source beside the directory it writes, so
    # each scale gets a parent directory of its own.
    dst = os.path.join(work, f"sf{copies / 10:g}", "tables")
    if os.path.exists(os.path.join(dst, "_COMPLETE")):
        return dst
    tmp = f"{dst}.tmp{os.getpid()}"
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    shutil.rmtree(tmp, ignore_errors=True)
    subprocess.run(
        [sys.executable, os.path.join(root, "scripts", "make_sf1.py")],
        env={**os.environ, "SFB_DST": tmp, "SFB_COPIES": str(copies)},
        check=True, stdout=subprocess.DEVNULL,
    )
    missing = [t for t in TABLES if not os.path.exists(os.path.join(tmp, f"{t}.parquet"))]
    if missing:
        raise RuntimeError(f"make_sf1.py wrote no {missing}: is the sf0.1 source corpus present?")
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    shutil.rmtree(dst, ignore_errors=True)
    os.rename(tmp, dst)
    return dst


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream), so one input does not
    shift when another input's draw count changes."""
    return np.random.default_rng([seed, sum(map(ord, stream)) * 7919 + len(stream)])


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    idx = rng.choice(len(values), size=n)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


# --- dashboard base table ---------------------------------------------------

CATEGORIES = [f"Chapter {c}" for c in "ABCDEFGHIJKLMNOPQR"]
CARE_TYPES = ["Acute", "Sub-acute", "Non-acute", "Newborn", "Mental health care"]
HOSPITAL_TYPES = ["Public", "Private"]
YEARS = list(range(2012, 2024))


def tidy_frame(seed: int, n_rows: int) -> pa.Table:
    """Tidy fact rows: year, state, separations (whole numbers) and the dims
    category, principal_diagnosis, care_type, hospital_type. Every dynamic
    dim has between 2 and 49 distinct values, so every sidebar selection
    on it is applied (the analytics layer ignores dims outside that
    range)."""
    r = _rng(seed, "tidy")
    cat = r.integers(0, len(CATEGORIES), n_rows)
    diag = r.integers(0, 40, n_rows)
    return pa.table({
        "category": pa.array([CATEGORIES[c] for c in cat.tolist()]),
        "principal_diagnosis": pa.array(
            [f"{CATEGORIES[c][-1]}{d:02d}" for c, d in zip(cat.tolist(), diag.tolist())]
        ),
        "care_type": _pick(r, CARE_TYPES, n_rows),
        "hospital_type": _pick(r, HOSPITAL_TYPES, n_rows),
        "state": _pick(r, STATES, n_rows),
        "separations": r.integers(0, 5000, n_rows).astype(np.float64),
        "year": pa.array(r.choice(YEARS, n_rows), pa.int32()),
    })


def write_tidy(seed: int, n_rows: int, path: str) -> pa.Table:
    table = tidy_frame(seed, n_rows)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return table


def selections(seed: int, n: int) -> list[dict[str, list]]:
    """A seeded sequence of sidebar states. Every state narrows year, state
    and two dynamic dims to a proper subset, so every interaction runs
    the same plan shape and only the IN-lists change with the seed."""
    r = _rng(seed, "selections")
    domains = {
        "year": YEARS,
        "state": STATES,
        "care_type": sorted(CARE_TYPES),
        "category": sorted(CATEGORIES),
    }
    out = []
    for _ in range(n):
        sel: dict[str, list] = {}
        for col, dom in domains.items():
            k = int(r.integers(2, len(dom)))
            sel[col] = sorted(r.choice(dom, size=k, replace=False).tolist())
        out.append(sel)
    return out


# --- ETL landing zone -------------------------------------------------------

EXTRA_DIMS = ["Care type", "Hospital type", "Sex"]
EXTRA_VALUES = {
    "Care type": CARE_TYPES,
    "Hospital type": HOSPITAL_TYPES,
    "Sex": ["Male", "Female"],
}


def landing_zone(
    seed: int, n_sheets: int, n_rows: int
) -> list[tuple[list[list[object]], int]]:
    """AIHW-shaped wide sheets as (rows, year) pairs.

    Each sheet has a junk preamble of 1-3 rows, a header row whose first
    two cells are empty (so they become ``category`` and
    ``principal_diagnosis``), a ``Total`` helper column the parser drops,
    then state columns. Sheet shapes cycle through a fixed list: all 9
    states or a seeded 3-state subset, with or without one extra dim
    column, so the zone's size does not depend on the seed. Body cells
    hold whole numbers as strings, some padded with spaces, and about 4%
    hold the junk markers ``n.p.`` or ``—`` that coerce to NULL. About 2%
    of rows have no category and are dropped by the parser.
    """
    r = _rng(seed, "landing")
    shapes = [(9, True), (3, False), (9, False), (3, True)]
    sheets = []
    for s in range(n_sheets):
        n_states, has_extra = shapes[s % len(shapes)]
        states = STATES_9 if n_states == 9 else [STATES_9[i] for i in sorted(r.choice(9, 3, replace=False))]
        extra = EXTRA_DIMS[int(r.integers(0, len(EXTRA_DIMS)))] if has_extra else None
        year = int(r.integers(2015, 2025))
        preamble = [[f"Table S{s}.1: Separations by principal diagnosis, {year - 1}-{year % 100:02d}", None]]
        for _ in range(int(r.integers(0, 3))):
            preamble.append([None, "Source: AIHW National Hospital Morbidity Database"])
        header = ["", ""] + ([extra] if extra else []) + ["Total"] + states
        rows: list[list[object]] = [*preamble, header]
        for _ in range(n_rows):
            c = int(r.integers(0, len(CATEGORIES)))
            cat: object = CATEGORIES[c] if r.random() >= 0.02 else None
            diag = f"{CATEGORIES[c][-1]}{int(r.integers(0, 40)):02d}"
            vals = []
            for _st in states:
                u = r.random()
                if u < 0.02:
                    vals.append("n.p.")
                elif u < 0.04:
                    vals.append("—")
                else:
                    v = str(int(r.integers(0, 5000)))
                    vals.append(f" {v} " if u > 0.97 else v)
            ex = [EXTRA_VALUES[extra][int(r.integers(0, len(EXTRA_VALUES[extra])))]] if extra else []
            rows.append([cat, diag, *ex, "0", *vals])
        sheets.append((rows, year))
    return sheets
