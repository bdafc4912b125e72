"""Output checks, run outside the timed region.

``result_key`` applies the oracle comparison rule to a query result:
row count, sorted column names and an order-insensitive hash of the
rendered values, with floats rounded to six decimals (the rule
``scripts/driver_sim.py`` applies). Float sums depend on the order in
which an engine adds them, so a six-decimal rounding can still split two
correct answers; ``agree`` then falls back to a pairwise comparison with
a relative tolerance.
``exact_key`` hashes unrounded values: a repeated collect of the same
plan must reproduce its first result bit for bit. The other functions
compute the dashboard's and the ETL's expected outputs with pandas from
the generator's own rows, without calling the engine.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
from decimal import Decimal

import pandas as pd

STATE_CODES = ["NSW", "VIC", "QLD", "SA", "WA", "TAS", "NT", "ACT", "AUST"]


def _cell(v, digits: int | None = 6):
    if v is None:
        return None
    if isinstance(v, Decimal):
        return str(v.normalize())
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v if digits is None else round(v, digits))
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x, digits) for x in v)
    return v


def _canon(cols: list[str], rows, digits: int | None) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_cell(r[i], digits) for i in order) for r in rows), key=repr)


def _key(cols: list[str], rows, digits: int | None) -> tuple[int, tuple, str]:
    normed = [repr(t) for t in _canon(cols, rows, digits)]
    digest = hashlib.sha256("\n".join(normed).encode()).hexdigest()
    return len(normed), tuple(sorted(cols)), digest


def result_key(cols: list[str], rows) -> tuple[int, tuple, str]:
    """(row count, sorted columns, order-insensitive value hash), floats
    rounded to six decimals."""
    return _key(cols, rows, 6)


def exact_key(cols: list[str], rows) -> tuple[int, tuple, str]:
    """As ``result_key``, with every float as it was returned."""
    return _key(cols, rows, None)


def _close(a, b) -> bool:
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def agree(cols_a: list[str], rows_a, cols_b: list[str], rows_b) -> bool:
    """Two results agree under ``result_key``, or else row by row with
    floats equal to a relative 1e-9. Rows are paired after sorting on
    their values rounded to four significant digits."""
    if result_key(cols_a, rows_a) == result_key(cols_b, rows_b):
        return True
    if len(rows_a) != len(rows_b) or sorted(cols_a) != sorted(cols_b):
        return False

    def coarse(v):
        if isinstance(v, float) and math.isfinite(v):
            return float(f"{v:.4g}")
        return v

    def rows(cols, rs):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        out = [tuple(r[i] for i in order) for r in rs]
        return sorted(out, key=lambda t: repr(tuple(_cell(coarse(v), None) for v in t)))

    return all(_close(_plain(x), _plain(y))
               for x, y in zip(rows(cols_a, rows_a), rows(cols_b, rows_b)))


def _plain(v):
    """Decimals to floats, sequences to tuples, for ``_close``."""
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return tuple(_plain(x) for x in v)
    return v


# --- dashboard --------------------------------------------------------------


def filter_rows(pdf: pd.DataFrame, sel: dict[str, list]) -> pd.DataFrame:
    """The sidebar filter over rows whose dims are never null or empty and
    whose dynamic dims all have between 2 and 49 values: every selection
    that is not the whole domain is applied as an IN-list."""
    mask = pd.Series(True, index=pdf.index)
    for col, vals in sel.items():
        if vals:
            mask &= pdf[col].isin(vals)
    return pdf[mask]


def _sums(pdf: pd.DataFrame, keys: list[str]) -> set[tuple]:
    g = pdf.groupby(keys, sort=False)["separations"].sum()
    return {(*(k if isinstance(k, tuple) else (k,)), float(v)) for k, v in g.items()}


def _argmax(pdf: pd.DataFrame, key: str):
    g = pdf.groupby(key)["separations"].sum()
    # Ties go to the larger key, as a max over (measure, key) structs does.
    best = max((float(v), k) for k, v in g.items())
    return best[1], best[0]


def expected_interaction(pdf: pd.DataFrame, sel: dict[str, list]) -> dict:
    f = filter_rows(pdf, sel)
    cat = f.groupby("category")["separations"].sum()
    top10 = sorted(((k, float(v)) for k, v in cat.items()), key=lambda kv: (-kv[1], kv[0]))[:10]
    heat = f.groupby(["category", "state"])["separations"].sum()
    heatmap: dict[str, dict] = {}
    for (c, s), v in heat.items():
        heatmap.setdefault(c, dict.fromkeys(STATE_CODES))[s] = float(v)
    yearly = f.groupby("year")["separations"].sum().sort_index()
    top_state, top_state_total = _argmax(f, "state")
    top_cat, top_cat_total = _argmax(f, "category")
    pct = None
    if len(yearly) > 1:
        first, last = float(yearly.iloc[0]), float(yearly.iloc[-1])
        pct = (int(yearly.index[0]), int(yearly.index[-1]), (last - first) / first * 100)
    return {
        "state_bar": _sums(f, ["state"]),
        "year_trend": _sums(f, ["year", "state"]),
        "category_top10": top10,
        "category_state_heatmap": {c: tuple(v[s] for s in STATE_CODES) for c, v in heatmap.items()},
        "treemap": _sums(f, ["category", "principal_diagnosis"]),
        "insights": (top_state, top_state_total, top_cat, top_cat_total, pct),
    }


def observed_interaction(widgets: dict[str, list], ins) -> dict:
    def sums(rows):
        return {(*r[:-1], float(r[-1])) for r in rows}

    heat = {}
    for r in widgets["category_state_heatmap"]:
        d = r.asDict()
        heat[d["category"]] = tuple(
            None if d.get(s) is None else float(d[s]) for s in STATE_CODES
        )
    pct = None
    if ins.pct_change is not None:
        pct = (ins.first_year, ins.last_year, ins.pct_change)
    return {
        "state_bar": sums(widgets["state_bar"]),
        "year_trend": sums(widgets["year_trend"]),
        "category_top10": [(r[0], float(r[1])) for r in widgets["category_top10"]],
        "category_state_heatmap": heat,
        "treemap": sums(widgets["treemap"]),
        "insights": (ins.top_state, ins.top_state_total, ins.top_category,
                     ins.top_category_total, pct),
    }


def interaction_ok(expected: dict, observed: dict) -> bool:
    """Measures are whole numbers, so every sum is exact and compared
    exactly; only the engine's rounded percentage gets a tolerance."""
    ei, oi = expected["insights"], observed["insights"]
    for k in expected:
        if k != "insights" and expected[k] != observed[k]:
            return False
    if ei[:4] != oi[:4] or (ei[4] is None) != (oi[4] is None):
        return False
    if ei[4] is not None:
        # pct_change is rounded to 4 places by the engine.
        if ei[4][:2] != oi[4][:2] or abs(ei[4][2] - oi[4][2]) > 1e-4 + 1e-9 * abs(ei[4][2]):
            return False
    return True


# --- ETL --------------------------------------------------------------------


def _slug(name: str) -> str:
    return name.strip().lower().replace(" ", "_")


def expected_etl(sheets) -> tuple[int, pd.DataFrame]:
    """(staging row count, clean table) for landing zones built by
    ``gen.landing_zone``: melt each sheet's state columns, drop rows with
    no category and cells that are not numbers, then fill missing dims
    with "" and sum by (year, state, dims)."""
    records = []
    for rows, year in sheets:
        hi = next(i for i, r in enumerate(rows) if "Total" in r)
        header = rows[hi]
        extra = [_slug(h) for h in header[2:header.index("Total")]]
        states = header[header.index("Total") + 1:]
        for r in rows[hi + 1:]:
            if r[0] is None:
                continue
            dims = {"category": r[0], "principal_diagnosis": r[1]}
            dims.update(zip(extra, r[2:2 + len(extra)]))
            for st, cell in zip(states, r[len(header) - len(states):]):
                try:
                    v = float(str(cell).strip())
                except ValueError:
                    continue
                records.append({**dims, "state": st, "separations": v, "year": int(year)})
    tidy = pd.DataFrame.from_records(records)
    dims = [c for c in tidy.columns if c not in ("year", "state", "separations")]
    clean = (
        tidy.fillna({c: "" for c in dims})
        .groupby(["year", "state", *dims], as_index=False)["separations"].sum()
    )
    return len(tidy), clean


def frame_key(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    return sorted(
        tuple(int(v) if c == "year" else (float(v) if c == "separations" else str(v))
              for c, v in zip(cols, row))
        for row in df[cols].itertuples(index=False, name=None)
    )
