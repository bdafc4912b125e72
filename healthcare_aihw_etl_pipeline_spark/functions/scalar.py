"""Scalar column functions (SURVEY §2.9 X1–X8).

Every scalar op the reference implements in pandas/Python, re-expressed
as Catalyst column expressions — JVM-side, codegen'd, zero Python UDFs.
This is deliberate: the reference needs no custom compute, so the whole
scalar surface stays inside whole-stage codegen (SURVEY §2.12).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# The nine Australian state/territory codes the reference recognizes
# (/root/reference/main.py:20).
STATE_CODES = ["NSW", "VIC", "QLD", "SA", "WA", "TAS", "NT", "ACT", "AUST"]


def norm_state(col: Column | str) -> Column:
    """X1 — uppercase, strip non-A-Z, validate against the 9 state codes.

    NULL when the cell is not a recognizable state code
    (reference `_norm_state`, /root/reference/main.py:42-45).
    """
    c = F.col(col) if isinstance(col, str) else col
    s = F.regexp_replace(F.upper(c.cast("string")), "[^A-Z]", "")
    return F.when(s.isin(STATE_CODES), s).otherwise(F.lit(None))


def clean_text(col: Column | str) -> Column:
    """X2 — strip tuple artifacts like `("Injury", 1.0)` from dim cells.

    Chain of the reference's three precompiled regexes plus whitespace and
    quote stripping (`_clean_text`, /root/reference/main.py:55-68):
      1. leading `("` or `(`          — `^\\("?\\s*`
      2. trailing `")` or `)`         — `"?\\)$`
      3. trailing `, <number>`        — `,\\s*[-+]?[0-9]*\\.?[0-9]+$`
    then strip whitespace, then strip double quotes.

    Whitespace and `$` follow PYTHON's `re`/`str.strip` (what the
    reference and pandas do), not Java's: Java's `\\s`/Spark's `trim`
    miss `\\x1c-\\x1f`, `\\x85`, NBSP and the Unicode space category, and
    Java's `$` also matches before a final `\\r`, `\\x85` or U+2028, where
    Python's matches only before a final `\\n` (hence UNIX_LINES, `(?d)`).
    tests/test_properties.py holds both sides to a Python model.
    """
    py_ws = r"[\s\x1c-\x1f\x85\p{Z}]"
    c = F.col(col) if isinstance(col, str) else col
    s = c.cast("string")
    s = F.regexp_replace(s, f'^\\("?{py_ws}*', "")
    s = F.regexp_replace(s, r'(?d)"?\)$', "")
    s = F.regexp_replace(s, f"(?d),{py_ws}*[-+]?[0-9]*\\.?[0-9]+$", "")
    s = F.regexp_replace(s, f"^{py_ws}+|{py_ws}+$", "")
    s = F.btrim(s, F.lit('"'))
    return s


def try_double(col: Column | str) -> Column:
    """X3 — numeric coercion, NULL on junk.

    Matches `pd.to_numeric(errors="coerce")` (/root/reference/main.py:124):
    `try_cast` never raises, even under ANSI mode.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(c.cast("string")).try_cast("double")


def try_int(col: Column | str) -> Column:
    """X4 — nullable integer cast (`astype("Int64")`,
    /root/reference/streamlit_app.py:47). Non-integral numerics truncate,
    junk becomes NULL."""
    return try_double(col).try_cast("int")


def year_from_url(col: Column | str) -> Column:
    """X5 — extract the fiscal-year suffix from a workbook URL.

    `(\\d{4})-(\\d{2})` → group 2 + 2000, else 9999
    (/root/reference/main.py:141-142).
    """
    c = F.col(col) if isinstance(col, str) else col
    two = F.regexp_extract(c, r"(\d{4})-(\d{2})", 2)
    return F.when(two == "", F.lit(9999)).otherwise(
        two.try_cast("int") + F.lit(2000)
    )


def slug(name: str) -> str:
    """X7 — driver-side column-name slugging: strip, lower, spaces→underscores
    (/root/reference/main.py:90). Operates on Python strings because column
    names live in the driver."""
    return str(name).strip().lower().replace(" ", "_")


def bind(expr: Column, body) -> Column:
    """Expression-level let-binding: evaluate `expr` ONCE per row and
    reference the result any number of times inside `body`.

    Why it exists: referencing an expression (not a bound column) inside
    a higher-order-function lambda re-evaluates it PER ELEMENT — Catalyst
    does no common-subexpression elimination across lambda scopes. A
    `transform(sequence(1, n), i -> f(split(text), i))` therefore
    re-splits the text n times: O(len²) per row (measured 12× on the
    bigram query, 4.4 s → 0.35 s at sf0.1). Wrapping the expression as
    the sole element of an array and transforming binds it to a lambda
    VARIABLE, which is evaluated once:

        bind(split(text), t -> transform(..., i -> f(t, i)))
    """
    return F.element_at(F.transform(F.array(expr), body), 1)
