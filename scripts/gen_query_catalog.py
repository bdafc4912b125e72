#!/usr/bin/env python
"""Regenerate QUERIES.md: one row per registered query — name, module,
oracle status, and its registration doc. The doc strings carry the
scale/design rationale, so this is the browsable index of the engine's
query surface.

Usage: python scripts/gen_query_catalog.py  (writes QUERIES.md)

`render()` returns the catalog text; a Tier-1 test holds the committed
QUERIES.md to it.
"""
from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from healthcare_aihw_etl_pipeline_spark.plans import REGISTRY


def render() -> str:
    """QUERIES.md as generated from the registry."""
    lines = [
        "# QUERIES — the registered query surface",
        "",
        "Auto-generated by `scripts/gen_query_catalog.py`; do not edit by",
        "hand. One entry per `queries()` name. \"oracle\" = hash-compared",
        "against DuckDB SQL by the driver and by",
        "`tests/test_queries_oracle.py`; \"rows-only\" = approximate /",
        "self-verifying op checked by property tests instead.",
        "",
    ]
    n_oracle = sum(1 for q in REGISTRY.values() if q.oracle)
    lines.append(
        f"**{len(REGISTRY)} queries: {n_oracle} oracle-checked, "
        f"{len(REGISTRY) - n_oracle} rows-only.**"
    )
    lines.append("")
    by_mod: dict[str, list] = {}
    for q in REGISTRY.values():
        mod = q.fn.__module__.rsplit(".", 1)[-1]
        by_mod.setdefault(mod, []).append(q)
    for mod in sorted(by_mod):
        lines.append(f"## {mod}")
        lines.append("")
        for q in sorted(by_mod[mod], key=lambda q: q.name):
            kind = "oracle" if q.oracle else "rows-only"
            doc = " ".join((q.doc or "").split())
            lines.append(f"### `{q.name}` ({kind})")
            lines.append("")
            lines.append(doc if doc else "(no doc)")
            lines.append("")
    return "\n".join(lines) + "\n"


def main() -> None:
    out = os.path.join(ROOT, "QUERIES.md")
    with open(out, "w") as f:
        f.write(render())
    print(f"wrote {out}: {len(REGISTRY)} queries")
    _sync_readme_counts(len(REGISTRY), sum(1 for q in REGISTRY.values() if q.oracle))


def _sync_readme_counts(n: int, n_oracle: int) -> None:
    """Rewrite the registry-derived numbers in README.md from the
    registry itself — hand-typed counts drift (a round-6 review nit)."""
    import re

    readme = os.path.join(ROOT, "README.md")
    with open(readme) as f:
        text = f.read()
    new = re.sub(r"SIM_N=\d+", f"SIM_N={n}", text)
    new = re.sub(
        r"\d+ registered queries", f"{n} registered queries", new
    )
    new = re.sub(
        r"\d+ (of them |queries )?oracle-checked",
        lambda m: f"{n_oracle} {m.group(1) or ''}oracle-checked",
        new,
    )
    if new != text:
        with open(readme, "w") as f:
            f.write(new)
        print(f"synced README.md counts: {n} queries, {n_oracle} oracled")


if __name__ == "__main__":
    main()
