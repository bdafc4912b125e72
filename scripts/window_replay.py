#!/usr/bin/env python
"""Replay registry queries against their oracles in batches, one fresh
``scripts/driver_sim.py`` process per batch, and merge the per-batch
reports into one JSON artifact.

    python scripts/window_replay.py --sf DIR --out FILE.json [--timeout S] \\
        "name,name,..." "alt:name,..." ...

Each positional argument is a batch of comma-separated registry names.
A batch prefixed ``alt:`` is checked against the registered alternative
oracles (``SIM_ALT_ORACLE=1``). A batch runs as
``SIM_ONLY=<names> SIM_SF=<DIR> SIM_OUT=<tmp> driver_sim.py`` under the
timeout (default 1500 s); when the timeout fires, the batch's process
group is killed and each of its names is recorded with status
``timeout``. A batch that exits without writing its report records its
names as ``error``. Set ``PYSPARK_SUBMIT_ARGS`` to size the driver heap
(e.g. ``--driver-memory 24g pyspark-shell``).

The artifact holds ``sf_dir``, one record per batch (names, alt_oracle,
returncode, sec), ``queries`` (name -> driver_sim's per-query record)
and ``summary`` (name count per status).
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import tempfile
import time
from collections import Counter

DRIVER_SIM = os.path.join(os.path.dirname(os.path.abspath(__file__)), "driver_sim.py")


def run_batch(names: list[str], sf_dir: str, alt: bool, timeout: float) -> tuple[dict, dict]:
    """(batch record, name -> per-query record) for one driver_sim run."""
    with tempfile.TemporaryDirectory(prefix="window-replay-") as tmp:
        report = os.path.join(tmp, "report.json")
        env = {**os.environ, "SIM_ONLY": ",".join(names), "SIM_SF": sf_dir, "SIM_OUT": report}
        if alt:
            env["SIM_ALT_ORACLE"] = "1"
        t0 = time.perf_counter()
        # Own session: a timeout kills the batch's JVM with it.
        proc = subprocess.Popen([sys.executable, DRIVER_SIM], env=env, start_new_session=True)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = None
        batch = {"names": names, "alt_oracle": alt, "returncode": rc, "sec": round(time.perf_counter() - t0, 1)}
        if rc is None:
            return batch, {n: {"status": "timeout"} for n in names}
        try:
            with open(report) as fh:
                return batch, json.load(fh)["queries"]
        except (OSError, ValueError):
            return batch, {n: {"status": "error", "error": f"no report (exit {rc})"} for n in names}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", required=True, help="corpus directory (SIM_SF)")
    ap.add_argument("--out", required=True, help="merged JSON artifact to write")
    ap.add_argument("--timeout", type=float, default=1500, help="seconds per batch")
    ap.add_argument("batches", nargs="+", help='"name,name" or "alt:name,name"')
    args = ap.parse_args(argv)

    art = {"sf_dir": args.sf, "batches": [], "queries": {}, "summary": {}}
    for spec in args.batches:
        alt = spec.startswith("alt:")
        names = [n for n in spec.removeprefix("alt:").split(",") if n]
        batch, queries = run_batch(names, args.sf, alt, args.timeout)
        art["batches"].append(batch)
        art["queries"].update(queries)
        art["summary"] = dict(Counter(q["status"] for q in art["queries"].values()))
        with open(args.out, "w") as fh:
            json.dump(art, fh, indent=1)
        print(f"batch {names} alt={alt}: rc={batch['returncode']} {batch['sec']}s", file=sys.stderr, flush=True)
    print(json.dumps(art["summary"]))
    return 0 if set(art["summary"]) <= {"ok", "rows_only"} else 1


if __name__ == "__main__":
    sys.exit(main())
