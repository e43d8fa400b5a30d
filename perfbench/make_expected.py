"""Regenerate ``perfbench/expected.json``: the input fingerprints of
every generated rung and, for every registry query the benchmark runs,
the order-independent digest of its DuckDB oracle result on the rung it
runs on.

    python3 perfbench/make_expected.py

Run from the repository root. The oracles (``queries.ORACLES``) are the
engine's correctness contract; DuckDB finishes every one of them in
seconds on these rungs, so no committed digest comes from the engine
under test.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import datagen  # noqa: E402
from perfbench.run import EXPECTED, RUNGS, WORK  # noqa: E402
from perfbench.stats import digest  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def main() -> int:
    import duckdb

    from easy_etl_spark.queries import ORACLES

    out: dict = {"fingerprints": {}, "queries": {}}
    paths = {}
    for name, sf in RUNGS.items():
        path = os.path.join(WORK, "data", f"sf{sf}")
        out["fingerprints"][f"sf{sf}"] = datagen.write(sf, path)
        paths[name] = path
    for wl, spec in WORKLOADS.items():
        if not spec["ops"]:
            continue
        rung = paths[spec["rung"]]
        con = duckdb.connect()
        for f in sorted(os.listdir(rung)):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(rung, f)}'")
        for q in spec["ops"]:
            t0 = time.perf_counter()
            res = con.execute(ORACLES[q])
            cols = [d[0] for d in res.description]
            d = digest(cols, res.fetchall())
            d["source"] = f"duckdb oracle, {os.path.basename(rung)}"
            out["queries"][q] = d
            print(f"{wl:10s} {q:28s} {d['rows']:7d} rows {time.perf_counter() - t0:6.2f}s",
                  file=sys.stderr)
    with open(EXPECTED, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
