#!/usr/bin/env python
"""Full strict driver-twin gate over the whole catalog at the driver's
scale (``make gate``, COVERAGE.md ritual).

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
at sf0.01 via tests/driver_mimic.compare (the exact hash the driver
computes), one JSON object per entry plus a ``_summary`` row. Previously
assembled ad hoc each round; committed so the artifact is reproducible.

Run EXCLUSIVELY (PERF.md host contract).
Usage: python tools/run_gate.py [out.json] [sf_dir] [entry ...]

Entry names after ``sf_dir`` gate just those entries, in the same
``local[32]``/32-partition session; with none, the whole catalog.
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
sys.path.insert(0, os.path.join(_REPO, "tests"))


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/fsql_gate.json"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

    import __spark_entry__ as entry_mod
    import fsql_spark as fq
    from driver_mimic import compare, duck_connect

    catalog = entry_mod.queries()
    names = sys.argv[3:] or list(catalog)
    unknown = [name for name in names if name not in catalog]
    if unknown:
        sys.exit(f"not catalog entries: {unknown}")

    spark = fq.get_spark(master="local[32]", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connect(sf_dir)

    results = {}
    green = 0
    start = time.perf_counter()
    for i, name in enumerate(names, 1):
        try:
            r = compare(name, spark, sf_dir, con)
        except Exception as exc:  # record, keep gating
            r = {"name": name, "err": repr(exc)[:300]}
        results[name] = r
        if r.get("hash_match") is True:
            green += 1
        else:
            print(f"NOT GREEN: {json.dumps(r)}", flush=True)
        if i % 25 == 0:
            print(f"{i}/{len(names)} ({green} green)", flush=True)
    wall = round(time.perf_counter() - start, 1)

    out = {"_summary": {
        "entries": len(names),
        "hash_green": green,
        "total_wall": wall,
        "sf": float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]),
        "note": f"strict gate over {len(names)} of the {len(catalog)} "
                "catalog entries (driver-twin compare, tests/driver_mimic)",
    }}
    out.update(dict(sorted(results.items())))
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"wrote {out_path}: {green}/{len(names)} hash-green in {wall}s")


if __name__ == "__main__":
    main()
