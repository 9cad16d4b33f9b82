#!/usr/bin/env python3
"""Driver-mirror parity sweep at an arbitrary scale factor.

Runs every ``__spark_entry__.queries()`` entry and its DuckDB oracle at
``--sf-dir`` (default the driver's correctness scale, sf0.01) and compares
them the way the driver does: both sides materialized through pandas,
columns sorted by name, values canonicalized to strings, rows sorted.
This is deliberately STRICTER than ``tests/test_parity.py`` run at
sf0.001 — scale-dependent divergence (tie ordering, thresholds, float
accumulation, HUGEINT widening that only appears above some row count)
shows up here first.

Usage:  python scripts/parity_sweep.py [--sf-dir DIR] [--only name1,name2]
Writes one JSON line per entry to stdout and a summary to stderr;
exit code 1 if any entry mismatches.
"""

from __future__ import annotations

import argparse
import datetime
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _canon(v):
    if v is None:
        return "None"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, datetime.datetime):
        v = v.replace(tzinfo=None)
        # DATE columns come back as datetime.date from Spark but as a
        # midnight pandas Timestamp from DuckDB's fetchdf; collapse
        # midnight timestamps to the date form so both sides agree
        # (applied to both sides, so true-timestamp columns stay
        # comparable).
        if (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0):
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def _canon_pdf(pdf):
    """Canonicalize a pandas frame: sort columns by name, stringify
    values per-cell, sort rows. Returns (cols, sorted_row_tuples)."""
    cols = sorted(c.lower() for c in pdf.columns)
    pdf = pdf.copy()
    pdf.columns = [c.lower() for c in pdf.columns]
    pdf = pdf[cols]
    rows = []
    for row in pdf.itertuples(index=False, name=None):
        rows.append(tuple(_canon(v) for v in row))
    rows.sort()
    return cols, rows


def oracle_db(sf_dir: str):
    """A DuckDB connection with one view per testdata table at ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{os.path.join(sf_dir, t)}.parquet'"
        )
    return con


def check_entry(spark, con, name: str, query, oracle: str | None,
                sf_dir: str) -> dict:
    """Run one registry entry at ``sf_dir`` and its oracle SQL on ``con``;
    return the JSON record, whose ``ok`` is true only when rows, schema
    and canonical values all match. An entry without an oracle fails."""
    t0 = time.time()
    rec = {"name": name}
    try:
        spdf = query(spark, sf_dir).toPandas()
        rec["spark_rows"] = len(spdf)
        if oracle is None:
            raise KeyError(f"{name} has no oracle_sql() entry")
        opdf = con.execute(oracle).fetchdf()
        rec["oracle_rows"] = len(opdf)
        scols, srows = _canon_pdf(spdf)
        ocols, orows = _canon_pdf(opdf)
        rec["rows_match"] = len(srows) == len(orows)
        rec["schema_match"] = scols == ocols
        rec["hash_match"] = srows == orows
        rec["ok"] = bool(
            rec["rows_match"] and rec["schema_match"] and rec["hash_match"]
        )
        if not rec["ok"]:
            if not rec["schema_match"]:
                rec["detail"] = {"spark_cols": scols, "oracle_cols": ocols}
            else:
                diffs = [(a, b) for a, b in zip(srows, orows) if a != b][:3]
                rec["detail"] = {"first_diffs": diffs,
                                 "n_spark": len(srows),
                                 "n_oracle": len(orows)}
    except Exception as exc:  # noqa: BLE001
        rec["ok"] = False
        rec["err"] = f"{type(exc).__name__}: {exc}"[:400]
    rec["sec"] = round(time.time() - t0, 3)
    return rec


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default="")
    return ap.parse_args(argv)


def main() -> int:
    args = parse_args()

    import __spark_entry__ as entrymod
    from mbta_etl_spark.session import get_spark

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = sorted(queries)
    if args.only:
        keep = set(args.only.split(","))
        names = [n for n in names if n in keep]

    spark = get_spark("parity-sweep")
    con = oracle_db(args.sf_dir)

    bad = []
    for name in names:
        rec = check_entry(spark, con, name, queries[name], oracles.get(name),
                          args.sf_dir)
        print(json.dumps(rec, default=str), flush=True)
        if not rec["ok"]:
            bad.append(name)

    print(
        f"SWEEP DONE: {len(names) - len(bad)}/{len(names)} ok; bad={bad}",
        file=sys.stderr,
    )
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
