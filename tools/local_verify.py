#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate: run graft.Verify via sbt,
then execute each oracle SQL in DuckDB over the same parquet tables and
compare (columns sorted by name, rows sorted, values hashed).

DRIVER FIDELITY (round 9): the driver converts both sides to pandas,
does a sort_values over all columns, and hashes the RENDERED values.
Two divergence classes slipped through the old 1e-9-rounding replica:
  1. dtype drift — DuckDB sum(BIGINT) returns HUGEINT, pandas renders
     it float64 ("16853.0") while Spark's int64 renders "16853"; the
     value hash differs even though the numbers are equal. We therefore
     compare pandas-rendered reprs EXACTLY (no rounding, no folding).
  2. array-valued cells — pandas sort_values dies with "unhashable
     type: 'numpy.ndarray'". We detect list/struct/ndarray cells and
     fail the query with ARRAY-COLUMN the way the driver would ERR.

The compare walks the names in graft.Verify's oracle_sql.json, which
lists the lanes Verify selected: with SPARK_GRAFT_ONLY set, only those
are compared, so a subset run can come back green, and output dirs left
by earlier runs of other lanes are never read. A spec that selects no
lane makes graft.Verify exit non-zero, and this script with it.

A lane graft.Verify lists in skipped.json (wordcount_reference where the
reference corpus is absent) prints SKIPPED with the reason and is counted
in the summary line; it does not fail the run. Any other lane with an
oracle and no output prints MISSING-SPARK-OUTPUT and fails it.

Usage: python3 tools/local_verify.py [sfdir] [outdir] [--skip-spark]
"""
import json, subprocess, sys
from pathlib import Path

import duckdb
import numpy as np
import pyarrow.parquet as pq
import pyarrow as pa

SFDIR = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("--") else "/root/testdata/sf0.01"
OUTDIR = sys.argv[2] if len(sys.argv) > 2 and not sys.argv[2].startswith("--") else "/tmp/verify_out"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def run_spark():
    cmd = ["sbt", "-batch", f'runMain graft.Verify {SFDIR} {OUTDIR}']
    r = subprocess.run(cmd, cwd="/root/repo", capture_output=True, text=True, timeout=1800)
    sys.stdout.write("\n".join(l for l in r.stdout.splitlines() if "[error]" in l or "failed" in l.lower()) + "\n")
    if r.returncode != 0:
        print(r.stdout[-3000:]); print(r.stderr[-2000:]); sys.exit(1)


class ArrayColumn(Exception):
    pass


def render(v):
    """The pandas-rendered value the driver hashes. Calibrated against
    CORRECTNESS_r08: integer WIDTH is folded (spark int32 5 and duck
    int64 5 both hash as '5' — the driver passes those), but the
    int-vs-float RENDERING boundary is not ('16853' vs a HUGEINT
    routed through float64 as '16853.0' hash-fails — r8's four new
    reds). So: numpy scalars normalize to python int/float, then repr —
    no rounding, no grain. A DuckDB HUGEINT that arrives as
    decimal.Decimal reprs as "Decimal('16853')", also a mismatch, which
    is correct: the driver's conversion never leaves it integer."""
    if isinstance(v, (np.ndarray, list, tuple, dict)):
        raise ArrayColumn(type(v).__name__)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, np.integer):
        return repr(int(v))
    if isinstance(v, np.floating):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if v != v else repr(v)
    return repr(v)


def canon(tbl: pa.Table):
    """(sorted column names, dtype map, rows sorted as repr-tuples).
    Goes through pandas exactly like the driver so dtype coercions
    (HUGEINT->float64, timestamp units) happen identically."""
    df = tbl.to_pandas()
    cols = sorted(df.columns)
    dtypes = {c: str(df[c].dtype) for c in cols}
    rows = []
    for tup in df[cols].itertuples(index=False, name=None):
        rows.append(tuple(render(v) for v in tup))
    rows.sort()
    return cols, dtypes, rows


def main():
    if "--skip-spark" not in sys.argv:
        run_spark()
    oracle = json.loads(Path(f"{OUTDIR}/oracle_sql.json").read_text())
    # lanes graft.Verify could not run on this machine, with the reason
    # (wordcount_reference where the reference corpus is absent); any
    # other missing output still fails
    skipped_path = Path(f"{OUTDIR}/skipped.json")
    skipped = json.loads(skipped_path.read_text()) if skipped_path.exists() else {}
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SFDIR}/{t}.parquet'")

    results = {}
    for name in sorted(oracle):
        qdir = Path(OUTDIR) / name
        if not qdir.is_dir():
            results[name] = (f"SKIPPED ({skipped[name]})" if name in skipped
                             else "MISSING-SPARK-OUTPUT")
            continue
        if not list(qdir.glob("*.parquet")):
            results[name] = "SPARK-EMPTY-OUTPUT"
            continue
        spark_tbl = pq.read_table(qdir)
        try:
            duck_tbl = con.execute(oracle[name]).fetch_arrow_table()
        except Exception as e:
            results[name] = f"ORACLE-SQL-ERROR: {e}"
            continue
        try:
            sc, sdt, sr = canon(spark_tbl)
            dc, ddt, dr = canon(duck_tbl)
        except ArrayColumn as e:
            # the driver's pandas sort_values crashes on these -> ERR row
            results[name] = f"ARRAY-COLUMN (driver would ERR: unhashable {e})"
            continue
        dtinfo = ", ".join(f"{c}: spark={sdt[c]} duck={ddt[c]}"
                           for c in sc if c in ddt and sdt[c] != ddt[c])
        if sc != dc:
            results[name] = f"SCHEMA-MISMATCH spark={sc} duck={dc}"
        elif len(sr) != len(dr):
            results[name] = f"ROWCOUNT-MISMATCH spark={len(sr)} duck={len(dr)}"
        elif sr != dr:
            diffs = [(a, b) for a, b in zip(sr, dr) if a != b][:3]
            results[name] = (f"VALUE-MISMATCH first-diffs={diffs}"
                             + (f" [dtypes: {dtinfo}]" if dtinfo else ""))
        else:
            results[name] = f"OK ({len(sr)} rows)"

    width = max(len(n) for n in results) if results else 0
    counts = {"ok": 0, "skipped": 0, "failed": 0}
    for name in sorted(results):
        status = results[name]
        if status.startswith("OK"):
            counts["ok"] += 1
        elif status.startswith("SKIPPED"):
            counts["skipped"] += 1
        else:
            counts["failed"] += 1
        print(f"{name:<{width}}  {status}")
    ok = counts["failed"] == 0
    print(("ALL GREEN" if ok else "FAILURES PRESENT")
          + f" ({counts['ok']} ok, {counts['skipped']} skipped, {counts['failed']} failed)")
    sys.exit(0 if ok else 2)


if __name__ == "__main__":
    main()
