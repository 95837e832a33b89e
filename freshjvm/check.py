"""Output checks for the fresh-JVM benchmark, run outside the timed region.

* A registered lane is compared with its DuckDB oracle twin over the same
  generated tables. The compare rules are those of the engine's local
  verifier: columns sorted by name, every value rendered as pandas shows
  it (integer width folded, int/float rendering kept apart, no rounding),
  rows sorted, then compared exactly.
* The word-count ops are compared with the generator's own counts, and
  `WordCount.referenceJob` with `MapReduce.mapReduce`.

Each check returns None when the output is right, else a one-line reason.
"""
import csv
import json
from pathlib import Path

import duckdb
import numpy as np
import pyarrow.parquet as pq

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def render(v):
    if isinstance(v, (np.ndarray, list, tuple, dict)):
        raise TypeError(f"array-valued cell ({type(v).__name__})")
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, np.integer):
        return repr(int(v))
    if isinstance(v, np.floating):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if v != v else repr(v)
    return repr(v)


def canon(tbl):
    df = tbl.to_pandas()
    cols = sorted(df.columns)
    rows = sorted(tuple(render(v) for v in tup)
                  for tup in df[cols].itertuples(index=False, name=None))
    return cols, rows


def compare(spark_tbl, duck_tbl):
    try:
        sc, sr = canon(spark_tbl)
        dc, dr = canon(duck_tbl)
    except TypeError as e:
        return str(e)
    if sc != dc:
        return f"schema mismatch: spark={sc} oracle={dc}"
    if len(sr) != len(dr):
        return f"row count mismatch: spark={len(sr)} oracle={len(dr)}"
    if sr != dr:
        diffs = [(a, b) for a, b in zip(sr, dr) if a != b][:2]
        return f"value mismatch, first differences {diffs}"
    return None


class LaneChecker:
    """Compares lane outputs under `out_dir/out/<lane>` with the oracle SQL
    the round wrote to `out_dir/oracle_sql.json`."""

    def __init__(self, tables_dir, tmp_dir):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute(f"SET temp_directory = '{tmp_dir}'")
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{Path(tables_dir) / t}.parquet'")

    def check(self, out_dir, lane):
        oracle = json.loads((Path(out_dir) / "oracle_sql.json").read_text())
        if lane not in oracle:
            return "no oracle registered for this lane"
        got = Path(out_dir) / "out" / lane
        if not list(got.glob("*.parquet")):
            return "no output written"
        try:
            duck = self.con.execute(oracle[lane]).fetch_arrow_table()
        except Exception as e:  # an oracle that cannot run is a failed check
            return f"oracle error: {str(e).splitlines()[0][:200]}"
        return compare(pq.read_table(got), duck)


def _pairs(tbl):
    d = tbl.to_pydict()
    return dict(zip(d["word"], d["cnt"])), d


def check_wordcount(out_dir, op, counts):
    """Checks one word-count op's output against the generated counts."""
    out = Path(out_dir)
    if op == "WordCount.writePartitioned":
        got, bad_key = {}, 0
        for part in sorted((out / "partitioned").glob("pkey=*/part-*")):
            key = part.parent.name.split("=", 1)[1]
            with part.open(newline="") as f:
                for word, cnt in csv.reader(f):
                    got[word] = got.get(word, 0) + int(cnt)
                    bad_key += word[:1].upper() != key
        if bad_key:
            return f"{bad_key} words under the wrong first-letter directory"
    else:
        path = out / "out" / op
        if not list(path.glob("*.parquet")):
            return "no output written"
        got, cols = _pairs(pq.read_table(path))
        if op == "WordCount.referenceJob":
            wrong = sum(k != w[:1].upper() for w, k in zip(cols["word"], cols["pkey"]))
            if wrong:
                return f"{wrong} rows with a wrong partition key"
    if got != counts:
        missing = len(counts.keys() - got.keys())
        extra = len(got.keys() - counts.keys())
        wrong = sum(got[w] != c for w, c in counts.items() if w in got)
        return f"counts differ: {missing} missing, {extra} extra, {wrong} wrong"
    return None


def check_agreement(out_dir):
    """`WordCount.referenceJob` and `MapReduce.mapReduce` give the same counts."""
    out = Path(out_dir) / "out"
    paths = [out / "WordCount.referenceJob", out / "MapReduce.mapReduce"]
    if not all(list(p.glob("*.parquet")) for p in paths):
        return None  # a missing output already failed its own check
    a, b = (_pairs(pq.read_table(p))[0] for p in paths)
    return None if a == b else "referenceJob and mapReduce disagree"
