"""Self-tests of the benchmark's own parts: the generator, the fixed
tables, the checks, the order of traced and untraced JVMs and the metric
names. No JVM is started.

    python3 freshjvm/selftest.py
"""
import csv
import json
import re
import sys
import tempfile
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def files_bytes(d):
    return {p.relative_to(d): p.read_bytes() for p in sorted(Path(d).rglob("*")) if p.is_file()}


def test_same_seed_same_inputs(tmp):
    for name in ("a", "b", "c"):
        seed = 7 if name != "c" else 8
        counts = gen.write_corpus(tmp / name / "corpus", seed, 3, 20_000)
        (tmp / name / "counts.json").write_text(json.dumps(counts, sort_keys=True))
    a, b, c = (files_bytes(tmp / n) for n in "abc")
    assert a == b, "same seed gave different inputs"
    assert a.keys() == c.keys() and a != c, "another seed gave the same inputs"


def test_corpus_counts_follow_reference_tokenization():
    files, counts = gen.corpus(3, 2, 30_000)
    text = "".join(files.values())
    assert "\n" in text and any(c.isupper() for c in text) and "," in text
    # literal replay: single-space split, lowercase, delete [^\w] (ASCII)
    replay = {}
    for t in text.split(" "):
        w = re.sub(r"[^\w]", "", t.lower(), flags=re.ASCII)
        if w:
            replay[w] = replay.get(w, 0) + 1
    assert replay == counts
    # words merged across a line break exist and are counted
    merged = [t for t in text.split(" ") if "\n" in t.strip("\n")]
    assert merged, "no tokens merged across newlines"


def write_wordcount_outputs(out, counts, corrupt=None):
    words = sorted(counts)
    cnt = [counts[w] + (1 if w == corrupt else 0) for w in words]
    ref = pa.table({"word": words, "cnt": cnt, "pkey": [w[0].upper() for w in words]})
    for op, tbl in (("WordCount.referenceJob", ref),
                    ("MapReduce.mapReduce", ref.select(["word", "cnt"]))):
        (out / "out" / op).mkdir(parents=True)
        pq.write_table(tbl, out / "out" / op / "part-0.parquet")
    for w, c in zip(words, cnt):
        d = out / "partitioned" / f"pkey={w[0].upper()}"
        d.mkdir(parents=True, exist_ok=True)
        with (d / "part-0.csv").open("a", newline="") as f:
            csv.writer(f).writerow([w, c])


def test_wordcount_checker(tmp):
    _, counts = gen.corpus(5, 2, 20_000)
    good, bad = tmp / "good", tmp / "bad"
    write_wordcount_outputs(good, counts)
    victim = sorted(counts)[len(counts) // 2]
    write_wordcount_outputs(bad, counts, corrupt=victim)
    ops = ["WordCount.referenceJob", "WordCount.writePartitioned", "MapReduce.mapReduce"]
    for op in ops:
        assert check.check_wordcount(good, op, counts) is None, op
        assert check.check_wordcount(bad, op, counts) is not None, op
    assert check.check_agreement(good) is None


def test_fixed_tables():
    rows = {t: pq.read_metadata(run.TABLES / f"{t}.parquet").num_rows for t in check.TABLES}
    assert rows["region"] == 5 and rows["nation"] == 25, rows
    assert rows["lineitem"] == 60_000 and rows["orders"] == 15_000, rows


def test_lane_checker(tmp):
    tables = run.TABLES
    out = tmp / "lane"
    sql = "SELECT r_name, count(*) AS n FROM region JOIN nation ON n_regionkey = r_regionkey GROUP BY r_name ORDER BY r_name"
    (out / "out" / "q_demo").mkdir(parents=True)
    (out / "oracle_sql.json").write_text(json.dumps({"q_demo": sql}))
    lanes = check.LaneChecker(tables, tmp / "duckdb_tmp")
    right = lanes.con.execute(sql).fetch_arrow_table()
    pq.write_table(right, out / "out" / "q_demo" / "part-0.parquet")
    assert lanes.check(out, "q_demo") is None
    n = right.column("n").to_pylist()
    n[0] += 1
    pq.write_table(right.set_column(1, "n", pa.array(n)), out / "out" / "q_demo" / "part-0.parquet")
    assert lanes.check(out, "q_demo") is not None


def fake_round(errors, wall=2.0):
    return {"setup_s": 1.0, "wall_s": wall, "cpu_s": 3.0, "retained_heap_mb": 50.0,
            "ops": [{"id": f"op{i}", "wall_s": 0.5, "error": e} for i, e in enumerate(errors)],
            "layers": {m["name"]: 1.0 for m in run.SPEC["per_layer"]}}


def test_failures_count_in_error_rate():
    attempted, failed, _ = run.summarize([fake_round([None, None])], [], trace=False)
    assert (attempted, failed) == (2, 0)
    thrown = fake_round([None, "RuntimeException: boom"])
    attempted, failed, _ = run.summarize([thrown], [], trace=False)
    assert (attempted, failed) == (2, 1)


def jvm_sequence(trace, seconds, per_jvm):
    """The traced flags of the JVMs a run launches when each takes per_jvm s."""
    seq, n_u, n_t = [], 0, 0
    while True:
        t = run.traced_next(trace, n_u, n_t)
        seq.append(t)
        n_t, n_u = n_t + t, n_u + (not t)
        if run.done(per_jvm * len(seq), seconds, n_u, n_t, trace):
            return seq


def test_jvm_sequence():
    assert jvm_sequence(False, 30, 25) == [False] * run.MIN_JVMS
    assert jvm_sequence(False, 30, 8) == [False] * 4
    assert jvm_sequence(True, 30, 25) == [False, True]
    assert jvm_sequence(True, 100, 25) == [False, True] * 2
    assert jvm_sequence(True, 30, 8) == [False, True] * 2


def test_metric_names_are_declared():
    spec = run.SPEC
    e2e = {m["name"] for m in spec["end_to_end"]}
    layer = {m["name"] for m in spec["per_layer"]}
    _, _, m0 = run.summarize([fake_round([None])], [], trace=False)
    _, _, m1 = run.summarize([fake_round([None])], [fake_round([None], 2.5)], trace=True)
    assert set(m0) == e2e, set(m0) ^ e2e
    assert set(m1) == layer, set(m1) ^ layer
    assert abs(m1["trace.overhead_s"]["value"] - 0.5) < 1e-9
    # every per-layer name the harness emits is declared, and vice versa
    src = "".join(p.read_text() for p in (HERE / "harness").rglob("*.scala"))
    emitted = set(re.findall(r'"([A-Za-z]+\.[a-z_]+)" ->', src))
    assert emitted | run.PYTHON_LAYERS == layer, emitted ^ layer


def test_layer_map_matches_spec():
    layers = json.loads((HERE / "layers.json").read_text())["layers"]
    named = [m for layer in layers for m in layer["metrics"]]
    assert sorted(named) == sorted(m["name"] for m in run.SPEC["per_layer"])
    workloads = {mv["workload"] for layer in layers for mv in layer["moves"]}
    e2e = {mv["metric"] for layer in layers for mv in layer["moves"]}
    assert workloads <= set(run.WORKLOADS) | {"*"}, workloads
    assert e2e <= {m["name"] for m in run.SPEC["end_to_end"]}, e2e


def test_spec_shape():
    spec = run.SPEC
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert [w["name"] for w in spec["workloads"]] == run.WORKLOADS
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])


def main():
    tests = [(n, f) for n, f in globals().items() if n.startswith("test_")]
    for name, fn in tests:
        run.BUILD.mkdir(exist_ok=True)
        with tempfile.TemporaryDirectory(dir=run.BUILD) as d:
            args = [Path(d)] if fn.__code__.co_argcount else []
            fn(*args)
        print(f"ok  {name}")
    print(f"{len(tests)} self-tests passed")


if __name__ == "__main__":
    main()
