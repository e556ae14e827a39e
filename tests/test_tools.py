"""Spark-free tests for the measurement tooling and SQL-mirror helpers:
lineage-aware scaling merges and the prefix contract of the splitmix64
DuckDB CTE generator. These guard the graded BENCH artifacts' provenance
logic, so they run without a SparkSession (pure python + DuckDB)."""

import importlib.util
import json
import os

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(relpath, name):
    spec = importlib.util.spec_from_file_location(name, os.path.join(REPO, relpath))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_lineage_exclude_drops_old_program_legs():
    """Old-lineage windows must never min-merge into a query measured on
    a different program: r4w1-5 ran the pre-multiply-shift minhash AND
    the pre-mapInPandas flagship; r4w6-12 only the latter; the v2
    windows are the current program and carry no exclusions."""
    ms = _load("tools/merge_scaling.py", "merge_scaling")
    ex = ms.LINEAGE_EXCLUDE
    assert ex["scaling_r4w1.json"] == {"minhash_assign", "flagship"}
    assert ex["scaling_r4w5.json"] == {"minhash_assign", "flagship"}
    assert ex["scaling_r4w6.json"] == {"flagship"}
    assert ex["scaling_r4w11.json"] == {"flagship"}
    assert "scaling_r4v2w1.json" not in ex


def test_merge_scaling_min_merge_respects_exclusions(tmp_path, monkeypatch, capsys):
    ms = _load("tools/merge_scaling.py", "merge_scaling")
    old = {  # old lineage: better flagship legs that must NOT win
        "sf": 4.0, "n_docs": 100, "N": 4, "4N": 16, "trials": 1,
        "times_N": {"flagship": 1.0, "text_extract": 9.0},
        "times_4N": {"flagship": 0.25, "text_extract": 3.0},
    }
    new = {
        "sf": 4.0, "n_docs": 100, "N": 4, "4N": 16, "trials": 1,
        "times_N": {"flagship": 8.0, "text_extract": 10.0},
        "times_4N": {"flagship": 2.5, "text_extract": 4.0},
    }
    p_old = tmp_path / "scaling_r4w7.json"   # flagship excluded by name
    p_new = tmp_path / "scaling_r4v2w1.json"
    p_old.write_text(json.dumps(old))
    p_new.write_text(json.dumps(new))
    out = tmp_path / "scaling.json"
    monkeypatch.setenv("SPARK_GRAFT_MERGE_OUT", str(out))
    monkeypatch.setattr(
        "sys.argv", ["merge_scaling.py", str(p_old), str(p_new)]
    )
    ms.main()
    merged = json.loads(out.read_text())
    # the old window's flagship 1.0/0.25 legs are excluded; text_extract
    # min-merges normally (9.0 beats 10.0)
    assert merged["times_N"]["flagship"] == 8.0
    assert merged["times_4N"]["flagship"] == 2.5
    assert merged["times_N"]["text_extract"] == 9.0


def test_splitmix_sql_prefix_allows_two_streams_in_one_with():
    from coastsat_spark.operators import multimodal as mm
    sql_a = mm.splitmix_hash_sql("i", stream=7, prefix="sa")
    sql_b = mm.splitmix_hash_sql("i", stream=9, prefix="sb")
    q = f"""
        WITH sasrc AS (SELECT i FROM generate_series(0, 9) t(i)),
        sbsrc AS (SELECT i FROM generate_series(0, 9) t(i)),
        {sql_a},
        {sql_b}
        SELECT a.val AS va, b.val AS vb
        FROM sav a JOIN sbv b USING (i) ORDER BY i
    """
    rows = duckdb.sql(q).fetchall()
    assert len(rows) == 10
    # different streams -> different hash values, both deterministic
    assert all(va != vb for va, vb in rows)
    again = duckdb.sql(q).fetchall()
    assert rows == again


def test_splitmix_sql_prefix_matches_python_kernel():
    """The prefixed SQL must still compute the same splitmix64 stream the
    generator's numpy kernel produces (the multimodal oracle's exactness
    contract)."""
    from coastsat_spark.operators import multimodal as mm

    sql = mm.splitmix_hash_sql("i", stream=77, prefix="pz")
    q = f"""
        WITH pzsrc AS (SELECT i FROM generate_series(0, 31) t(i)),
        {sql}
        SELECT val FROM pzv ORDER BY i
    """
    got = [int(r[0]) for r in duckdb.sql(q).fetchall()]
    # replicate the module's own chain: first multiply by _SM_MUL, then
    # the finalizer — read the constants from the module so the test
    # tracks the implementation
    U = (1 << 64) - 1
    add = (77 * mm._SM_GOLDEN + 42 + mm._SM_GOLDEN) % (1 << 64)
    want = []
    for i in range(32):
        z = (i * mm._SM_MUL) & U
        z = (z + add) & U
        z = ((z ^ (z >> 30)) * mm._SM_M1) & U
        z = ((z ^ (z >> 27)) * mm._SM_M2) & U
        want.append(z ^ (z >> 31))
    assert got == want


def test_pipeline_ops_leg_script_formats_and_compiles():
    """The leg template mixes doubled literal braces with real
    placeholders ({repo}, {cpus}, {sf}, {trials}, {only}, {quiet_gbps});
    a stray single brace would only blow up at run time inside the
    subprocess, so pin format + compile here."""
    m = _load("tools/pipeline_ops_bench.py", "pipeline_ops_bench")
    src = m._LEG_SCRIPT.format(
        repo=REPO, cpus=8, sf=0.001, trials=1, only=("bpe_encode",),
        quiet_gbps=2.0,
    )
    compile(src, "<leg>", "exec")
    # the quiet gate made it into the generated code with its floor bound
    assert "floor=2.0" in src
    assert "wait_quiet()" in src


def test_pipeline_ops_window_accept_logic():
    """The hunter accepts a window only when EVERY job-leg's embedded
    probe median is quiet — one contended leg poisons the whole window."""
    m = _load("tools/pipeline_ops_window.py", "pipeline_ops_window")
    res = {
        "ambient_gbps_N": {"bpe_encode": [7.0, 0.3, 6.5]},   # median 6.5
        "ambient_gbps_4N": {"bpe_encode": [0.4, 0.5, 7.2]},  # median 0.5
    }
    meds = m.leg_medians(res)
    assert meds == [6.5, 0.5]
    assert min(meds) < 2.0  # this window must be rejected at accept=2.0
