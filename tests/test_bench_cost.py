"""The round-16 deterministic-cost plumbing: job-group attribution in
bench.collect_cost (live, against the session's UI REST API) and the
costdiff flagging rules (pure function). The bench harness is the
driver's per-round feedback loop — a silent break here would turn the
cost tables into noise exactly when a regression needs them."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from scripts.costdiff import diff  # noqa: E402


def _stage(sid, status="COMPLETE", tasks=4, sr=10, sw=20, inp=30, out=0):
    return {
        "stageId": sid,
        "attemptId": 0,
        "status": status,
        "numTasks": tasks,
        "shuffleReadBytes": sr,
        "shuffleWriteBytes": sw,
        "inputBytes": inp,
        "outputBytes": out,
    }


def test_aggregate_cost_first_job_claims_and_skipped_exclusion():
    """Attribution rules on canned REST payloads: a completed stage is
    charged to the FIRST job (ascending jobId) that lists it; SKIPPED
    attempts carry no cost; untagged jobs are ignored; metrics sum."""
    jobs = [
        # listed newest-first, as the REST API returns them
        {"jobId": 3, "jobGroup": "p0:beta", "stageIds": [2, 1]},  # 1 reused
        {"jobId": 2, "stageIds": [9]},                  # untagged: ignored
        {"jobId": 1, "jobGroup": "p0:alpha", "stageIds": [0, 1]},
        {"jobId": 0, "jobGroup": "w:alpha", "stageIds": [5]},
    ]
    stages = [
        _stage(0, tasks=4, sr=10, sw=20, inp=30),
        _stage(1, tasks=8, sr=1, sw=2, inp=3),
        _stage(2, tasks=2, sr=100, sw=0, inp=0),
        _stage(1, status="SKIPPED"),  # beta's reuse of alpha's exchange
        _stage(9, tasks=99),          # belongs to the untagged job
        _stage(5, tasks=7, sr=5, sw=5, inp=5),
    ]
    out = bench._aggregate_cost(jobs, stages, ["p0:", "w:"])
    alpha = out["p0:"]["alpha"]
    beta = out["p0:"]["beta"]
    assert alpha == {
        "shuffle_read_bytes": 11, "shuffle_write_bytes": 22,
        "input_bytes": 33, "output_bytes": 0,
        "tasks": 12, "stages": 2, "jobs": 1,
    }
    # beta gets ONLY stage 2 — stage 1 was claimed by the earlier job
    assert beta["tasks"] == 2 and beta["shuffle_read_bytes"] == 100
    assert beta["stages"] == 1 and beta["jobs"] == 1
    assert out["w:"]["alpha"]["tasks"] == 7
    assert "9" not in str(out)  # untagged job's stage attributed nowhere


def test_collect_cost_attributes_stages_to_job_groups(spark):
    sc = spark.sparkContext
    if not sc.uiWebUrl:
        pytest.skip("Spark UI disabled in this session")
    sc.setJobGroup("p0:alpha", "alpha")
    spark.range(10_000).selectExpr("id % 7 k").groupBy("k").count().collect()
    sc.setJobGroup("p0:beta", "beta")
    spark.range(1_000).count()
    sc.setJobGroup(None, None)
    spark.range(5).count()  # untagged — must not be attributed

    out = bench.collect_cost(spark, ["p0:"])
    got = out["p0:"]
    assert set(got) >= {"alpha", "beta"}
    # the groupBy shuffled; the count did not
    assert got["alpha"]["shuffle_write_bytes"] > 0
    assert got["alpha"]["stages"] >= 2
    assert got["beta"]["shuffle_write_bytes"] == 0
    assert got["beta"]["jobs"] >= 1
    # every metric is a non-negative int
    for m in got.values():
        for v in m.values():
            assert isinstance(v, int) and v >= 0


def test_costdiff_flags_counts_exactly_and_bytes_by_ratio():
    old = {
        "q1": {"tasks": 10, "stages": 3, "jobs": 3, "shuffle_read_bytes": 1000,
               "shuffle_write_bytes": 1000, "input_bytes": 0, "output_bytes": 0},
        "q2": {"tasks": 5, "stages": 2, "jobs": 2, "shuffle_read_bytes": 100,
               "shuffle_write_bytes": 100, "input_bytes": 50, "output_bytes": 0},
    }
    import copy

    new = copy.deepcopy(old)
    assert diff(old, new, 1.05) == ([], [])
    new["q1"]["tasks"] = 11  # any count change flags
    new["q2"]["shuffle_read_bytes"] = 104  # 1.04x — inside tolerance
    flags, notes = diff(old, new, 1.05)
    assert len(flags) == 1 and flags[0][0] == "q1" and notes == []
    new["q2"]["shuffle_read_bytes"] = 200  # 2x — flags
    assert len(diff(old, new, 1.05)[0]) == 2
    # 0 -> nonzero is infinite ratio, always flagged
    new2 = copy.deepcopy(old)
    new2["q2"]["output_bytes"] = 7
    assert any(name == "q2" for name, _ in diff(old, new2, 1.05)[0])
    # asymmetric presence flags — structured (name, message) pairs, so
    # a ':' in a query name cannot be misparsed (round 18, ADVICE r17)
    assert diff(old, {"q1": old["q1"]}, 1.05) == ([("q2", "only in OLD")], [])


def test_costdiff_byte_tolerant_entries_demote_bytes_keep_counts():
    """Round 17 (VERDICT r16 item 3 / ADVICE): entries a sidecar's own
    cost_stable marks byte-unstable get byte moves as NOTES (no
    exit-1), but a count move on the same entry still flags."""
    old = {
        "q1": {"tasks": 10, "stages": 3, "jobs": 3, "shuffle_read_bytes": 1000,
               "shuffle_write_bytes": 0, "input_bytes": 0, "output_bytes": 0},
    }
    import copy

    new = copy.deepcopy(old)
    new["q1"]["shuffle_read_bytes"] = 3000  # 3x byte move
    flags, notes = diff(old, new, 1.05, byte_tolerant={"q1"})
    assert flags == [] and len(notes) == 1 and notes[0][0] == "q1"
    # but a count move on a tolerant entry is a real plan change
    new["q1"]["tasks"] = 12
    flags, notes = diff(old, new, 1.05, byte_tolerant={"q1"})
    assert len(flags) == 1 and "tasks 10→12" in flags[0][1]
    # unstable-set derivation: either sidecar's cost_stable counts
    from scripts.costdiff import _unstable_entries

    assert _unstable_entries(
        {"cost_stable": {"a": True, "b": False}},
        {"cost_stable": {"c": False}},
        {},
    ) == {"b", "c"}


def test_costdiff_cli_parses_threshold(tmp_path):
    """ADVICE r16: `--threshold 1.10` used to be mis-stripped from
    positionals (str(1.1) != '1.10') and exit 2 with usage; argparse
    now handles it."""
    import json
    import subprocess
    import sys

    row = {"tasks": 1, "stages": 1, "jobs": 1, "shuffle_read_bytes": 100,
           "shuffle_write_bytes": 0, "input_bytes": 0, "output_bytes": 0}
    a, b = tmp_path / "a.json", tmp_path / "b.json"
    a.write_text(json.dumps({"cost": {"q": row}}))
    b.write_text(json.dumps({"cost": {"q": {**row, "shuffle_read_bytes": 108}}}))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [sys.executable, "scripts/costdiff.py", str(a), str(b),
         "--threshold", "1.10"],
        capture_output=True, text=True, cwd=repo,
    )
    # 1.08x < 1.10 threshold: nothing flagged, exit 0
    assert r.returncode == 0, r.stdout + r.stderr
    assert "1 cost-identical" in r.stdout


def test_aggregate_cost_counts_one_attempt_per_stage():
    """ADVICE r16: a retried stage (two COMPLETE attempts) must charge
    ONE attempt — the latest — not the sum, or a run with retries
    breaks the byte-identical == box-noise invariant."""
    jobs = [{"jobId": 1, "jobGroup": "p0:alpha", "stageIds": [0]}]
    stages = [
        _stage(0, tasks=4, sr=10, sw=20, inp=30),
        {**_stage(0, tasks=4, sr=11, sw=21, inp=31), "attemptId": 1},
    ]
    out = bench._aggregate_cost(jobs, stages, ["p0:"])
    m = out["p0:"]["alpha"]
    assert m["tasks"] == 4 and m["stages"] == 1
    assert (m["shuffle_read_bytes"], m["shuffle_write_bytes"]) == (11, 21)
    assert m["input_bytes"] == 31


def test_fresh_fuzz_k_expression_covers_every_cross_engine_suite():
    """Round 17 (VERDICT r16 item 6): fresh_fuzz re-runs the
    cross-engine hypothesis suites under fresh seeds — but only
    tests/test_properties.py filtered by DEFAULT_K. A new suite whose
    name misses the pattern (or that lands in another file) would
    silently get no fresh-seed coverage. This meta-test enumerates
    every hypothesis test whose source touches a *_sql twin or DuckDB
    and asserts fresh_fuzz would run it."""
    import ast
    import re

    from scripts.fresh_fuzz import DEFAULT_K

    # DEFAULT_K is a pure OR of bare words; pytest -k matches bare
    # words as substrings of the test id, so this mirror is faithful.
    # Guard the assumption so a future expression change re-surfaces
    # here instead of silently diverging from pytest's semantics.
    assert not re.search(r"\bnot\b|\band\b|[()]", DEFAULT_K), DEFAULT_K
    k_tokens = [t.strip() for t in DEFAULT_K.split(" or ")]

    tests_dir = os.path.dirname(os.path.abspath(__file__))
    missed = []
    for fname in sorted(os.listdir(tests_dir)):
        if not (fname.startswith("test_") and fname.endswith(".py")):
            continue
        src = open(os.path.join(tests_dir, fname)).read()
        for node in ast.walk(ast.parse(src)):
            if not isinstance(node, ast.FunctionDef):
                continue
            if not any(
                "given" in ast.unparse(d) for d in node.decorator_list
            ):
                continue  # not a hypothesis suite
            seg = ast.get_source_segment(src, node) or ""
            cross_engine = "duckdb" in seg.lower() or re.search(
                r"\w+_sql\s*\(", seg
            )
            if not cross_engine:
                continue
            if fname != "test_properties.py" or not any(
                t in node.name for t in k_tokens
            ):
                missed.append(f"{fname}::{node.name}")
    assert not missed, (
        "cross-engine hypothesis suites outside fresh_fuzz's sweep "
        f"(file must be test_properties.py, name must match -k "
        f"{DEFAULT_K!r}): {missed}"
    )


def test_cost_stability_all_none_is_unknown_not_stable():
    """Round 18 (ADVICE r17): a query with NO cost entry in any pass
    must report None (unknown), not True; a partial gap is unstable."""
    cbt = {
        "p0:": {"q1": {"shuffle_read_bytes": 5, "shuffle_write_bytes": 5}},
        "p1:": {"q1": {"shuffle_read_bytes": 5, "shuffle_write_bytes": 5}},
    }
    tags = ["p0:", "p1:"]
    assert bench.cost_stability(cbt, tags, "q1") is True
    assert bench.cost_stability(cbt, tags, "q_missing") is None
    cbt["p1:"]["q1"]["shuffle_read_bytes"] = 6
    assert bench.cost_stability(cbt, tags, "q1") is False
    # entry present in only one pass: attribution wobbled — unstable
    del cbt["p1:"]["q1"]
    assert bench.cost_stability(cbt, tags, "q1") is False


def test_sfratio_adjudication_subsecond_and_cost_rows(tmp_path):
    """Round 18 (VERDICT r17 item 3): the ratio-move gate adjudicates
    mechanically — sub-second entries are jitter-exempt, cost-identical
    big-run rows demote to noise, real cost moves still flag."""
    from scripts.sfratio import adjudicate_moves

    cost_row = {
        "tasks": 4, "stages": 2, "jobs": 2, "shuffle_read_bytes": 100,
        "shuffle_write_bytes": 100, "input_bytes": 10, "output_bytes": 0,
    }
    import copy

    moved = [("fast", 1.0, 3.0), ("slow_same", 2.0, 4.0), ("slow_real", 2.0, 4.0)]
    small_walls = {"fast": 0.3, "slow_same": 5.0, "slow_real": 5.0}
    cost_prev = {"cost": {
        "slow_same": copy.deepcopy(cost_row),
        "slow_real": copy.deepcopy(cost_row),
    }}
    cost_cur = copy.deepcopy(cost_prev)
    cost_cur["cost"]["slow_real"]["tasks"] = 9  # a real plan change
    flags, notes = adjudicate_moves(
        moved, small_walls, {}, 1.0, cost_prev, cost_cur
    )
    assert [n for n, _ in flags] == ["slow_real"]
    assert "tasks 4→9" in flags[0][1]
    noted = {n: m for n, m in notes}
    assert "sub-second" in noted["fast"]
    assert "box noise by construction" in noted["slow_same"]
    # prev round's stored small wall exempts too (entry fast2 is
    # sub-second only in the PREVIOUS round's record)
    flags2, notes2 = adjudicate_moves(
        [("fast2", 1.0, 3.0)], {"fast2": 1.4}, {"fast2": 0.4}, 1.0, None, None
    )
    assert flags2 == [] and "sub-second" in notes2[0][1]
    # without sidecars and above min-sec, the move stays flagged
    flags3, _ = adjudicate_moves(
        [("slow", 2.0, 5.0)], {"slow": 4.0}, {}, 1.0, None, None
    )
    assert [n for n, _ in flags3] == ["slow"]


def test_sfratio_prev_file_errors_are_diagnostic(tmp_path):
    """Round 18 (ADVICE r17): a missing/malformed --prev exits 2 with
    the same diagnostic path as the positional inputs, not a traceback."""
    import json
    import subprocess
    import sys

    small = {"sf": 0.1, "value": 10.0, "queries": {"a": 1.5}}
    big = {"sf": 1.0, "value": 33.0, "queries": {"a": 4.5}}
    s, b = tmp_path / "s.json", tmp_path / "b.json"
    s.write_text(json.dumps(small))
    b.write_text(json.dumps(big))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [sys.executable, "scripts/sfratio.py", str(s), str(b),
         "--prev", str(tmp_path / "nope.json")],
        capture_output=True, text=True, cwd=repo,
    )
    assert r.returncode == 2 and "cannot read input JSON" in r.stdout
    assert "Traceback" not in r.stderr


def test_sfratio_table_and_diff(tmp_path):
    """Round 17 (VERDICT r16 item 5): the scale-sweep ratio protocol —
    ratio table, worst-entry, and cross-round ratio-move flagging."""
    import json
    import subprocess
    import sys

    from scripts.sfratio import ratios

    small = {"sf": 0.1, "value": 10.0, "queries": {"a": 1.0, "b": 2.0}}
    big = {"sf": 1.0, "value": 33.0, "queries": {"a": 3.0, "b": 16.0}}
    assert ratios(small, big) == {"a": 3.0, "b": 8.0}
    s, b, out = tmp_path / "s.json", tmp_path / "b.json", tmp_path / "r.json"
    s.write_text(json.dumps(small))
    b.write_text(json.dumps(big))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [sys.executable, "scripts/sfratio.py", str(s), str(b), "--out", str(out)],
        capture_output=True, text=True, cwd=repo,
    )
    assert r.returncode == 0, r.stdout + r.stderr
    assert "worst per-query ratio: 8.0" in r.stdout
    doc = json.loads(out.read_text())
    assert doc["total_ratio"] == 3.3 and doc["ratios"]["b"] == 8.0
    # next round: b's complexity moved 8x -> 20x — flags, exit 1
    big2 = {"sf": 1.0, "value": 43.0, "queries": {"a": 3.0, "b": 40.0}}
    b2 = tmp_path / "b2.json"
    b2.write_text(json.dumps(big2))
    r2 = subprocess.run(
        [sys.executable, "scripts/sfratio.py", str(s), str(b2), "--prev", str(out)],
        capture_output=True, text=True, cwd=repo,
    )
    assert r2.returncode == 1 and "b: 8.0× → 20.0×" in r2.stdout


def test_fresh_timings_records_null_for_a_hung_query(tmp_path, monkeypatch, capsys):
    """A query whose subprocess times out is recorded as null with a
    stderr note, and the sweep goes on to the next query."""
    import json
    import subprocess

    from scripts import fresh_timings

    def fake_run(cmd, **kw):
        if "'hangs'" in cmd[-1]:
            raise subprocess.TimeoutExpired(cmd, kw["timeout"])
        return subprocess.CompletedProcess(cmd, 0, "FRESH_SEC 1.5\n", "")

    monkeypatch.setattr(subprocess, "run", fake_run)
    out = tmp_path / "fresh.json"
    monkeypatch.setattr(
        sys, "argv", ["fresh_timings.py", "/sf", str(out), "hangs", "fine"]
    )
    fresh_timings.main()
    assert json.loads(out.read_text())["fresh_sec"] == {"hangs": None, "fine": 1.5}
    assert "hangs: timed out" in capsys.readouterr().err
