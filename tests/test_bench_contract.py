"""bench.py contract: the protocol table emits exactly the committed key
set, and every query it times is registered or one of the raw-operator
plans the bench times in place of a registered property gate."""

from __future__ import annotations

import importlib
import json
import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)


@pytest.fixture(scope="module")
def bench():
    return importlib.import_module("bench")


def _queries(bench):
    return [
        action
        for entry in bench.TABLE
        for action in entry.actions.values()
        if isinstance(action, bench.Query)
    ]


def _raw_plans(bench):
    return {q.name: q.plan for q in _queries(bench) if q.plan is not None}


def test_table_queries_are_registered(bench):
    """A name missing from the registry would fail its key at run time,
    and a duplicate key would overwrite another; every raw plan stands
    in for a registered name."""
    from convert_parquet_to_csv_spark.plans import registry

    registry.load_all()
    unknown = [q.name for q in _queries(bench) if q.name not in registry.QUERIES]
    assert unknown == []
    keys = [key for entry in bench.TABLE for key in entry.actions]
    assert len(keys) == len(set(keys))
    assert set(_raw_plans(bench).values()) == {
        bench._topk_lsh_plan,
        bench._topk_ivf_plan,
        bench._topk_pq_plan,
        bench._dsir_plan,
        bench._winnow_plan,
    }


def _keys(bench):
    return {key for entry in bench.TABLE for key in entry.actions}


def test_override_names_are_benchmarked_registry_queries(bench):
    """Every raw-plan override must be both a registered query (the
    override keeps the bench number like-for-like with the raw operator
    while the registry entry is a property gate) and a key the table
    times (otherwise the override is dead weight that would mask a
    future rename)."""
    from convert_parquet_to_csv_spark.plans import registry

    registry.load_all()
    keys = _keys(bench)
    for name in _raw_plans(bench):
        assert name in registry.QUERIES, name
        assert name in keys, name


def test_noise_floor_names_are_benchmarked(bench):
    """The noise floor is the interleaved entry of several registered
    queries with a spread key; each of its keys is timed under its own
    registered name."""
    from convert_parquet_to_csv_spark.plans import registry

    registry.load_all()
    floors = [
        entry for entry in bench.TABLE
        if entry.spread and len(entry.actions) > 1
        and all(isinstance(a, bench.Query) for a in entry.actions.values())
    ]
    assert len(floors) == 1
    assert len(floors[0].actions) > 5
    for key, action in floors[0].actions.items():
        assert key == action.name, key
        assert key in registry.QUERIES, key


def test_dual_methodology_names_are_benchmarked(bench):
    """A `<name>_warm` key whose `<name>` is not also timed would be a
    warm number with no cold one to read it against."""
    keys = _keys(bench)
    warm = [key for key in keys if key.endswith("_warm")]
    assert warm
    for key in warm:
        assert key[: -len("_warm")] in keys, key


def test_overrides_build_raw_operator_plans(bench, spark, sf_small):
    """Each override must produce its raw operator's row shape — NOT
    the registry's property-gate single-row shape (similarity top-k)
    or md5 oracle-replay flavor (dsir/winnow) — so BENCH trend numbers
    keep measuring the production operator."""
    expected = {
        "similarity_topk_lsh": {"query_id", "neighbor_id", "similarity"},
        "similarity_topk_ivf": {"query_id", "neighbor_id", "similarity"},
        "similarity_topk_pq": {"query_id", "neighbor_id", "similarity"},
        "dsir_importance_weights": {"doc_id", "score_micro"},
        "dedup_winnow_fingerprints": {"doc_id", "pos", "fp"},
    }
    overrides = _raw_plans(bench)
    assert set(overrides) == set(expected)
    for name, fn in overrides.items():
        df = fn(spark, sf_small)
        assert set(df.columns) == expected[name], name
        rows = df.count()
        assert rows > 0, name


def test_stubbed_run_emits_committed_key_sets(bench):
    """The whole table, every action stubbed and no Spark session: the
    full line carries BENCH_LOCAL_r13.json's top-level, `queries` (89)
    and `headline` (13) keys, and the compact line its fixed keys with
    the headline block as its `queries`."""

    class _Catalog:
        @staticmethod
        def clearCache():
            pass

    class _Session:
        catalog = _Catalog()

    def stub(spark):
        return lambda: sum(range(100))

    table = [
        entry._replace(actions={key: stub for key in entry.actions})
        for entry in bench.TABLE
    ]
    queries, samples = bench._run_table(_Session(), table)
    full, compact = bench._records(queries, samples, 10_000_000, 500_000)
    with open(os.path.join(REPO_ROOT, "BENCH_LOCAL_r13.json")) as f:
        committed = json.load(f)
    assert set(full) == set(committed)
    assert set(full["queries"]) == set(committed["queries"])
    assert len(full["queries"]) == 89
    assert set(full["headline"]) == set(committed["headline"])
    assert len(full["headline"]) == 13
    assert list(compact) == [
        "metric", "value", "unit", "sf", "rows_10m", "queries", "headline",
        "note",
    ]
    assert compact["queries"] == compact["headline"] == full["headline"]
    assert compact["value"] == full["value"] == full["queries"]["convert_10m_rows"]


def test_passes_interleave_clear_and_drop_a_failed_key(bench, capsys):
    """One pass runs every key once, `clear` runs before every run, the
    untimed passes leave no sample, and a key whose action raises is
    reported and dropped without stopping the others."""
    calls = []
    clears = []

    def flaky():
        calls.append("b")
        if calls.count("b") == 2:
            raise RuntimeError("boom")

    got = bench._passes(
        {"a": lambda: calls.append("a"), "b": flaky},
        warmup=1,
        timed=2,
        clear=lambda: clears.append(1),
    )
    assert calls == ["a", "b", "a", "b", "a"]
    assert len(clears) == 5
    assert list(got) == ["a"] and len(got["a"]) == 2
    assert "b failed: boom" in capsys.readouterr().err

# --------------------------------------------------------------------------
# bench_compare drift anchor (VERDICT r7 item 1)
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def bench_compare():
    return importlib.import_module("tools.bench_compare")


def _cap(bc, old_q, new_q, **kw):
    import io

    buf = io.StringIO()
    flagged = bc.compare(
        {"queries": old_q, "value": None},
        {"queries": new_q, "value": None},
        out=buf,
        **kw,
    )
    return flagged, buf.getvalue()


def test_anchor_normalizes_uniform_vm_drift(bench_compare):
    """A uniform slowdown that tracks the same-run DuckDB anchor is
    VM drift, not code — zero flags after normalization (the r6→r7
    lesson: median +14% across 35 untouched queries with the anchor
    itself +18%)."""
    a = bench_compare.ANCHOR_DEFAULT
    old = {a: 4.0, "q_x": 1.0, "q_y": 2.0}
    new = {a: 5.0, "q_x": 1.25, "q_y": 2.5}  # everything x1.25
    flagged, txt = _cap(bench_compare, old, new, tol=0.1)
    assert flagged == []
    assert "x1.250" in txt
    # without the anchor the same numbers would all flag
    flagged_raw, _ = _cap(bench_compare, old, new, tol=0.1, anchor=None)
    assert set(flagged_raw) == {"q_x", "q_y"}


def test_anchor_still_flags_real_regressions(bench_compare):
    """A query that slowed MORE than the VM did stays flagged."""
    a = bench_compare.ANCHOR_DEFAULT
    old = {a: 4.0, "q_x": 1.0}
    new = {a: 4.4, "q_x": 2.0}  # VM x1.1, query x2
    flagged, _ = _cap(bench_compare, old, new, tol=0.25)
    assert flagged == ["q_x"]


def test_two_anchor_cpu_drift_explains_cpu_bound_key(bench_compare):
    """r10 two-anchor protocol (VERDICT r9 item 1): a CPU-bound key
    that doubled on a box whose CPU anchor also doubled is VM drift
    — the IO anchor alone (flat) would have flagged it. And the
    disagreement between the anchors prints the PROFILE SHIFT
    banner."""
    a_io = bench_compare.ANCHOR_DEFAULT
    a_cpu = bench_compare.ANCHOR_CPU
    old = {a_io: 4.0, a_cpu: 1.0, "q_x": 1.0}
    new = {a_io: 4.0, a_cpu: 2.0, "q_x": 2.0}
    flagged, txt = _cap(bench_compare, old, new, tol=0.25)
    assert flagged == []
    assert "PROFILE SHIFT" in txt
    assert "CPU-drift explained" in txt


def test_two_anchor_still_flags_real_regressions(bench_compare):
    """Both anchors flat + query doubled -> neither profile explains
    it -> flagged. The second anchor must not widen the net."""
    a_io = bench_compare.ANCHOR_DEFAULT
    a_cpu = bench_compare.ANCHOR_CPU
    old = {a_io: 4.0, a_cpu: 1.0, "q_x": 1.0}
    new = {a_io: 4.2, a_cpu: 1.05, "q_x": 2.0}
    flagged, txt = _cap(bench_compare, old, new, tol=0.25)
    assert flagged == ["q_x"]
    assert "PROFILE SHIFT" not in txt  # x1.05 vs x1.05 agree


def test_cpu_anchor_absent_falls_back_to_single_anchor(bench_compare):
    """Pre-r10 records carry no CPU anchor — behavior must reduce to
    the r9 single-anchor protocol exactly (no adjcpu column)."""
    a_io = bench_compare.ANCHOR_DEFAULT
    old = {a_io: 4.0, "q_x": 1.0}
    new = {a_io: 5.0, "q_x": 1.25}
    flagged, txt = _cap(bench_compare, old, new, tol=0.1)
    assert flagged == []
    assert "adjcpu" not in txt


def test_spread_key_marks_delta_as_noise(bench_compare):
    """An adjusted delta below the recorded `_spread_pct` dispersion
    is noise by the r6 noise-floor doctrine — reported, not flagged."""
    old = {"q_x": 1.0, "q_x_spread_pct": 50.0}
    new = {"q_x": 1.4, "q_x_spread_pct": 20.0}
    flagged, txt = _cap(bench_compare, old, new, tol=0.25, anchor=None)
    assert flagged == []
    assert "noise" in txt
    # ...but a delta past both the tolerance and the spread flags
    new2 = {"q_x": 1.8, "q_x_spread_pct": 20.0}
    flagged2, _ = _cap(bench_compare, old, new2, tol=0.25, anchor=None)
    assert flagged2 == ["q_x"]


def test_tail_recovery_parses_driver_records(bench_compare, tmp_path):
    """Pre-r8 driver BENCH records (parsed: null, 2000-char tail of
    one huge JSON line) must yield per-query numbers by regex."""
    import json

    rec = {
        "n": 7,
        "rc": 0,
        "cpus": 32,
        "sf": 0.1,
        "tail": '_warm": 1.3388, "q6_revenue_filter": 0.3164, '
        '"q6_revenue_filter_spread_pct": 16.6}, "headline": '
        '{"convert_10m_rows": 2.12}}',
        "parsed": None,
    }
    p = tmp_path / "BENCH_rX.json"
    p.write_text(json.dumps(rec, indent=1))
    got = bench_compare.load(str(p))
    assert got["queries"]["q6_revenue_filter"] == 0.3164
    assert got["queries"]["convert_10m_rows"] == 2.12
    # meta fields must NOT masquerade as query timings
    assert "cpus" not in got["queries"]


def test_final_summary_line_parses_alone(bench_compare, tmp_path):
    """The r8 bench contract: stdout's LAST line is a complete,
    small JSON object (metric/value/unit/sf/headline) so the
    driver's tail always ends in parseable JSON — bench_compare
    must prefer it when the big line is truncated away."""
    big = '{"metric": "parquet_to_csv_10m_rows_job_sec", "value": 2.0'
    small = (
        '{"metric": "parquet_to_csv_10m_rows_job_sec", "value": 2.0, '
        '"unit": "sec", "sf": 0.1, '
        '"headline": {"convert_10m_rows": 2.0, '
        '"baseline_duckdb_convert_10m": 4.0}}'
    )
    p = tmp_path / "stdout.txt"
    p.write_text(big[:40] + "\n" + small + "\n")
    got = bench_compare.load(str(p))
    assert got["queries"]["baseline_duckdb_convert_10m"] == 4.0
    assert got["value"] == 2.0


def test_local_sibling_preferred_over_driver_tail(bench_compare, tmp_path):
    """r9 bench contract (VERDICT r8 item 1b): loading a driver
    BENCH_r{N}.json must use the committed complete
    BENCH_LOCAL_r{N}.json sibling ALONE (headline value falls back)
    — tail fragments must NOT merge in, or truncation-mangled
    fragment keys (the r8 'opk_bruteforce' artifact) become phantom
    queries in cross-round compares (review r9)."""
    import json

    # driver record: tail-mangled key (the r8 `opk_bruteforce`
    # artifact) + one key the local file lacks
    driver = {
        "n": 7,
        "rc": 0,
        "tail": '"opk_bruteforce": 1.0, "q_only_in_tail": 3.0, '
        '"q_shared": 9.99}}',
        "parsed": None,
    }
    local = {
        "value": 2.0,
        "queries": {
            "similarity_topk_bruteforce": 1.0,
            "q_shared": 1.23,
        },
        "headline": {"convert_10m_rows": 2.0},
    }
    (tmp_path / "BENCH_r09.json").write_text(json.dumps(driver, indent=1))
    (tmp_path / "BENCH_LOCAL_r9.json").write_text(json.dumps(local))
    got = bench_compare.load(str(tmp_path / "BENCH_r09.json"))
    # complete local map ONLY; no tail fragments, no phantom keys
    assert got["queries"]["q_shared"] == 1.23
    assert got["queries"]["similarity_topk_bruteforce"] == 1.0
    assert "opk_bruteforce" not in got["queries"]
    assert "q_only_in_tail" not in got["queries"]
    assert got["value"] == 2.0
    # no sibling -> plain driver-record behavior, unchanged
    got2 = bench_compare.load_one(str(tmp_path / "BENCH_r09.json"))
    assert got2["queries"]["q_shared"] == 9.99


def test_local_record_driver_runs_cannot_clobber_committed_name(
    bench, monkeypatch, tmp_path
):
    """VERDICT r10 item 5b: the driver's end-of-round bench re-run
    overwrote the builder's committed quiet-box BENCH_LOCAL record
    (230%-spread degraded-box artifact over the 40.7% record). The
    committed filename is now opt-in via SPARK_GRAFT_BENCH_COMMIT=1;
    any other run (the driver's) lands on a distinct, gitignored
    ``.driver.json`` name."""
    monkeypatch.setattr(bench, "REPO_DIR", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "11")
    monkeypatch.delenv("SPARK_GRAFT_BENCH_COMMIT", raising=False)
    p = bench._write_local_record({"k": 1})
    assert p.endswith("BENCH_LOCAL_r11.driver.json")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_COMMIT", "1")
    p = bench._write_local_record({"k": 1})
    assert p.endswith("BENCH_LOCAL_r11.json")
    # the driver name must be gitignored so `git add -A` can't pick it up
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo_root, ".gitignore")) as f:
        assert "BENCH_LOCAL_r*.driver.json" in f.read()
