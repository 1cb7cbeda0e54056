"""Unit tests for the r4 hardening helpers: per-sf scratch isolation
and the single-partition-window plan detector. No Spark session
needed."""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0,
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
    ),
)

from plan_audit import (  # noqa: E402
    loop_join_nodes,
    single_partition_window,
    stale_sections,
)

from convert_parquet_to_csv_spark.plans.scratch import (  # noqa: E402
    scratch_dir,
    scratch_table,
)


def test_scratch_dir_varies_with_sf_dir():
    a = scratch_dir("/data/sf0.01", "codec_rt")
    b = scratch_dir("/data/sf0.1", "codec_rt")
    assert a != b
    assert "codec_rt" in a and "codec_rt" in b


def test_scratch_dir_stable_for_same_inputs():
    assert scratch_dir("/data/sf0.01", "x") == scratch_dir(
        "/data/sf0.01", "x"
    )


def test_scratch_token_isolates(monkeypatch):
    base = scratch_dir("/data/sf0.01", "x")
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_TOKEN", "lane-b")
    assert scratch_dir("/data/sf0.01", "x") != base


def test_scratch_table_is_identifier():
    t = scratch_table("/data/sf0.01", "cptc_gate_li_bucketed")
    assert t.replace("_", "").isalnum()
    assert t.startswith("cptc_gate_li_bucketed_")


def test_detects_single_partition_window():
    plan = """AdaptiveSparkPlan isFinalPlan=true
+- Window [row_number() windowspecdefinition(x ASC NULLS FIRST)]
   +- Sort [x ASC NULLS FIRST], false, 0
      +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=1]
         +- FileScan parquet [x]"""
    assert single_partition_window(plan)


def test_partitioned_window_not_flagged():
    plan = """AdaptiveSparkPlan isFinalPlan=true
+- Window [sum(v) windowspecdefinition(k, ts ASC NULLS FIRST)]
   +- Sort [k ASC NULLS FIRST, ts ASC NULLS FIRST], false, 0
      +- Exchange hashpartitioning(k, 32), ENSURE_REQUIREMENTS, [plan_id=2]
         +- FileScan parquet [k,ts,v]"""
    assert not single_partition_window(plan)


def test_unrelated_single_partition_exchange_not_flagged():
    # a single-partition exchange elsewhere (e.g. under a final
    # coalesce) must not implicate an unrelated window
    plan = """+- Window [lag(v) windowspecdefinition(k, ts ASC)]
   +- Sort [k ASC, ts ASC], false, 0
      +- Exchange hashpartitioning(k, 32), [plan_id=3]
         +- HashAggregate(keys=[k], functions=[sum(v)])
            +- Exchange SinglePartition, [plan_id=4]
               +- FileScan parquet [k,ts,v]"""
    assert not single_partition_window(plan)


def test_aqe_wrapped_single_partition_window_flagged():
    # ADVICE r4: AQEShuffleRead/ShuffleQueryStage between Sort and the
    # Exchange pushed the SinglePartition line past the old fixed
    # 3-line lookahead — the audit silently failed open on exactly
    # the plans AQE produces.
    plan = """AdaptiveSparkPlan isFinalPlan=true
+- Window [ntile(10) windowspecdefinition(v ASC NULLS FIRST)]
   +- Sort [v ASC NULLS FIRST], false, 0
      +- AQEShuffleRead coalesced
         +- ShuffleQueryStage 1
            +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=9]
               +- FileScan parquet [v]"""
    assert single_partition_window(plan)


def test_stabilize_plan_line_normalizes_volatile_tokens():
    """PLANS.md churn fix (VERDICT r9 item 7): expression ids,
    plan_id counters, tmp paths, and hash-set-ordered aggregate key
    lists all normalize to run-independent text, so a no-op audit
    re-run is a zero diff."""
    from plan_audit import stabilize_plan_line

    a = stabilize_plan_line(
        "HashAggregate(keys=[l_returnflag#42, knownfloatingpointnorma"
        "lized(normalizenanandzero(l_quantity#38)) AS l_quantity#38, "
        "gid#5], functions=[count(1)]), [plan_id=407]"
    )
    b = stabilize_plan_line(
        "HashAggregate(keys=[gid#9, l_returnflag#813, knownfloatingpo"
        "intnormalized(normalizenanandzero(l_quantity#90)) AS "
        "l_quantity#90], functions=[count(1)]), [plan_id=99]"
    )
    assert a == b
    # hashpartitioning: columns sort, npartitions stays last
    h = stabilize_plan_line(
        "Exchange hashpartitioning(b#2, a#1, 8), ENSURE_REQUIREMENTS"
    )
    assert "hashpartitioning(a#_, b#_, 8)" in h
    # tmp fixture paths collapse
    p = stabilize_plan_line("Location: InMemoryFileIndex[file:/tmp/cptc_xyz/p0]")
    assert "/tmp/_" in p
    # unbalanced (pre-truncated) input passes through without error
    t = stabilize_plan_line("keys=[a#1, trunc(b#2")
    assert t.startswith("keys=[")
    # r11: subexpr-elimination aliases and HOF lambda variables are
    # global counters too
    c1 = stabilize_plan_line(
        "count(if (NOT _common_expr_16#3) null else _common_expr_16#3)"
        " lambdafunction(NOT (lambda x_708#9 = ), lambda x_708#9)"
    )
    c2 = stabilize_plan_line(
        "count(if (NOT _common_expr_22#4) null else _common_expr_22#4)"
        " lambdafunction(NOT (lambda x_739#2 = ), lambda x_739#2)"
    )
    assert c1 == c2



def test_loop_join_nodes_detected_and_clean_plan_empty():
    flagged = """+- HashAggregate(keys=[], functions=[sum(v)])
   +- BroadcastNestedLoopJoin BuildRight, Cross
      :- FileScan parquet [v]
      +- BroadcastExchange IdentityBroadcastMode
         +- HashAggregate(keys=[], functions=[count(1)])"""
    nodes = loop_join_nodes(flagged)
    assert len(nodes) == 1 and "BroadcastNestedLoopJoin" in nodes[0]

    cartesian = "+- CartesianProduct (a#1L < b#2L)\n   +- FileScan parquet"
    assert loop_join_nodes(cartesian)

    clean = """+- SortMergeJoin [k#1], [k#2], Inner
   +- Exchange hashpartitioning(k#1, 32)
      +- FileScan parquet [k]"""
    assert loop_join_nodes(clean) == []


def test_oracle_edited_queries_hash_match_duckdb(spark):
    """Review r8: the advice fixes edited the DUCKDB ORACLE TEXT of
    four queries (mixture double-tree, _XS_REMOVAL tokenizer, URL
    host port clause x2) in the same round whose gate rotation moved
    them past the 50-slot cut — so no driver row would exercise the
    edited SQL until r9. Replay the driver's compare (same canon /
    frame_signature code path as tools/oracle_check) inline at
    sf0.001, making the suite itself gate edited oracle text every
    round."""
    import duckdb

    from oracle_check import (  # tools/ is on sys.path above
        TABLES,
        canon,
        frame_signature,
    )

    from convert_parquet_to_csv_spark.plans import registry

    registry.load_all()
    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )
    for name in (
        # oracle-text-edited this round (no driver row until r9)
        "source_mixture_epochs",
        "dedup_exact_substring_removal",
        "dedup_url_canonical",
        "url_domain_census",
        # displaced from the r8 gate prefix by the wave-2 day-one
        # registrations — their r2 driver rows stay the newest until
        # r9, so the suite carries the oracle compare meanwhile
        "q17_small_quantity_revenue",
        "q21_suppliers_waiting",
        "q22_sales_opportunity",
        "q16_parts_supplier_relationship",
        "q4_order_priority",
        "q7_volume_shipping",
        "q8_market_share",
        # displaced by the wave-4 day-one registrations
        "q15_top_supplier",
        "q13_customer_distribution",
    ):
        spdf = registry.QUERIES[name](spark, sf).toPandas()
        spark.catalog.clearCache()
        dpdf = con.sql(registry.ORACLES[name]).df()
        assert len(spdf) == len(dpdf), name
        assert sorted(spdf.columns) == sorted(dpdf.columns), name
        assert frame_signature(canon(spdf)) == frame_signature(
            canon(dpdf)
        ), name


def test_stale_sections_flags_changed_missing_and_orphaned():
    committed = "# H\n\n## a\n\nx\n\n## b\n\ny\n\n## gone\n\nz\n"
    fresh = "# H\n\n## a\n\nx\n\n## b\n\nY\n\n## new\n\nw\n"
    names = ["a", "b", "new"]
    assert stale_sections(committed, committed, ["a", "b"], True) == []
    assert stale_sections(committed, fresh, names, False) == ["b", "new"]
    assert stale_sections(committed, fresh, names, True) == [
        "b", "new", "gone",
    ]


def test_plans_md_sections_match_fresh_regen():
    """PLANS.md freshness canary: regenerates a sample of sections
    through ``tools/plan_audit.py --check --only`` (a subprocess — the
    audit pins its own session confs, which the plan text depends on)
    and requires each to equal the committed section byte for byte.
    The sample: the flagship conversion, the two exact-substring
    decontamination kernels, the two MinHash pipelines, whose
    builders write their plans as SQL text, and two token-window
    kernels (within-doc repeats, maximal extents). Full-file freshness
    is ``python tools/plan_audit.py --check``."""
    import subprocess

    names = [
        "convert_roundtrip",
        "decontaminate_exact_substr",
        "decontaminate_exact_substr_incremental",
        "dedup_minhash",
        "dedup_minhash_incremental",
        "dedup_within_doc_repeats",
        "dedup_maximal_extents",
    ]
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    run = subprocess.run(
        [
            sys.executable,
            os.path.join(repo, "tools", "plan_audit.py"),
            "--check",
            "--only",
            ",".join(names),
        ],
        cwd=repo,
        timeout=540,
        capture_output=True,
        text=True,
    )
    assert run.returncode == 0, (
        "PLANS.md sections are STALE — regenerate PLANS.md in the same "
        "commit as the kernel change (python tools/plan_audit.py):\n"
        + run.stdout[-2000:]
        + run.stderr[-2000:]
    )
    assert f"PLANS.md: {len(names)} sections fresh" in run.stdout
