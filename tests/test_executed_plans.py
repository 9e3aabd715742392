"""EXECUTED-plan assertions: runtime ReuseExchange reliance, pinned.

Several operators deliberately reference one subtree from two plan
branches and rely on runtime exchange reuse to run it once (pack's
totals-from-cumsum, DSIR's histogram-from-db rollup). That reliance is
canonicalization-fragile: an innocently different filter or one extra
projected column on one branch makes the subtrees canonically unequal
and SILENTLY doubles the heavy pass — the r12 round shipped exactly
that regression on the DSIR path (3 executed corpus tokenizes where
the static plan was read as 1; found and fixed in r13). The static
`explain` output cannot see this — reuse is decided at runtime — so
these tests EXECUTE the query at sf0.001 and assert on the final
adaptive plan: FileScan count per table, and ReusedExchange presence.
"""

from __future__ import annotations

import re

import pytest

from irstats2_spark import catalog

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def queries():
    return catalog.queries()


def executed_final_plan(df) -> str:
    """Run the plan and return ONLY the final adaptive section (the
    toString of an executed AdaptiveSparkPlan appends the initial plan,
    which double-counts every node)."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def scans_by_table(final_plan: str) -> dict[str, int]:
    out: dict[str, int] = {}
    for m in re.finditer(
        r"FileScan parquet .*?\[file:[^\]]*/(\w+)\.parquet", final_plan
    ):
        out[m.group(1)] = out.get(m.group(1), 0) + 1
    return out


def n_reused(final_plan: str) -> int:
    return len(re.findall(r"ReusedExchange", final_plan))


def test_pack_sequences_single_executed_scan(spark, queries):
    """pack_sequences derives the bucket-offset table from the cumsum
    branch itself; the two join branches must share ONE executed scan
    (the size projection is a full tokenize here) via ReuseExchange."""
    for name in ("pack_sequences_offsets", "pack_training_sequences"):
        final = executed_final_plan(queries[name](spark, SF))
        assert scans_by_table(final) == {"documents": 1}, (name, final)
        assert n_reused(final) >= 1, (name, final)


def test_dsir_single_executed_tokenize_per_side(spark, queries):
    """dsir_logweights: ONE corpus text scan (db exchange reused by the
    histogram rollup), ONE target text scan (totals ride the histogram
    join, not standalone branches), plus the id-only spine scan. The
    r12 shape executed 3 corpus + 2 target tokenizes."""
    final = executed_final_plan(queries["select_dsir_weights"](spark, SF))
    # 3 documents scans total: tokenize, target tokenize (source
    # filter), id-only spine. The expensive property is that only TWO
    # of them read `text` — assert via the scan count bound AND reuse.
    scans = scans_by_table(final)
    assert scans == {"documents": 3}, (scans, final)
    text_scans = len(
        re.findall(r"FileScan parquet \[[^\]]*text#[^\]]*\]", final)
    )
    assert text_scans == 2, (text_scans, final)
    assert n_reused(final) >= 1, final


def test_classifier_votes_three_tokenize_inputs(spark, queries):
    """classifier_vote_scores: exactly one tokenize per distinct input
    (corpus, pos seed, neg seed); the vocab totals branch must REUSE
    the vocab exchange, not re-derive it (the DSIR failure mode)."""
    final = executed_final_plan(queries["text_classifier_votes"](spark, SF))
    assert scans_by_table(final) == {"documents": 3}, final
    assert n_reused(final) >= 1, final


def test_covisit_lift_fanout_does_not_multiply_scans(spark, queries):
    """events_covisit_lift fans one session table out to per-type and
    pair-lift branches; runtime reuse must keep the executed events
    scans at the two deliberately different column prunings."""
    final = executed_final_plan(queries["events_covisit_lift"](spark, SF))
    assert scans_by_table(final) == {"events": 2}, final
    assert n_reused(final) >= 2, final


def test_robots_filter_one_codegen_rlike_per_list_no_exchange(spark, tmp_path):
    """robots_filter over a parquet scan stays a single whole-stage
    codegen'd Filter: no Exchange, and one RLIKE per non-empty pattern
    list, however many fragments the list holds."""
    from irstats2_spark.operators.filters import robots_filter

    path = str(tmp_path / "events")
    spark.createDataFrame(
        [("Mozilla/5.0 Firefox/120", "8.8.8.8"), ("Googlebot/2.1", "8.8.8.8"),
         ("Mozilla/5.0 Firefox/120", "100.24.3.4"), (None, None)],
        "requester_user_agent string, requester_id string",
    ).write.parquet(path)
    df = spark.read.parquet(path)
    for kwargs, n_rlike, n_kept in (
        ({}, 2, 2),
        ({"ip_prefixes": []}, 1, 3),
        ({"ua_patterns": [], "ip_prefixes": []}, 0, 4),
    ):
        out = robots_filter(df, **kwargs)
        optimized = out._jdf.queryExecution().optimizedPlan().toString()
        assert optimized.count("RLIKE(") == n_rlike, (kwargs, optimized)
        final = executed_final_plan(out)
        assert "Exchange" not in final, (kwargs, final)
        if n_rlike:
            assert re.search(r"\*\(\d+\) Filter", final), (kwargs, final)
        assert out.count() == n_kept, kwargs
