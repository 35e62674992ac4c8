"""bench.py's driver contract: the FINAL stdout line must fit the
driver's bounded tail capture (~2000 chars; round 3's full per-query
line overflowed it and the driver recorded parsed=null), and the full
map must land in BENCH_DETAIL.json instead.

These tests exercise the formatting logic without running Spark.
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench

DRIVER_TAIL_CHARS = 2000


def test_compact_line_fits_tail_window():
    # worst case: every headline query regresses — the compact line
    # carries only the regression NAMES, never the per-query map
    times = {n: 1.234 for n in bench.HEADLINE}
    line = json.dumps(
        {
            "metric": "headline_queries_total",
            "value": round(sum(times.values()), 3),
            "unit": "sec",
            "sf": 0.1,
            "n_queries": len(times),
            "regressions": sorted(bench.HEADLINE)[:10],
            "agg_vs_prev": 1.234,
            "agg_flagged": True,
            "detail": "BENCH_DETAIL.json",
        }
    )
    assert len(line) < DRIVER_TAIL_CHARS // 2, len(line)


def test_prior_round_times_prefers_snapshot():
    here = os.path.dirname(bench.__file__)
    prev, prev_sf = bench.prior_times(
        [os.path.join(here, "BENCH_PREV.json"), *bench.round_files("BENCH_r")]
    )
    # BENCH_PREV.json is committed; every headline query must have a
    # prior time so the vs_prev gate covers the full set
    assert prev, "BENCH_PREV.json missing or empty"
    assert prev_sf == 0.1
    missing = [n for n in bench.HEADLINE if n not in prev]
    # round-4+ additions to HEADLINE legitimately have no prior time
    with open(
        os.path.join(os.path.dirname(bench.__file__), "BENCH_PREV.json")
    ) as f:
        snap = json.load(f)["queries"]
    for n in snap:
        assert prev[n] == snap[n]
    assert all(t > 0 for t in prev.values())
    # a query may lack a prior time ONLY because the committed snapshot
    # (the previous round's run) predates it — i.e. it is absent from
    # the snapshot itself, not dropped by the loader. A fraction cap
    # here would just penalize adding queries mid-round.
    assert missing == [n for n in bench.HEADLINE if n not in snap]
    # and the carried-over core must still be fully covered
    core = [n for n in bench.HEADLINE[:30] if n in snap]
    assert len(core) >= 20


def test_prior_full_times_never_self_compares():
    """The full-sweep prior must exclude the in-flight round's own
    committed sweep (and any later one): a re-run inside round N
    compares against round N-1, never against its own earlier output
    (VERDICT r7: intra-round self-comparison at 43cd40b)."""
    import glob
    import re

    here = os.path.dirname(bench.__file__)
    committed = sorted(
        int(re.search(r"BENCH_FULL_r(\d+)\.json$", p).group(1))
        for p in glob.glob(os.path.join(here, "BENCH_FULL_r*.json"))
    )
    assert committed, "no committed full sweeps to test against"
    newest = committed[-1]
    # unconstrained: newest wins
    prev_any, _ = bench.prior_times(bench.round_files("BENCH_FULL_r"))
    with open(
        os.path.join(here, f"BENCH_FULL_r{newest:02d}.json")
    ) as f:
        newest_q = json.load(f)["queries"]
    assert prev_any == newest_q
    # in-flight round == newest committed round: must fall back to the
    # one before it (or empty when there is no earlier sweep)
    prev_excl, _ = bench.prior_times(
        bench.round_files("BENCH_FULL_r", before=newest)
    )
    assert prev_excl != newest_q or len(committed) == 1
    if len(committed) >= 2:
        with open(
            os.path.join(
                here, f"BENCH_FULL_r{committed[-2]:02d}.json"
            )
        ) as f:
            older_q = json.load(f)["queries"]
        assert prev_excl == older_q
    # excluding everything yields the empty prior, not a crash
    assert bench.prior_times(
        bench.round_files("BENCH_FULL_r", before=committed[0])
    ) == ({}, 0.1)


def test_absorbed_prior_sums_components():
    # the welch case: the absorber's honest prior is the SUM of its own
    # prior plus its absorbed components' priors
    prev = {
        "profile_welch_ttest": 0.306,
        "profile_mann_whitney": 0.8,
        "profile_anova_oneway": 0.5,
        "unrelated": 1.0,
    }
    assert bench.absorbed_prior(prev, "profile_welch_ttest") == 1.606
    # non-absorber: just its own prior
    assert bench.absorbed_prior(prev, "unrelated") == 1.0
    # nothing prior at all -> None (no flag possible)
    assert bench.absorbed_prior(prev, "brand_new_query") is None
    # components aged out of the snapshot: falls back to own prior
    assert bench.absorbed_prior(
        {"profile_welch_ttest": 1.7}, "profile_welch_ttest"
    ) == 1.7


def test_absorption_map_keys_are_registered():
    # every absorber must be a real registered query; component names
    # are historical (may no longer be registered) by design
    import __spark_entry__ as e

    names = set(e.queries())
    for absorber in bench.ABSORPTIONS:
        assert absorber in names, absorber


def test_absorption_aware_flags_suppress_explained_merges():
    # a 5.65x apparent jump that is 0.95x of the component sum must NOT
    # flag; a real >2x jump still must
    prev = {"w": 0.306, "m": 0.8, "a": 0.5, "r": 1.0}
    times = {"w": 1.73, "r": 2.5}
    absorptions = {"w": ["m", "a"]}
    orig = bench.ABSORPTIONS
    bench.ABSORPTIONS = absorptions
    try:
        flagged = [
            n
            for n, t in times.items()
            if (p := bench.absorbed_prior(prev, n)) is not None
            and t / p > bench.REGRESSION_RATIO
        ]
    finally:
        bench.ABSORPTIONS = orig
    assert flagged == ["r"]


def test_regression_gate_math():
    # ratio strictly-greater-than gate, sorted names
    prev = {"a": 1.0, "b": 2.0, "z": 0.5}
    times = {"a": 2.0, "b": 4.1, "z": 0.4, "new": 9.9}
    vs_prev = {
        n: round(t / prev[n], 3) for n, t in times.items() if n in prev
    }
    regs = sorted(n for n, r in vs_prev.items() if r > bench.REGRESSION_RATIO)
    assert regs == ["b"]


def test_flag_needs_ratio_and_absolute_movement():
    """The regression flag fires only when BOTH the >2x ratio and the
    absolute-delta floor are exceeded: sub-second queries doubling
    under fixed per-job overhead jitter carry no plan signal, while a
    big query doubling always flags."""
    assert bench.REGRESSION_RATIO == 2.0
    assert bench.FLAG_ABS_FLOOR_SEC == 1.0
    prev = {"tiny": 0.5, "big": 5.0}
    # mimic the gate arithmetic used by both flag computations
    def fires(name, t):
        p = bench.absorbed_prior(prev, name)
        return (
            t / p > bench.REGRESSION_RATIO
            and t - p > bench.FLAG_ABS_FLOOR_SEC
        )
    assert not fires("tiny", 1.1)   # 2.2x but only +0.6s: jitter
    assert fires("tiny", 1.6)       # 3.2x AND +1.1s: real
    assert fires("big", 11.0)       # 2.2x, +6s: real
    assert not fires("big", 9.9)    # under the ratio


def test_hard_ratio_bypasses_absolute_floor():
    """ADVICE r8: a sub-second query can never clear the 1s absolute
    floor, so extreme ratios (>4x) must flag anyway — while moderate
    sub-second ratios stay suppressed as jitter."""
    assert bench.FLAG_HARD_RATIO == 4.0
    prev = {"tiny": 0.2, "mid": 0.4, "big": 5.0}
    # 3.25x, +0.9s: still suppressed (the advisor's worked example
    # sits between the floor and the hard ratio by design)
    assert bench.flag_names({"mid": 1.3}, prev) == []
    # 4.5x with only +0.7s of movement: UNDER the absolute floor but
    # over the hard ratio — must flag (the bypass this test pins)
    assert bench.flag_names({"tiny": 0.9}, prev) == ["tiny"]
    # the classic both-gates path is unchanged
    assert bench.flag_names({"big": 11.0}, prev) == ["big"]
    assert bench.flag_names({"big": 9.9}, prev) == []


def test_publish_retry_set_extends_to_1_5x():
    """VERDICT r8 #5: any query whose published vs_prev would exceed
    1.5x joins the end-of-run decorrelated retry set even when it is
    not a regression flag."""
    assert bench.PUBLISH_RETRY_RATIO == 1.5
    prev = {"a": 4.0, "b": 4.0, "c": 4.0}
    times = {"a": 6.4, "b": 5.9, "c": 9.0}
    # a: 1.6x (retry, not flag); b: 1.475x (neither); c: 2.25x (both)
    assert bench.retry_names(times, prev) == ["a", "c"]
    assert bench.flag_names(times, prev) == ["c"]


def test_aggregate_gate_catches_uniform_creep():
    """VERDICT r8 #1: 20 queries each drifting 1.16x never trip the
    per-query gate but must trip the aggregate gate; a 1.10x drift
    must not."""
    prev = {f"q{i}": 2.0 for i in range(20)}
    crept = {f"q{i}": 2.32 for i in range(20)}   # 1.16x each
    ok = {f"q{i}": 2.2 for i in range(20)}       # 1.10x each
    assert bench.flag_names(crept, prev) == []
    agg = bench.aggregate_gate(crept, prev)
    assert agg["flagged"] and abs(agg["ratio"] - 1.16) < 1e-9
    assert agg["n_common"] == 20
    agg_ok = bench.aggregate_gate(ok, prev)
    assert not agg_ok["flagged"]
    # queries without a prior are excluded from the common set
    agg_new = bench.aggregate_gate({**ok, "brand_new": 50.0}, prev)
    assert agg_new["n_common"] == 20 and not agg_new["flagged"]
    # no shared prior at all -> None, not a crash
    assert bench.aggregate_gate({"x": 1.0}, {}) is None


def test_aggregate_gate_is_absorption_aware():
    """An absorber's contribution to the common-set totals uses the
    SUM of its component priors — a fully-explained merge cannot tilt
    the aggregate ratio."""
    orig = bench.ABSORPTIONS
    bench.ABSORPTIONS = {"w": ["m", "a"]}
    try:
        prev = {"w": 1.0, "m": 0.8, "a": 0.7, "r": 2.0}
        times = {"w": 2.5, "r": 2.0}  # w == exactly its component sum
        agg = bench.aggregate_gate(times, prev)
    finally:
        bench.ABSORPTIONS = orig
    assert agg["ratio"] == 1.0 and not agg["flagged"]


def test_run_full_rejects_nonstandard_filename(monkeypatch):
    """ADVICE r8: a nonstandard --full output path would silently revert
    to intra-round self-comparison — the full run must fail loudly
    before touching Spark."""
    import pytest

    def no_spark(*args, **kwargs):
        raise AssertionError("the full run started before the name check")

    monkeypatch.setattr(bench, "run", no_spark)
    for argv in (
        ["bench.py", "--full"],
        ["bench.py", "--full", "BENCH_FULL.json"],
        ["bench.py", "--full", "/tmp/sweep_output.json"],
    ):
        monkeypatch.setattr(sys, "argv", argv)
        with pytest.raises(SystemExit, match="BENCH_FULL_r"):
            bench.main()


def test_absorber_without_own_prior_has_no_prior():
    """r9: an absorber newly joining the benched set must not compare
    against its component fragments alone — a component subset is
    never a comparable prior (the dedup_clusters 11x false flag)."""
    orig = bench.ABSORPTIONS
    bench.ABSORPTIONS = {"clusters": ["keep_best"]}
    try:
        # component present, absorber absent -> no prior at all
        assert bench.absorbed_prior({"keep_best": 0.655}, "clusters") is None
        # absorber present -> component sum as before
        assert bench.absorbed_prior(
            {"clusters": 7.0, "keep_best": 0.655}, "clusters"
        ) == 7.655
    finally:
        bench.ABSORPTIONS = orig


def test_final_line_with_queries_fits_tail_window():
    """VERDICT r10 #2: the final line carries a largest-cost-first
    per-query subset, and the WHOLE line (compact separators) must
    still fit the driver's 2000-char tail window."""
    # a realistic worst case: 180 long-named queries, all expensive
    times = {f"extremely_long_query_name_number_{i:03d}": 9.876 for i in range(180)}
    base = {
        "metric": "headline_queries_total",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "sf": 0.1,
        "n_queries": len(times),
        "regressions": sorted(times)[:10],
        "agg_vs_prev": 1.234,
        "agg_flagged": True,
        "detail": "BENCH_DETAIL.json",
    }
    q = bench.queries_for_line(times, base)
    base["queries"] = q
    line = json.dumps(base, separators=(",", ":"))
    assert len(line) <= DRIVER_TAIL_CHARS, len(line)
    assert q, "subset must be non-empty"
    # every entry is the 2dp-rounded measured time under its exact name
    for n, t in q.items():
        assert t == round(times[n], 2)
    # largest-cost-first: everything in the subset costs at least as
    # much as the most expensive omitted query (ties broken by name)
    if len(q) < len(times):
        omitted_max = max(t for n, t in times.items() if n not in q)
        assert all(times[n] >= omitted_max - 1e-9 for n in q)


def test_queries_for_line_real_snapshot_coverage():
    """On the committed sf0.1 snapshot the subset must cover every
    query above ~1.5s — the band where regressions carry plan signal.
    The snapshot is BENCH_PREV.json, which bench.py only reads: a local
    headline run rewrites BENCH_DETAIL.json, so that file cannot pin
    anything."""
    with open(
        os.path.join(os.path.dirname(bench.__file__), "BENCH_PREV.json")
    ) as f:
        times = json.load(f)["queries"]
    base = {
        "metric": "headline_queries_total",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "sf": 0.1,
        "n_queries": len(times),
        "regressions": [],
        "agg_vs_prev": 1.0,
        "agg_flagged": False,
        "detail": "BENCH_DETAIL.json",
    }
    q = bench.queries_for_line(times, base)
    base["queries"] = q
    assert len(json.dumps(base, separators=(",", ":"))) <= DRIVER_TAIL_CHARS
    missing_big = [n for n, t in times.items() if t >= 1.5 and n not in q]
    assert missing_big == [], missing_big


def test_queries_for_line_is_a_strict_cost_ordered_prefix():
    """ADVICE r11: once a query does not fit, no cheaper query may get in
    after it — the line is a prefix of the cost order, so a reader can
    tell that every omitted query is cheaper than every listed one."""
    base = {"metric": "headline_queries_total", "detail": "BENCH_DETAIL.json"}
    times = {
        "a": 9.0,
        "b": 8.0,
        "c_" + "x" * 60: 7.0,  # expensive, long name: will not fit
        "d": 1.0,  # cheaper, short name: would fit in the space left
    }
    ab = {**base, "queries": {"a": 9.0, "b": 8.0}}
    fits_ab = len(json.dumps(ab, separators=(",", ":")))
    q = bench.queries_for_line(times, base, budget=fits_ab + 20)
    assert q == {"a": 9.0, "b": 8.0}
