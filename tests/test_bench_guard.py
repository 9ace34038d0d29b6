"""The committed bench record must stay canary-clean (round-6 VERDICT
directive #1): round 6's end-of-round snapshot overwrote a clean
BENCH_result.json with a run that self-flagged contaminated in both
sections. bench.resolve_artifact_path is the guard — a contaminated
payload is diverted to the gitignored BENCH_result.rejected.json unless
explicitly overridden."""

import importlib.util
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench():
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(_REPO, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_clean_run_writes_the_committed_record():
    assert _bench().resolve_artifact_path("/r", False) == "/r/BENCH_result.json"


def test_contaminated_run_is_diverted(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_ALLOW_CONTAMINATED", raising=False)
    assert (
        _bench().resolve_artifact_path("/r", True)
        == "/r/BENCH_result.rejected.json"
    )


def test_contaminated_override_is_explicit(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_ALLOW_CONTAMINATED", "1")
    assert _bench().resolve_artifact_path("/r", True) == "/r/BENCH_result.json"


def test_rejected_artifact_is_gitignored():
    gi = open(os.path.join(_REPO, ".gitignore")).read()
    assert "BENCH_result.rejected.json" in gi


def test_non_graded_sf_is_diverted_even_when_clean(monkeypatch):
    # a clean sf0.001 smoke run replaced the committed sf0.1 record
    # during round-7 code-path testing — the record means "the graded
    # configuration", so any other SF diverts to the local file
    monkeypatch.delenv("SPARK_GRAFT_ALLOW_CONTAMINATED", raising=False)
    b = _bench()
    assert (
        b.resolve_artifact_path("/r", False, "/root/testdata/sf0.001")
        == "/r/BENCH_result.local.json"
    )
    assert (
        b.resolve_artifact_path("/r", False, "/root/testdata/sf0.1")
        == "/r/BENCH_result.json"
    )
    # contamination outranks the SF routing
    assert (
        b.resolve_artifact_path("/r", True, "/root/testdata/sf0.001")
        == "/r/BENCH_result.rejected.json"
    )


def test_non_graded_cpus_is_diverted_even_when_clean(monkeypatch):
    # a clean 8-cpu run replaced the committed 32-cpu record — the
    # record means the graded core count too
    monkeypatch.delenv("SPARK_GRAFT_ALLOW_CONTAMINATED", raising=False)
    b = _bench()
    assert (
        b.resolve_artifact_path("/r", False, b.GRADED_SF_DIR, 8)
        == "/r/BENCH_result.local.json"
    )
    assert (
        b.resolve_artifact_path("/r", False, b.GRADED_SF_DIR, b.GRADED_CPUS)
        == "/r/BENCH_result.json"
    )
    # contamination outranks the cpus routing
    assert (
        b.resolve_artifact_path("/r", True, b.GRADED_SF_DIR, 8)
        == "/r/BENCH_result.rejected.json"
    )


def test_committed_record_is_graded_configuration():
    import json

    b = _bench()
    rec = json.load(open(os.path.join(_REPO, "BENCH_result.json")))
    assert (rec["cpus"], rec["sf"]) == (b.GRADED_CPUS, 0.1)


def test_local_artifact_is_gitignored():
    gi = open(os.path.join(_REPO, ".gitignore")).read()
    assert "BENCH_result.local.json" in gi


def test_graded_dir_alias_still_writes_the_committed_record(tmp_path):
    # round-8 ADVICE: a symlinked/relative alias of the graded sf0.1
    # dir must not divert a genuinely graded clean run to the local
    # file — the compare is realpath-normalized now
    b = _bench()
    link = tmp_path / "sf-alias"
    os.symlink(b.GRADED_SF_DIR, link)
    assert b.resolve_artifact_path("/r", False, str(link)) == "/r/BENCH_result.json"
    assert (
        b.resolve_artifact_path("/r", False, "/root/testdata/../testdata/sf0.1/")
        == "/r/BENCH_result.json"
    )


def _payload(main_bad: bool, sf1_bad: bool) -> dict:
    return {
        "metric": "headline_queries_total_runtime",
        "value": 99.0,
        "unit": "sec",
        "sf": 0.1,
        "cpus": 32,
        "queries": {"q1_pricing_summary": 9.0},
        "draws": {"q1_pricing_summary": [9.0]},
        "loadavg": {"q1_pricing_summary": 22.0},
        "canary": {"drift": 2.0 if main_bad else 1.0, "contaminated": main_bad},
        "pipeline_e2e_sec": 99.0,
        "sf1_queries": {"q1_pricing_summary": 30.0},
        "sf1_ratio_vs_sf0.1": {"q1_pricing_summary": 3.3},
        "sf1_total": 30.0,
        "sf1_canary": {"drift": 1.7 if sf1_bad else 1.0, "contaminated": sf1_bad},
        "sf1_loadavg": {},
        "sf1_draws": {},
        "incremental_scale_sec": {"sf3": 9.9},
    }


_RECORD = {
    "value": 50.0,
    "sf": 0.1,
    "cpus": 32,
    "queries": {"q1_pricing_summary": 5.0},
    "draws": {"q1_pricing_summary": [5.0]},
    "loadavg": {"q1_pricing_summary": 0.5},
    "canary": {"drift": 1.0, "contaminated": False},
    "pipeline_e2e_sec": 25.0,
    "sf1_queries": {"q1_pricing_summary": 10.0},
    "sf1_ratio_vs_sf0.1": {"q1_pricing_summary": 2.0},
    "sf1_total": 10.0,
    "sf1_canary": {"drift": 1.0, "contaminated": False},
    "sf1_loadavg": {},
    "sf1_draws": {},
    "incremental_scale_sec": {"sf3": 0.5},
    "commit": "abc1234",
}


def test_contaminated_sf1_section_is_substituted_with_provenance():
    # round-7 VERDICT directive #2: the printed payload must never
    # carry a section its own canary disowned — swap in the committed
    # record's clean section, keep the fresh canary as evidence
    b = _bench()
    emit, subbed = b.substitute_clean_sections(_payload(False, True), _RECORD)
    assert subbed == ["sf1"]
    assert emit["sf1_queries"] == {"q1_pricing_summary": 10.0}
    assert emit["sf1_total"] == 10.0
    assert emit["sf1_canary"]["contaminated"] is False
    assert emit["incremental_scale_sec"] == {"sf3": 0.5}
    assert emit["sf1_substituted"]["from_commit"] == "abc1234"
    assert emit["sf1_substituted"]["fresh_canary"]["drift"] == 1.7
    # the sf0.1 section was clean — untouched
    assert emit["value"] == 99.0
    assert emit["canary"]["contaminated"] is False


def test_contaminated_main_section_is_substituted_independently():
    b = _bench()
    emit, subbed = b.substitute_clean_sections(_payload(True, False), _RECORD)
    assert subbed == ["sf0.1"]
    assert emit["value"] == 50.0
    assert emit["queries"] == {"q1_pricing_summary": 5.0}
    assert emit["pipeline_e2e_sec"] == 25.0
    assert emit["canary"]["contaminated"] is False
    assert emit["sf0.1_substituted"]["fresh_canary"]["drift"] == 2.0
    # fresh sf1 stays
    assert emit["sf1_total"] == 30.0


def test_no_substitution_without_a_clean_record():
    b = _bench()
    fresh = _payload(False, True)
    # no record at all
    emit, subbed = b.substitute_clean_sections(fresh, None)
    assert subbed == [] and emit["sf1_total"] == 30.0
    # record whose matching section is itself contaminated
    bad = dict(_RECORD, sf1_canary={"drift": 2.0, "contaminated": True})
    emit, subbed = b.substitute_clean_sections(fresh, bad)
    assert subbed == [] and emit["sf1_total"] == 30.0
    # legacy record missing the flag entirely — treated as not-clean
    legacy = {k: v for k, v in _RECORD.items() if k != "sf1_canary"}
    emit, subbed = b.substitute_clean_sections(fresh, legacy)
    assert subbed == [] and emit["sf1_total"] == 30.0


def test_substitution_refuses_cross_config_record():
    # round-8 VERDICT: the 8-CPU driver run's flagged sf0.1 section was
    # swapped for the committed 32-CPU record, corrupting every scaling
    # ratio to exactly 1.0 — substitution must be config-keyed
    b = _bench()
    fresh = dict(_payload(False, True), cpus=8)
    emit, subbed = b.substitute_clean_sections(fresh, _RECORD)
    assert subbed == [] and emit["sf1_total"] == 30.0
    # different SF likewise refused
    fresh = dict(_payload(False, True), sf=0.01)
    emit, subbed = b.substitute_clean_sections(fresh, _RECORD)
    assert subbed == [] and emit["sf1_total"] == 30.0
    # a record with no cpus stamp (pre-round-9) cannot prove config
    # equality — refused even when the fresh run is at the default
    legacy = {k: v for k, v in _RECORD.items() if k != "cpus"}
    emit, subbed = b.substitute_clean_sections(_payload(False, True), legacy)
    assert subbed == [] and emit["sf1_total"] == 30.0


def test_substitution_drops_fresh_only_keys_absent_from_record():
    # a fresh sf1 section key with no counterpart in the record must
    # not survive as a fresh-contaminated orphan inside a substituted
    # section
    b = _bench()
    rec = {k: v for k, v in _RECORD.items() if k != "incremental_scale_sec"}
    emit, subbed = b.substitute_clean_sections(_payload(False, True), rec)
    assert subbed == ["sf1"]
    assert "incremental_scale_sec" not in emit


def test_mid_canary_drift_rule():
    # round 8: the start/end canary pair certified a run whose MIDDLE
    # ran 2-3x under a neighbor burst (sf1 drift read 1.22 "clean"
    # while sf1_total inflated 148 -> 217 s). The interleaved readings
    # close that blind spot.
    b = _bench()
    # the observed burst shape: floor 0.30s, mid readings spike to 0.9s
    assert b.mid_canary_drift([0.28, 0.9, 0.31], 0.30) == 3.0
    assert b.mid_canary_drift([0.28, 0.9, 0.31], 0.30) > b.MID_CANARY_DRIFT_MAX
    # clean-run shape: deep-warm mids sit at or below the floor canary
    assert b.mid_canary_drift([0.27, 0.25, 0.29], 0.30) <= 1.0
    # no data / degenerate floor -> no verdict, never a crash
    assert b.mid_canary_drift([], 0.30) is None
    assert b.mid_canary_drift([0.3], 0.0) is None
    assert b.mid_canary_drift([0.3], None) is None


def test_mid_canary_flag_needs_corroboration():
    b = _bench()
    # a real burst spans >= 2 sample points (the 2026-08-16 case hit
    # ~15 consecutive sf1 rows = 2 readings at 8-row spacing) -> flag
    ratio, n_over, flag = b.mid_canary_flag([0.28, 0.9, 0.8, 0.31], 0.30)
    assert flag and n_over == 2 and ratio == 3.0
    # a LONE spike surviving the settle-retry is post-heavy-row JVM
    # digestion (observed 0.83s after dedup_clusters) -> recorded, not
    # flagged — otherwise substitution would pin the committed record
    # on every clean run with one digesting reading
    ratio, n_over, flag = b.mid_canary_flag([0.28, 0.83, 0.31, 0.29], 0.30)
    assert not flag and n_over == 1 and ratio > b.MID_CANARY_DRIFT_MAX
    # clean run
    ratio, n_over, flag = b.mid_canary_flag([0.27, 0.25], 0.30)
    assert not flag and n_over == 0
    # degenerate inputs never crash or flag
    assert b.mid_canary_flag([], 0.30) == (None, 0, False)
    assert b.mid_canary_flag([0.3], 0.0) == (None, 0, False)


def test_mid_canary_threshold_has_margin():
    # 1.6x must sit between clean-run jitter (~1.0-1.3x worst observed
    # on this box's canary pairs) and the burst that matters (2-3x) —
    # a threshold drifting out of that band silently disables the rule
    b = _bench()
    assert 1.4 <= b.MID_CANARY_DRIFT_MAX <= 2.0


def test_cold_start_rescue_rule():
    b = _bench()
    # today's observed false flag: idled box (loadavg 0.11 at launch),
    # start canary cold -> drift 0.39, yet every mid reading quiet
    assert b.start_cold_rescue(0.39, [0.29, 0.27, 0.28, 0.32, 0.28], 0, 1.8)
    # a LOADED start keeps loading the interior: any spiked mid reading
    # (n_over > 0) blocks the rescue
    assert not b.start_cold_rescue(0.39, [0.9, 0.27, 0.28], 1, 1.8)
    # high start loadavg is the hard flag — never rescued
    assert not b.start_cold_rescue(0.39, [0.29, 0.27], 0, 9.5)
    # no interior evidence -> the conservative bound stands
    assert not b.start_cold_rescue(0.39, [], 0, 1.8)
    # the rescue only covers the low side; a hot END is real
    assert not b.start_cold_rescue(1.7, [0.29, 0.27], 0, 1.8)
    # loadavg unreadable (non-Linux) -> interior evidence alone decides
    assert b.start_cold_rescue(0.5, [0.29, 0.27], 0, None)


def test_committed_record_is_canary_clean():
    # the protocol says the committed BENCH_result.json only ever holds
    # a clean run — enforce it in CI so a future snapshot can't repeat
    # round 6's overwrite even if the routing guard is bypassed
    import json

    rec = json.load(open(os.path.join(_REPO, "BENCH_result.json")))
    assert rec["canary"]["contaminated"] is False
    sf1 = rec.get("sf1_canary")
    if sf1 is not None:
        assert sf1["contaminated"] is False
    # provenance must point at a real commit so substitution can cite it
    assert rec.get("commit")
