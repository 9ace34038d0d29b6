"""Tests for the mid-pipeline: namespacing (A1), NVD enrichment (J1/J2),
affected-version backfill (J3), whitelist injection (J8), upserts (A10),
and the end-to-end run over the committed fixtures."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from vul_dbgen_spark.plans import enrich, pipeline
from vul_dbgen_spark.plans.namespacing import do_vulnerabilities_namespacing
from vul_dbgen_spark.schemas import APP_VULNS, OS_VULNS
from vul_dbgen_spark.sources import DISTRO_SOURCES, META_SOURCES

ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures", "vul-source"
)


def one(rows, **kv):
    sel = [r for r in rows if all(r[k] == v for k, v in kv.items())]
    assert len(sel) == 1, f"expected one row for {kv}, got {len(sel)}"
    return sel[0]


# ---------------------------------------------------------------------------
# A1 namespacing
# ---------------------------------------------------------------------------


def test_namespacing_explodes_debian_multins(spark):
    deb = DISTRO_SOURCES["debian"](spark, ROOT)
    ns = do_vulnerabilities_namespacing(deb)
    rows = ns.collect()
    # CVE-2021-3449 spans debian:10/11/unstable/9 → 4 rows
    spans = [r for r in rows if r["name"] == "CVE-2021-3449"]
    assert sorted(r["namespace"] for r in spans) == [
        "debian:10",
        "debian:11",
        "debian:9",
        "debian:unstable",
    ]
    for r in spans:
        assert all(f["namespace"] == r["namespace"] for f in r["fixed_in"])
        assert r["severity"] == "High"  # scalars copied to every namespace row


def test_namespacing_merges_alpine_per_pkg_rows(spark):
    alp = DISTRO_SOURCES["alpine"](spark, ROOT)
    ns = do_vulnerabilities_namespacing(alp)
    rows = ns.collect()
    # every alpine row lands in alpine:3.18; one row per CVE
    assert all(r["namespace"] == "alpine:3.18" for r in rows)
    assert len(rows) == len({r["name"] for r in rows})


# ---------------------------------------------------------------------------
# J1/J2 enrichment via the full run
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def full(spark):
    os_out, app_out = pipeline.run(spark, ROOT)
    return os_out.collect(), app_out.collect()


def test_enrichment_fills_distro_from_nvd(full):
    os_rows, _ = full
    v = one(os_rows, name="CVE-2021-3449", namespace="debian:10")
    # debian feed had no scores; NVD supplies v3 5.9/v2 4.3 → Medium
    assert v["cvss_v3"]["score"] == 5.9
    assert v["cvss_v2"]["score"] == 4.3
    assert v["severity"] == "Medium"
    # feed link is kept (non-empty), description kept
    assert v["link"].startswith("https://security-tracker.debian.org")
    # dates back-filled from NVD
    assert v["issued_date"] is not None and v["issued_date"].year == 2021


def test_enrichment_severity_gate_drops_unrated(full):
    os_rows, _ = full
    # CVE-2019-20372 (Negligible, no NVD entry in fixture) must be gone
    assert not [r for r in os_rows if r["name"] == "CVE-2019-20372"]
    # alpine CVE-2017-17439 has no NVD fixture entry and no feed severity →
    # severity stays empty → gated out
    assert not [r for r in os_rows if r["name"] == "CVE-2017-17439"]


def test_enrichment_alpine_gets_nvd_meta(full):
    os_rows, _ = full
    v = one(os_rows, name="CVE-2022-3437", namespace="alpine:3.18")
    assert v["severity"] == "Medium"
    assert v["cvss_v3"]["score"] == 6.5
    assert v["description"].startswith("A heap-based buffer overflow")
    # alpine feed supplies its own link; NVD does not overwrite it
    assert v["link"] == "https://cve.mitre.org/cgi-bin/cvename.cgi?name=CVE-2022-3437"


def test_photon_feed_score_beats_nvd(full):
    os_rows, _ = full
    # photon supplies cvss_v3.score=8.1 for CVE-2021-22901 (no NVD fixture
    # row); severity derives from the feed score → High
    v = one(os_rows, name="CVE-2021-22901", namespace="photon:3")
    assert v["cvss_v3"]["score"] == 8.1
    assert v["severity"] == "High"
    # v2 back-filled from severity band (updater.go:320-331)
    assert v["cvss_v2"]["score"] == 7.0


def test_app_enrichment_and_gate(full):
    _, app_rows = full
    # k8s record has no severity; NVD fixture lacks CVE-2023-2728 → gated
    assert not [r for r in app_rows if r["vul_name"] == "CVE-2023-2728"]
    # openshift CVE-2020-8554 survives with its own scores
    v = one(app_rows, vul_name="CVE-2020-8554")
    assert v["severity"] == "Medium"
    assert v["score_v3"] == 5.0 and v["score"] == 6.0


def test_ruby_app_fixed_by_nvd_dates(full):
    _, app_rows = full
    # ruby severity empty; scores from feed (9.8) → Critical via
    # fixSeverityScore; v2 back-filled to 9
    v = one(app_rows, vul_name="CVE-2019-5477")
    assert v["severity"] == "Critical"
    assert v["score_v3"] == 9.8
    assert v["score"] == 9.0


# ---------------------------------------------------------------------------
# J3 backfill
# ---------------------------------------------------------------------------


def test_correct_app_affected_version(spark):
    nvd = META_SOURCES["nvd"](spark, ROOT)
    apps = spark.createDataFrame(
        [
            {
                "vul_name": "CVE-2021-3449",
                "app_name": "x",
                "module_name": "x",
                "affected_ver": [],
                "fixed_ver": [],
            },
            {
                "vul_name": "CVE-2021-3449",
                "app_name": "y",
                "module_name": "y",
                "affected_ver": [{"op_code": "lt", "version": "9"}],
                "fixed_ver": [],
            },
        ],
        APP_VULNS,
    )
    out = enrich.correct_app_affected_version(apps, nvd).collect()
    x = one(out, module_name="x")
    # NVD range 1.1.1 ≤ v < 1.1.1k → affects [gteq 1.1.1, lt 1.1.1k],
    # fixes [gteq 1.1.1k]
    assert [(t["op_code"], t["version"]) for t in x["affected_ver"]] == [
        ("gteq", "1.1.1"),
        ("lt", "1.1.1k"),
    ]
    assert [(t["op_code"], t["version"]) for t in x["fixed_ver"]] == [("gteq", "1.1.1k")]
    y = one(out, module_name="y")
    # non-empty affected kept; empty fixed filled
    assert [(t["op_code"], t["version"]) for t in y["affected_ver"]] == [("lt", "9")]
    assert [(t["op_code"], t["version"]) for t in y["fixed_ver"]] == [("gteq", "1.1.1k")]


# ---------------------------------------------------------------------------
# A10 upsert
# ---------------------------------------------------------------------------


def test_os_keyed_upsert_priority(spark):
    rows = spark.createDataFrame(
        [
            {"name": "CVE-1", "namespace": "ns", "description": "low-prio"},
            {"name": "CVE-1", "namespace": "ns", "description": "high-prio"},
            {"name": "CVE-2", "namespace": "ns", "description": "only"},
        ],
        OS_VULNS,
    )
    tagged = rows.withColumn(
        "source_priority", F.when(F.col("description") == "high-prio", 1).otherwise(0)
    )
    out = pipeline.os_keyed_upsert(tagged).collect()
    assert one(out, name="CVE-1")["description"] == "high-prio"
    assert len(out) == 2


# ---------------------------------------------------------------------------
# J8 whitelist (negative: fixture NVD lacks CVE-2025-14847)
# ---------------------------------------------------------------------------


def test_whitelist_injection_requires_nvd_hit(spark):
    nvd = META_SOURCES["nvd"](spark, ROOT)
    apps = spark.createDataFrame([], APP_VULNS)
    out = enrich.inject_nvd_whitelist_apps(apps, nvd)
    assert out.count() == 0  # CVE-2025-14847 not in fixture NVD → nothing


# ---------------------------------------------------------------------------
# J9 (dead code in reference, exposed as operator)
# ---------------------------------------------------------------------------


def test_xslate_ubuntu_upstream(spark):
    vulns = spark.createDataFrame(
        [
            {
                "name": "CVE-2020-1",
                "namespace": "ubuntu:upstream",
                "description": "d",
                "severity": "High",
                "fixed_in": [
                    {"name": "openssl", "namespace": "ubuntu:upstream", "version": "1.1.1g", "min_ver": None}
                ],
            },
            {"name": "CVE-2020-2", "namespace": "ubuntu:20.04", "description": "d2"},
        ],
        OS_VULNS,
    )
    out = enrich.xslate_ubuntu_upstream(vulns).collect()
    assert len(out) == 1
    r = out[0]
    assert r["module_name"] == "openssl"
    assert [(t["op_code"], t["version"]) for t in r["affected_ver"]] == [("lt", "1.1.1g")]
    assert [(t["op_code"], t["version"]) for t in r["fixed_ver"]] == [("gteq", "1.1.1g")]


# ---------------------------------------------------------------------------
# one run = one scan per feed; a later run reads fresh input
# ---------------------------------------------------------------------------

# the only feed two sources read: wolfi and chainguard each take their
# rows from the chainguard OSV tree
SHARED_FEED = "chainguard/osv-v2"
# the alternative NVD XML feed is not part of a pipeline run
UNREAD_FEEDS = {"nvd-xml"}


def _run_to_container(spark, root: str, out_dir: str):
    """pipeline.run + update_db → (formatted plan descriptions of the
    run's SQL executions, {container member: bytes})."""
    from vul_dbgen_spark.sinks import memdb

    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()

    def execution_ids():
        execs = store.executionsList()
        return {int(execs.apply(i).executionId()) for i in range(execs.size())}

    sc._jsc.sc().listenerBus().waitUntilEmpty()
    before = max(execution_ids(), default=-1)
    os_out, app_out = pipeline.run(spark, root)
    memdb.update_db(os_out, app_out, out_dir, version="1.0", update_time="2024-01-01T00:00:00+00:00")
    # the status store is fed from the listener bus, AQE plan updates included
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    plans = [
        store.execution(i).get().physicalPlanDescription()
        for i in sorted(execution_ids())
        if i > before
    ]
    _, files = memdb.read_db_file(os.path.join(out_dir, memdb.REGULAR_DB_NAME))
    return plans, files


def _final_plan(desc: str) -> str:
    """The executed tree of a formatted plan description (AQE's final
    plan when the plan is adaptive)."""
    if "== Final Plan ==" in desc:
        return desc.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    return desc.split("== Physical Plan ==", 1)[1].split("\n\n", 1)[0]


def _scans_per_location(plans: list[str]) -> dict[str, int]:
    from collections import Counter

    counts = Counter()
    for desc in plans:
        for node in re.findall(r"Scan \w+ +\((\d+)\)", _final_plan(desc)):
            details = re.search(rf"\n\({node}\) Scan [^\n]*\n(.*?)\n\n", desc, re.S).group(1)
            loc = re.search(r"Location: \w+ \[([^\]]*)\]", details)
            if loc:  # in-memory and checkpointed rows have no Location
                counts[loc.group(1)] += 1
    return counts


@pytest.fixture(scope="module")
def fresh_run(spark, tmp_path_factory):
    import shutil

    root = str(tmp_path_factory.mktemp("feeds") / "vul-source")
    shutil.copytree(ROOT, root)
    plans, files = _run_to_container(spark, root, str(tmp_path_factory.mktemp("db1")))
    return root, plans, files


def test_each_feed_is_scanned_once_per_run(fresh_run):
    root, plans, _ = fresh_run
    scans = _scans_per_location(plans)
    feeds_seen = set()
    for location, n in scans.items():
        first = location.split(",")[0].removeprefix("file:")
        feed = os.path.relpath(first, root)
        feeds_seen.add(feed.split(os.sep)[0])
        want = 2 if feed.startswith(SHARED_FEED + os.sep) else 1
        assert n == want, f"{feed}: scanned {n}x per run, want {want}x"
    assert feeds_seen == set(os.listdir(root)) - UNREAD_FEEDS
    python_nodes = sum(
        len(re.findall(r"\b(?:MapInPandas|ArrowEvalPython)\b", _final_plan(d))) for d in plans
    )
    assert python_nodes <= 16, f"{python_nodes} Python parse/serialize nodes per run"


def test_second_run_reads_edited_feed(spark, tmp_path_factory, fresh_run):
    import json

    root, _, first = fresh_run

    def cve_3449(files):
        lines = [json.loads(x) for x in files["debian_full.tb"].decode().splitlines()]
        return next(x for x in lines if (x["NS"], x["N"]) == ("debian:10", "CVE-2021-3449"))

    assert cve_3449(first)["C3"]["Score"] == 5.9
    nvd = os.path.join(root, "nvd", "nvdcve-2.0-sample.json")
    text = open(nvd).read()
    old = '"vectorString": "CVSS:3.1/AV:N/AC:H/PR:N/UI:N/S:U/C:N/I:N/A:H", "baseScore": 5.9, "baseSeverity": "MEDIUM"'
    assert text.count(old) == 1
    # a different length too, so a stale file listing would show
    with open(nvd, "w") as f:
        f.write(text.replace(old, old.replace("5.9", "9.8").replace("MEDIUM", "CRITICAL")))
    _, second = _run_to_container(spark, root, str(tmp_path_factory.mktemp("db2")))
    assert cve_3449(second)["C3"]["Score"] == 9.8
