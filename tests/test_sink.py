"""Sink tests: wire-format parity of the .tb lines, bucket routing, and
the end-to-end encrypted container round trip."""

from __future__ import annotations

import json
import os

import pytest

from vul_dbgen_spark.plans import pipeline
from vul_dbgen_spark.sinks import memdb

ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures", "vul-source"
)


def test_vul_full_line_wire_format():
    line = memdb._vul_full_line(
        {
            "name": "CVE-2021-1",
            "namespace": "debian:10",
            "description": 'desc with <html> & "quotes"',
            "link": "https://x",
            "severity": "High",
            "cvss_v2": {"vectors": "AV:N", "score": 7.0},
            "cvss_v3": {"vectors": None, "score": 9.8},
            "fixed_in": [
                {"name": "openssl", "namespace": "debian:10", "version": "0:1.1.1d-1", "min_ver": None}
            ],
            "cpes": [],
            "cves": [{"name": "CVE-2021-1", "cvss_v2": None, "cvss_v3": None}],
            "feed_rating": "high",
            "issued_date": None,
            "last_mod_date": None,
        }
    )
    obj = json.loads(line)
    # Go key order (common/types.go:66-88)
    assert list(obj.keys()) == ["N", "NS", "D", "L", "S", "C2", "C3", "FB", "FI", "CVE", "RATE", "Issue", "LastMod"]
    assert obj["C2"] == {"Vectors": "AV:N", "Score": 7}  # integral float renders bare
    assert '"Score":7}' in line and '"Score":9.8}' in line
    # epoch-0 normalization via Version.String()
    assert obj["FI"] == [{"N": "openssl", "V": "1.1.1d-1", "MV": "", "A": ""}]
    # empty CPE omitted (omitempty); zero dates render Go-style
    assert "CPE" not in obj
    assert obj["Issue"] == "0001-01-01T00:00:00Z"
    # Go HTML escaping
    assert "\\u003chtml\\u003e" in line and "\\u0026" in line


def test_vul_short_line_wire_format():
    line = memdb._vul_short_line(
        {
            "name": "CVE-2021-1",
            "namespace": "alpine:3.18",
            "fixed_in": [
                {"name": "heimdal", "namespace": "alpine:3.18", "version": "7.7.0-r0", "min_ver": None}
            ],
            "cpes": None,
        }
    )
    obj = json.loads(line)
    assert list(obj.keys()) == ["N", "NS", "Fixin", "CPE"]
    assert obj["Fixin"] == [{"N": "heimdal", "V": "7.7.0-r0", "MV": ""}]
    assert obj["CPE"] is None  # nil slice marshals null (no omitempty)


def test_app_line_wire_format():
    line = memdb._app_line(
        {
            "vul_name": "CVE-2020-1938",
            "app_name": "Tomcat",
            "module_name": "Tomcat",
            "import_paths": None,
            "symbols": [],
            "description": "d",
            "link": "l",
            "score": 7.5,
            "vectors": "AV:N",
            "score_v3": 9.8,
            "vectors_v3": "CVSS:3.1",
            "severity": "High",
            "affected_ver": [{"op_code": "gteq", "version": "1.0"}],
            "fixed_ver": [],
            "unaffected_ver": None,
            "issued_date": None,
            "last_mod_date": None,
        }
    )
    obj = json.loads(line)
    # IP/SYM omitted when empty (omitempty); UV's broken tag → always present
    assert "IP" not in obj and "SYM" not in obj
    assert list(obj.keys()) == ["VN", "AN", "MN", "D", "L", "SC", "VV2", "SC3", "VV3", "SE", "AV", "FV", "UV", "Issue", "LastMod"]
    assert obj["AV"] == [{"O": "gteq", "V": "1.0"}]
    assert obj["FV"] == [] and obj["UV"] is None


def test_bucket_routing(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("ubuntu:upstream",), ("debian:10",), ("centos:7",), ("sles:l15.6",),
         ("photon:3",), ("chainguard:rolling",), ("unknownos:1",)],
        "namespace string",
    )
    out = {r["namespace"]: r["b"] for r in df.select("namespace", memdb.bucket_col("namespace").alias("b")).collect()}
    assert out["ubuntu:upstream"] == 0
    assert out["debian:10"] == 1
    assert out["centos:7"] == 2
    assert out["sles:l15.6"] == 7
    assert out["photon:3"] == 8
    assert out["chainguard:rolling"] == 11
    assert out["unknownos:1"] is None


@pytest.fixture(scope="module")
def db_out(spark, tmp_path_factory):
    os_out, app_out = pipeline.run(spark, ROOT)
    out_dir = str(tmp_path_factory.mktemp("memdb"))
    shas = memdb.update_db(os_out, app_out, out_dir, version="3.99")
    return out_dir, shas


def test_container_round_trip(db_out):
    out_dir, shas = db_out
    header, files = memdb.read_db_file(os.path.join(out_dir, memdb.REGULAR_DB_NAME))
    assert header["Version"] == "3.99"
    # all 12 buckets ×2 + apps.tb + rhel-cpe.map backfill
    assert len(files) == 26
    assert files["rhel-cpe.map"] == b""
    # shas in header match actual contents
    import hashlib

    for name, body in files.items():
        assert header["Shas"][name] == hashlib.sha256(body).hexdigest()
    assert header["Shas"] == shas
    # debian bucket contains our enriched CVE rows, index + full aligned
    full_lines = [json.loads(x) for x in files["debian_full.tb"].decode().splitlines()]
    idx_lines = [json.loads(x) for x in files["debian_index.tb"].decode().splitlines()]
    assert len(full_lines) == len(idx_lines) > 0
    assert [x["N"] for x in full_lines] == [x["N"] for x in idx_lines]
    by_name = {(x["NS"], x["N"]): x for x in full_lines}
    v = by_name[("debian:10", "CVE-2021-3449")]
    assert v["S"] == "Medium" and v["C3"]["Score"] == 5.9
    # apps.tb holds the enriched app records
    apps = [json.loads(x) for x in files["apps.tb"].decode().splitlines()]
    assert any(a["VN"] == "CVE-2020-1938" for a in apps)


def test_compact_db_subset(db_out):
    out_dir, _ = db_out
    header, files = memdb.read_db_file(os.path.join(out_dir, memdb.COMPACT_DB_NAME))
    assert sorted(files) == sorted(
        ["ubuntu_index.tb", "ubuntu_full.tb", "debian_index.tb", "debian_full.tb",
         "centos_index.tb", "centos_full.tb", "alpine_index.tb", "alpine_full.tb", "apps.tb"]
    )
    # no raw files in compact
    assert "rhel-cpe.map" not in files


# golden end-to-end shape: one lineage S*→J*→A*→K* over the committed
# fixtures for every source family, pinned per-bucket (reference analog:
# dbgen.go main → updater.Update → memdb.UpdateDb; the e2e test the
# reference itself lacks, SURVEY.md §5)
GOLDEN_BUCKET_LINES = {
    "alpine": 2, "amazon": 2, "centos": 5, "chainguard": 2, "debian": 8,
    "mariner": 2, "oracle": 2, "photon": 5, "rocky": 3, "suse": 1,
    "ubuntu": 8, "wolfi": 2,
}
GOLDEN_NAMESPACES = {
    "alpine": ["alpine:3.18"],
    "amazon": ["amzn:2", "amzn:2023"],
    "centos": ["centos:7", "centos:8"],
    "chainguard": ["chainguard:rolling"],
    "debian": ["debian:10", "debian:11", "debian:12", "debian:9", "debian:unstable"],
    "mariner": ["mariner:1.0"],
    "oracle": ["oracle:7", "oracle:8"],
    "photon": ["photon:1", "photon:3"],
    "rocky": ["rocky:8", "rocky:9"],
    "suse": ["sles:15.3"],
    "ubuntu": ["ubuntu:14.04", "ubuntu:16.04", "ubuntu:18.04", "ubuntu:20.04",
               "ubuntu:21.04", "ubuntu:upstream"],
    "wolfi": ["wolfi:rolling"],
}
GOLDEN_APP_LINES = 20


def test_e2e_golden_bucket_membership(db_out):
    """Every distro source family must land rows in its own bucket with
    the exact fixture-derived membership — a change in any stage of the
    lineage (parse, namespace, upsert, enrich, gate, route) moves these."""
    out_dir, _ = db_out
    _, files = memdb.read_db_file(os.path.join(out_dir, memdb.REGULAR_DB_NAME))
    for fam, n in GOLDEN_BUCKET_LINES.items():
        full = files[f"{fam}_full.tb"].decode().splitlines()
        idx = files[f"{fam}_index.tb"].decode().splitlines()
        assert len(full) == len(idx) == n, f"{fam}: {len(full)} full / {len(idx)} idx != {n}"
        nss = sorted({json.loads(l)["NS"] for l in full})
        assert nss == GOLDEN_NAMESPACES[fam], f"{fam}: {nss}"
        # index and full stay row-aligned (same (NS, N) sequence)
        assert [(json.loads(l)["NS"], json.loads(l)["N"]) for l in full] == [
            (json.loads(l)["NS"], json.loads(l)["N"]) for l in idx
        ]
    assert len(files["apps.tb"].decode().splitlines()) == GOLDEN_APP_LINES


def test_e2e_rebuild_is_byte_deterministic(spark, tmp_path_factory, db_out):
    """Re-running the full pipeline into a fresh dir must reproduce the
    exact sha manifest: the whole lineage (source parse order, upsert
    tie-breaks, enrichment coalesces, NDJSON field order, container
    assembly) is deterministic — the property that makes the output
    diffable/cacheable across runs, which the reference's channel-arrival
    nondeterminism cannot guarantee."""
    os_out, app_out = pipeline.run(spark, ROOT)
    out_dir = str(tmp_path_factory.mktemp("memdb_rebuild"))
    shas = memdb.update_db(os_out, app_out, out_dir, version="3.99")
    _, golden_shas = db_out
    assert shas == golden_shas


def test_partitioned_ndjson_scale_sink(spark, tmp_path_factory, db_out):
    """write_partitioned_ndjson: executor-side partitioned write must hold
    exactly the same lines as the driver-assembled container."""
    os_out, app_out = pipeline.run(spark, ROOT)
    out_dir = str(tmp_path_factory.mktemp("part_ndjson"))
    memdb.write_partitioned_ndjson(os_out, app_out, out_dir)

    container_dir, _ = db_out
    _, files = memdb.read_db_file(os.path.join(container_dir, memdb.REGULAR_DB_NAME))

    import glob

    for i, (_, idx_name, full_name) in enumerate(memdb.BUCKETS):
        for sub, tb in (("index", idx_name), ("full", full_name)):
            parts = sorted(glob.glob(os.path.join(out_dir, sub, f"bucket={i}", "part-*")))
            got = sorted(
                line
                for p in parts
                for line in open(p, encoding="utf-8").read().splitlines()
            )
            want = sorted(files[tb].decode().splitlines())
            assert got == want, f"bucket {i} {sub} mismatch"

    app_parts = sorted(glob.glob(os.path.join(out_dir, "apps", "part-*")))
    got_apps = sorted(
        line for p in app_parts for line in open(p, encoding="utf-8").read().splitlines()
    )
    assert got_apps == sorted(files["apps.tb"].decode().splitlines())


def test_partitioned_ndjson_unknown_bucket_raises(spark, tmp_path_factory):
    """write_partitioned_ndjson's bad-bucket guard rides the index
    write itself (round-9: the separate limit(1).collect() pre-check was
    a full redundant pass over the os lineage) — the documented
    ValueError must still surface, before the full/apps writes run."""
    from vul_dbgen_spark.schemas import OS_VULNS
    from vul_dbgen_spark.sources.apps import load_all
    from vul_dbgen_spark.sources.base import conform

    os_out = conform(
        spark.createDataFrame(
            [("CVE-2020-0001", "unknownos:1")], "name string, namespace string"
        ),
        OS_VULNS,
    )
    app_out = load_all(spark, ROOT)
    out_dir = str(tmp_path_factory.mktemp("ndjson_badbucket"))
    with pytest.raises(ValueError, match="No known namespace bucket for: unknownos:1"):
        memdb.write_partitioned_ndjson(os_out, app_out, out_dir)
    assert not os.path.isdir(os.path.join(out_dir, "full")), (
        "the full/apps writes must not run after a bad-bucket failure"
    )


def test_partitioned_ndjson_null_namespace_raises(spark, tmp_path_factory):
    """A null namespace routes to no bucket; the guard's message must
    survive the null (concat with null is null) as the documented
    ValueError."""
    from vul_dbgen_spark.schemas import OS_VULNS
    from vul_dbgen_spark.sources.apps import load_all
    from vul_dbgen_spark.sources.base import conform

    os_out = conform(
        spark.createDataFrame([("CVE-2020-0001", None)], "name string, namespace string"),
        OS_VULNS,
    )
    app_out = load_all(spark, ROOT)
    out_dir = str(tmp_path_factory.mktemp("ndjson_nullns"))
    with pytest.raises(ValueError, match="No known namespace bucket for: None"):
        memdb.write_partitioned_ndjson(os_out, app_out, out_dir)


def test_update_db_unknown_bucket_raises(spark, tmp_path_factory):
    """The bad-bucket guard rides the assembly iteration (round 8): an
    os row whose namespace maps to no bucket must still raise before any
    container file is written."""
    from vul_dbgen_spark.schemas import OS_VULNS
    from vul_dbgen_spark.sources.base import conform

    os_out = conform(
        spark.createDataFrame(
            [("CVE-2020-0001", "unknownos:1")], "name string, namespace string"
        ),
        OS_VULNS,
    )
    from vul_dbgen_spark.sources.apps import load_all

    app_out = load_all(spark, ROOT)
    out_dir = str(tmp_path_factory.mktemp("memdb_badbucket"))
    with pytest.raises(ValueError, match="No known namespace bucket for: unknownos:1"):
        memdb.update_db(os_out, app_out, out_dir, version="0.0")
    assert not [
        f for f in os.listdir(out_dir)
    ], "container files must not exist after a bad-bucket failure"
