"""RHEL OVAL source (SURVEY.md S5, J4 culling, A4/A5 merges).

Behavioral spec: ``/root/reference/updater/fetchers/rhel2/rhel.go``.

- Feed layout ``redhat/{7,8,9}/*.oval.xml[.bz2]``; the folder number is
  the release and the namespace is **centos:N** (RHEL renamed,
  rhel.go:451,645).
- Definition name: ``RHSA-…`` title prefix else the CVE reference, with
  the ≥2014 year gate on either (rhel.go:417-441).
- Features from the DNF possibilities: ``is earlier than`` versions
  (epoch/svn/v cleanup), ``.unaffected:`` tests → ``#MINV#``, bare
  ``is installed`` → ``#MAXV#`` (rhel.go:586-665).
- Per-definition CVSS = max over member CVEs' ``score/vector`` strings
  (rhel.go:466-493); zero dates mirror each other (rhel.go:495-500).
- Post-parse: same-(ns,name) records across files merge with
  set-semantics on FixedIn/CPEs (makeCveMap, A4), then RHSA culling
  removes CVE features covered by an RHSA in the same namespace and
  drops emptied CVEs (J4, rhel.go:281-402).
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import register_distro
from ..functions.oval import (
    _find,
    _findall,
    _text,
    get_possibilities,
    parse_criteria,
    rhel_features,
)
from .oval_base import SEVERITY_MAP, read_oval_files

IGNORED_CRITERIONS = (  # rhel.go:36-41
    " is signed with Red Hat ",
    " Client is installed",
    " Workstation is installed",
    " ComputeNode is installed",
)

RHSA_OS = [7, 8, 9]


def _cvss_split(s: str) -> tuple[float, str]:
    if s and (i := s.find("/")) != -1:
        try:
            return float(s[:i]), s[i + 1 :]
        except ValueError:
            pass
    return 0.0, ""


def _clean_desc(d: str) -> str:
    return d.replace("\n\n\n", " ").replace("\n\n", " ").replace("\n", " ")


def _parse_date(s: str):
    """'2006-01-02' layout; failure → zero date (None)."""
    from datetime import datetime

    try:
        return datetime.strptime(s, "%Y-%m-%d")
    except ValueError:
        return None


def _year_of(name: str, prefix_len: int):
    digits = ""
    for ch in name[prefix_len:]:
        if ch.isdigit():
            digits += ch
        else:
            break
    return int(digits) if digits else None


def parse_rhel_doc(path: str, xml_bytes: bytes) -> list[dict]:
    import xml.etree.ElementTree as ET

    # release number comes from the parent folder (fetchPreDownload)
    ros = int(os.path.basename(os.path.dirname(path)))
    root = ET.fromstring(xml_bytes)
    out = []
    for d in _findall(root, "definitions>definition"):
        title = _text(d, "metadata>title")
        refs = [
            (r.get("source", ""), r.get("ref_id", ""), r.get("ref_url", ""))
            for r in _findall(d, "metadata>reference")
        ]
        cve_ref = next((r for r in refs if r[0] == "CVE"), None)
        name = title[: title.index(": ")].strip() if ": " in title else ""
        if name.startswith("RHSA-"):
            year = _year_of(name, 5)
            if year is None or year < 2014:
                continue
        elif cve_ref and cve_ref[1].startswith("CVE-"):
            name = cve_ref[1]
            year = _year_of(name, 4)
            if year is None or year < 2014:
                continue
        else:
            continue

        crit = parse_criteria(_find(d, "criteria"))
        pkgs = rhel_features(get_possibilities(crit, IGNORED_CRITERIONS), ros)
        if not pkgs:
            continue

        cves, best2, best3 = [], (0.0, ""), (0.0, "")
        for c in _findall(d, "metadata>advisory>cve"):
            s2, v2 = _cvss_split(c.get("cvss2", ""))
            s3, v3 = _cvss_split(c.get("cvss3", ""))
            cves.append(
                {
                    "name": (c.text or "").strip(),
                    "cvss_v2": {"vectors": v2, "score": s2},
                    "cvss_v3": {"vectors": v3, "score": s3},
                }
            )
            if s2 > best2[0]:
                best2 = (s2, v2)
            if s3 > best3[0]:
                best3 = (s3, v3)

        link = next((r[2] for r in refs if r[0] == "RHSA"), "")
        if name == "RHSA-2016:1064":  # wrong upstream link (rhel.go:694-698)
            link = cve_ref[2] if cve_ref else ""
        if not link:
            link = cve_ref[2] if cve_ref else ""

        issued = _find(d, "metadata>advisory>issued")
        updated = _find(d, "metadata>advisory>updated")
        issued_s = _parse_date(issued.get("date", "") if issued is not None else "")
        updated_s = _parse_date(updated.get("date", "") if updated is not None else "")
        issued_s = issued_s or updated_s  # zero-date mirroring (rhel.go:495-500)
        updated_s = updated_s or issued_s

        out.append(
            {
                "name": name,
                "namespace": f"centos:{ros}",
                "description": _clean_desc(_text(d, "metadata>description")),
                "link": link,
                "severity": SEVERITY_MAP.get(
                    _text(d, "metadata>advisory>severity").lower(), "Unknown"
                ),
                "cvss_v2": {"vectors": best2[1], "score": best2[0]},
                "cvss_v3": {"vectors": best3[1], "score": best3[0]},
                "issued_date": issued_s,
                "last_mod_date": updated_s,
                "cves": cves,
                "fixed_in": pkgs,
                "cpes": [(e.text or "") for e in _findall(d, "metadata>advisory>affected_cpe_list>cpe")],
                "feed_rating": _text(d, "metadata>advisory>severity"),
            }
        )
    return out


def merge_cve_map(df: DataFrame) -> DataFrame:
    """A4: same (ns,name) across files → union FixedIn/CPEs with set
    semantics, scalars from the first record (makeCveMap rhel.go:299-328)."""
    rows = df.withColumn("row_order", F.monotonically_increasing_id())
    scalars = [
        c for c in df.columns if c not in ("name", "namespace", "fixed_in", "cpes")
    ]
    return (
        rows.groupBy("namespace", "name")
        .agg(
            F.array_distinct(
                F.flatten(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("row_order").alias("o"), F.col("fixed_in").alias("t")))
                    )["t"]
                )
            ).alias("fixed_in"),
            F.array_distinct(
                F.flatten(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("row_order").alias("o"), F.col("cpes").alias("t")))
                    )["t"]
                )
            ).alias("cpes"),
            *[F.min_by(c, "row_order").alias(c) for c in scalars],
        )
        .select(*df.columns)
    )


def cull_rhsa(df: DataFrame) -> DataFrame:
    """J4: drop CVE features covered by an RHSA of the same namespace
    that lists the CVE; drop CVEs left with no features; RHSAs pass
    through (cullAllVulns rhel.go:281-402)."""
    is_rhsa = F.lower(F.col("name")).contains("rhsa")
    rhsas = df.filter(is_rhsa)
    cves = df.filter(~is_rhsa)

    covered = (
        rhsas.select(
            "namespace",
            F.explode(F.transform("cves", lambda c: c["name"])).alias("cve_name"),
            F.col("fixed_in").alias("rhsa_features"),
        )
        .select(
            "namespace",
            "cve_name",
            F.explode(F.transform("rhsa_features", lambda f: f["name"])).alias("feature_name"),
        )
        .distinct()
    )
    exploded = cves.withColumn("vid", F.monotonically_increasing_id()).select(
        "*", F.posexplode("fixed_in").alias("fv_pos", "fv")
    )
    kept = exploded.join(
        covered,
        (exploded["namespace"] == covered["namespace"])
        & (exploded["name"] == covered["cve_name"])
        & (exploded["fv.name"] == covered["feature_name"]),
        "left_anti",
    )
    scalars = [c for c in df.columns if c != "fixed_in"]
    regrouped = (
        kept.groupBy("vid")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("fv_pos").alias("p"), F.col("fv").alias("t")))
            )["t"].alias("fixed_in"),
            *[F.min_by(c, "fv_pos").alias(c) for c in scalars],
        )
        .filter(F.size("fixed_in") > 0)
        .select(*df.columns)
    )
    return regrouped.unionByName(rhsas)


@register_distro("redhat")
def load(spark: SparkSession, source_root: str) -> DataFrame:
    pattern = os.path.join(source_root, "redhat", "*", "*.oval.xml*")
    if not glob.glob(pattern):
        raise FileNotFoundError(f"no RHEL OVAL files under {pattern}")
    # merge_cve_map and cull_rhsa read the parsed rows three times; parse once
    parsed = read_oval_files(spark, pattern, parse_rhel_doc).localCheckpoint(eager=False)
    return cull_rhsa(merge_cve_map(parsed))
