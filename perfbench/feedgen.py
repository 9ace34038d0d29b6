"""Seeded advisory corpus for the feeds workloads.

Replicates ``fixtures/vul-source`` with ``tools/gen_pipeline_scale.py``,
loaded as a module and used unchanged, with two additions made through
its ``rewrite`` hook:

- the seed shifts every copy's id offsets: copy ``c`` is written as the
  tool's copy ``c + seed % 1000``, so two seeds give disjoint advisory ids
  with the same row counts;
- ``ELSA-YYYY-NNNN`` ids (the Oracle fixtures' form, which the tool's
  ``ELSA-YYYY:N`` pattern misses) and the middle block of ``CGA-`` ids
  (the tool's last-block shift repeats every 36 copies) are made distinct
  per copy, so no copy collapses onto another.

Per-file feeds (one advisory per file) get ``file_copies`` copies;
single-file feeds get ``feed_copies``. Copy 0 is the fixture verbatim, and
the HTML scrapes and raw pass-through files are never replicated.
"""

from __future__ import annotations

import importlib.util
import os
import re
import shutil

PER_FILE_FEEDS = [
    "ubuntu-cve-tracker",
    "apps/golang-osv",
    "ruby-advisory-db",
    "chainguard",
    "amazon/pages",
]
DICT_FEEDS = ["debian/debian.json", "debian/debian-buster.json", "debian/debian-stretch.json"]
LIST_FEEDS = [
    ("alpine/v3.18/main.json", ["packages"]),
    ("alpine/v3.18/community.json", ["packages"]),
    ("photon/cve_data_photon3.0.json", []),
    ("rocky/apollo.json", ["advisories"]),
    ("apps/k8s.json", ["items"]),
    ("nvd/nvdcve-2.0-sample.json", ["vulnerabilities"]),
]
NDJSON_FEEDS = ["github/maven.data", "github/npm.data", "app-manual/busybox.db", "app-manual/toomcat.db"]
XML_FEEDS = [
    ("redhat/7/com.redhat.rhsa-RHEL7.oval.xml", "definition", "</definitions>"),
    ("redhat/8/com.redhat.rhsa-RHEL8.oval.xml", "definition", "</definitions>"),
    ("oracle/com.oracle.elsa-ol7.xml", "definition", "</definitions>"),
    ("oracle/com.oracle.elsa-ol8.xml", "definition", "</definitions>"),
    ("suse/suse.linux.enterprise.server.15.xml", "definition", "</definitions>"),
    ("mariner-vulnerability/cbl-mariner-1.0-oval.xml", "definition", "</definitions>"),
    ("amazon/alas2.rss", "item", "</channel>"),
    ("amazon/alas2023.rss", "item", "</channel>"),
]

_ELSA_DASH = re.compile(r"ELSA-(\d{4})-(\d+)")
_CGA = re.compile(r"CGA-([0-9a-z]{4})-([0-9a-z]{4})-(?=[0-9a-z]{4})")
_B36 = "0123456789abcdefghijklmnopqrstuvwxyz"


def _b36_add(block: str, n: int) -> str:
    v = (int(block, 36) + n) % 36**4
    out = ""
    for _ in range(4):
        v, r = divmod(v, 36)
        out = _B36[r] + out
    return out


def _load_scale_tool(repo_root: str):
    path = os.path.join(repo_root, "tools", "gen_pipeline_scale.py")
    spec = importlib.util.spec_from_file_location("gen_pipeline_scale", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def generate(repo_root: str, out: str, file_copies: int, feed_copies: int, seed: int) -> None:
    """Write the corpus to ``out`` (replaced if present)."""
    tool = _load_scale_tool(repo_root)
    tool_rewrite = tool.rewrite
    base = seed % 1000

    def rewrite(text: str, c: int) -> str:
        cc = base + c
        text = _ELSA_DASH.sub(lambda m: f"ELSA-{m[1]}-{int(m[2]) + cc * 10**5}", text)
        text = _CGA.sub(lambda m: f"CGA-{m[1]}-{_b36_add(m[2], cc)}-", text)
        return tool_rewrite(text, cc)

    tool.rewrite = rewrite
    if os.path.isdir(out):
        shutil.rmtree(out)
    shutil.copytree(tool.SRC, out)
    for rel in PER_FILE_FEEDS:
        tool.per_file_copies(rel, out, file_copies)
    for rel in DICT_FEEDS:
        tool.json_merge_dict(rel, out, feed_copies)
    for rel, path in LIST_FEEDS:
        tool.json_extend_list(rel, out, feed_copies, path)
    for rel in NDJSON_FEEDS:
        tool.ndjson_append(rel, out, feed_copies)
    for rel, tag, anchor in XML_FEEDS:
        tool.xml_block_replicate(rel, out, feed_copies, tag, anchor)
