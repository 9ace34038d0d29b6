"""CLI entry: ``python -m vul_dbgen_spark`` — the ``dbgen`` binary analog.

Flag surface mirrors the reference (``dbgen.go:38-86``):

- ``-v``      cve database version (must parse as a float, default 0.90;
              exit 2 on parse failure like ``dbgen.go:50-54``);
- ``-d``      cve database output path;
- ``-debug``  debug filters, e.g. ``-debug v=CVE-2023-1000`` — matching
              records are dumped as JSON at the end of the run
              (``common/debug.go:26-44`` ParseDebugFilters / DEBUG_VULN);
- ``-s``      source root (this engine is local-file-first; the
              reference reads a baked share path, we take it as a flag).

Flow is the reference's main: open db → updater.Update → db.UpdateDb →
"Update CVE database successfully" (``dbgen.go:63-86``), expressed as
pipeline.run → memdb.update_db in one Spark session.
"""

from __future__ import annotations

import argparse
import json
import sys


def parse_debug_filters(s: str) -> set[str]:
    """``v=CVE-a,CVE-b`` → {"CVE-a", "CVE-b"} (common/debug.go:26-44:
    comma-split tokens, ``k=v`` pairs, only the ``v`` key is defined)."""
    cves: set[str] = set()
    for token in s.split(","):
        kvs = token.split("=")
        if len(kvs) >= 2 and kvs[0] == "v":
            cves.update(v for v in kvs[1].split(",") if v)
        elif "=" not in token and cves:
            # continuation of a previous v=a,b,c list after comma-split
            cves.add(token)
    return cves


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="vul_dbgen_spark", description="generate the vulnerability database"
    )
    ap.add_argument("-v", default="0.90", metavar="VERSION", help="cve database version")
    ap.add_argument("-d", default="", metavar="PATH", help="cve database path")
    ap.add_argument(
        "-debug", default="", metavar="FILTERS",
        help="debug filters. -debug v=CVE-2023-1000",
    )
    ap.add_argument(
        "-s", default="fixtures/vul-source", metavar="SOURCE_ROOT",
        help="source feed root (local-file layout)",
    )
    args = ap.parse_args(argv)

    try:
        float(args.v)
    except ValueError:
        print(f"Parse version fail: {args.v!r}", file=sys.stderr)
        return 2

    debug_cves = parse_debug_filters(args.debug) if args.debug else set()

    from .plans import pipeline
    from .session import get_spark
    from .sinks import memdb

    spark = get_spark("vul_dbgen_spark")
    os_out, app_out = pipeline.run(spark, args.s)

    if debug_cves:
        # DEBUG_VULN analog: dump every matching record post-enrichment
        for r in os_out.filter(os_out.name.isin(*debug_cves)).collect():
            print("DEBUG os  " + json.dumps(r.asDict(recursive=True), default=str))
        for r in app_out.filter(app_out.vul_name.isin(*debug_cves)).collect():
            print("DEBUG app " + json.dumps(r.asDict(recursive=True), default=str))

    out_dir = args.d or "."
    memdb.update_db(os_out, app_out, out_dir, version=args.v)
    print("Update CVE database successfully")
    return 0


if __name__ == "__main__":
    sys.exit(main())
