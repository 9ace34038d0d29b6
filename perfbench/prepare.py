"""Make one workload's inputs from its seed, in a process of its own.

    python3 perfbench/prepare.py <workload> <seed> <out_dir>

Feeds workloads get ``<out_dir>/vul-source``; catalog_graph gets
``<out_dir>/tables`` and ``<out_dir>/oracle.json`` (each entry's DuckDB
reference hash). Running this apart from the measured process keeps the
generator's and DuckDB's memory out of the driver's peak RSS.
"""

from __future__ import annotations

import compileall
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

from workloads import WORKLOADS  # noqa: E402


def main(workload: str, seed: int, out_dir: str) -> None:
    # compile the program's bytecode here, so set-up times imports only
    compileall.compile_dir(os.path.join(ROOT, "vul_dbgen_spark"), quiet=1)
    spec = WORKLOADS[workload]
    if spec["kind"] == "feeds":
        import feedgen

        feedgen.generate(
            ROOT, os.path.join(out_dir, "vul-source"), spec["file_copies"], spec["feed_copies"], seed
        )
    else:
        import graphgen
        from vul_dbgen_spark.queries.catalog import REGISTRY

        tables = os.path.join(out_dir, "tables")
        graphgen.write_tables(tables, seed)
        oracles = {name: REGISTRY[name].oracle for name in graphgen.ENTRIES}
        graphgen.write_oracle_hashes(tables, os.path.join(out_dir, "oracle.json"), oracles)


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]), sys.argv[3])
