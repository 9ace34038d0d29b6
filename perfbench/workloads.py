"""The benchmark's workloads: what each one feeds the program."""

WORKLOADS = {
    # the committed fixtures (41 files, 56 KB): the per-run overhead floor
    # of plan build, scheduling and Python workers
    "feeds_x1": {"kind": "feeds", "file_copies": 1, "feed_copies": 1},
    # production-shaped: ~1.5k per-file advisories, ~43 MB of single-file
    # feeds, so parse, upsert, enrich and sink scale with the data
    "feeds_bulk": {"kind": "feeds", "file_copies": 100, "feed_copies": 1000},
    # the iterative graph and near-duplicate catalog entries, with every
    # feeds layer idle
    "catalog_graph": {"kind": "catalog"},
}
