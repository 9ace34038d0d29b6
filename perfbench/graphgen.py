"""Seeded tables and DuckDB reference hashes for the catalog_graph workload.

The four graph entries read three tables: ``part`` (vertices and k-hop
seeds), ``lineitem`` (co-purchase and bought-after edges) and
``documents`` (MinHash-LSH near-duplicate clusters). Only the columns the
entries read are written. Every distribution is that of the sf0.1 test
tables the catalog is graded on, at a quarter of their size (``SCALE``):

- sf0.1 sizes: 20,000 parts and 150,000 order keys (the key strides in
  ``tools/gen_sf1.py``), 600,000 lineitems (its sf1 size over 10), 5,000
  documents (the count in ``operators/training.py``);
- ``p_size`` uniform in 1-50; ``l_orderkey``, ``l_partkey`` and
  ``l_linenumber`` (1-7) drawn independently and uniformly, so order keys
  repeat Poisson(4)-wise (147,236 of 150,000 present at sf0.1);
- texts of 10-100 words (uniform) over a 30-word vocabulary of uniform
  frequency; 5% of the documents (250 at sf0.1) are replaced by the text
  of another document plus the word ``dup``. Two replacements of the
  same document make the exact duplicates, ~16 per 10k documents as
  ``tools/gen_sf1.py`` records (8 at sf0.1).

Each rate and ratio above is the same at any size: 4 lines per order key,
30 per part, and (0.05n)²/2n ≈ 12.5 exact-duplicate pairs per 10k
documents. At full sf0.1 one run takes ~90 s, 28 s of it in the DuckDB
oracles, which the benchmark's run budget does not allow.

The unrecorded figures were measured on the sf0.1 parquet with DuckDB,
e.g. ``SELECT tok, count(*) FROM (SELECT unnest(string_split(text, ' '))
AS tok FROM documents) GROUP BY tok`` for the vocabulary.

Results are compared by ``result_hash``: columns sorted by name, floats
to six significant digits, rows sorted, then sha256.
"""

from __future__ import annotations

import hashlib
import json
import os

ENTRIES = [
    "dedup_clusters",
    "graph_label_propagation",
    "graph_pagerank_parts",
    "graph_khop_reach",
]
TABLES = ["part", "lineitem", "documents"]

SCALE = 0.25
N_PARTS = int(20_000 * SCALE)
N_ORDERS = int(150_000 * SCALE)
N_LINES = int(600_000 * SCALE)
N_DOCS = int(5_000 * SCALE)
NEAR_DUP_FRAC = 0.05
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()


def write_tables(out_dir: str, seed: int) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def write(name, columns):
        pq.write_table(pa.table(columns), os.path.join(out_dir, f"{name}.parquet"))

    write(
        "part",
        {
            "p_partkey": np.arange(N_PARTS, dtype=np.int64),
            "p_size": rng.integers(1, 51, N_PARTS, dtype=np.int32),
        },
    )
    write(
        "lineitem",
        {
            "l_orderkey": rng.integers(0, N_ORDERS, N_LINES, dtype=np.int64),
            "l_partkey": rng.integers(0, N_PARTS, N_LINES, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, N_LINES, dtype=np.int32),
        },
    )

    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))]) for _ in range(N_DOCS)]
    for i in rng.choice(N_DOCS, int(N_DOCS * NEAR_DUP_FRAC), replace=False):
        texts[i] = texts[(i + rng.integers(1, N_DOCS)) % N_DOCS] + " dup"
    write("documents", {"doc_id": np.arange(N_DOCS, dtype=np.int64), "text": texts})


def _norm_cell(v) -> str:
    if v is None:
        return ""
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        return "%.6g" % v
    return str(v)


def result_hash(cols: list[str], rows: list[tuple]) -> str:
    """sha256 of the normalized result."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_norm_cell(r[i]) for i in order) for r in rows)
    body = ("\x1e".join(cols[i] for i in order) + "\n" + "\n".join(lines)).encode()
    return hashlib.sha256(body).hexdigest()


def write_oracle_hashes(data_dir: str, out_path: str, oracles: dict[str, str]) -> None:
    """Run each entry's DuckDB oracle on the generated tables."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads = 4")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    hashes = {}
    for name in ENTRIES:
        cur = con.execute(oracles[name])
        cols = [d[0] for d in cur.description]
        hashes[name] = result_hash(cols, cur.fetchall())
    con.close()
    with open(out_path, "w", encoding="utf-8") as f:
        json.dump(hashes, f)
