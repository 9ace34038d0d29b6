"""The memdb sink: K1-K7 (SURVEY.md §2.2).

Behavioral spec: ``/root/reference/memdb.go`` + ``common/db.go:18-61`` +
``common/crypto.go`` + ``share/tar.go:348-367``.

- K1: each VulFull routes to the first of 12 buckets whose namespace
  substring matches (memdb.go:87-99,176-187); an unroutable namespace is
  an error.
- K2/K3: per bucket, a short index row and a full row, one JSON object
  per line, using the Go struct-tag wire keys in struct order
  (common/types.go:53-88,95-114); apps go to ``apps.tb``.
- K4: sha256 of every buffer recorded in the header's ``Shas``.
- K5: compact DB = {ubuntu,debian,centos,alpine}+apps (legacy consumer,
  memdb.go:202-231); regular DB = all 12 + apps + raw files.
- K6: ``[int32-BE header_len][KeyVersion JSON][AES-256-GCM(gzip(tar))]``
  with the all-zero 32-byte key and the nonce prepended (crypto.go:
  11-34). The nonce is random, so containers are round-trip-tested, not
  byte-compared.

Determinism: rows are ordered by (namespace, name) / (module, vulname)
— the reference's map order is arbitrary (SURVEY.md §4.3).

Scale note: the ``.tb`` serialization runs distributed (Arrow-batched
JSON writers per partition); only the final per-bucket concatenation is
driver-side, which the single-container output format forces — same as
the reference. JSON matches Go's encoder: HTML-escaped ``<>&``,
RFC3339 dates with zero value ``0001-01-01T00:00:00Z``, integral floats
without a decimal point.
"""

from __future__ import annotations

import gzip
import hashlib
import io
import json
import os
import struct
import tarfile
import threading
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor
from concurrent.futures import wait as futures_wait
from datetime import datetime, timezone

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.version import parse_unsafe

RHEL_CPE_MAP_FILE = "rhel-cpe.map"  # common/types.go RHELCpeMapFile

# (bucket substring, index file, full file) in match order (memdb.go:176-187)
BUCKETS = [
    ("ubuntu", "ubuntu_index.tb", "ubuntu_full.tb"),
    ("debian", "debian_index.tb", "debian_full.tb"),
    ("centos", "centos_index.tb", "centos_full.tb"),
    ("alpine", "alpine_index.tb", "alpine_full.tb"),
    ("amzn", "amazon_index.tb", "amazon_full.tb"),
    ("oracle", "oracle_index.tb", "oracle_full.tb"),
    ("mariner", "mariner_index.tb", "mariner_full.tb"),
    ("sles", "suse_index.tb", "suse_full.tb"),
    ("photon", "photon_index.tb", "photon_full.tb"),
    ("rocky", "rocky_index.tb", "rocky_full.tb"),
    ("wolfi", "wolfi_index.tb", "wolfi_full.tb"),
    ("chainguard", "chainguard_index.tb", "chainguard_full.tb"),
]

COMPACT_BUCKETS = [0, 1, 2, 3]  # ubuntu, debian, centos, alpine (memdb.go:213)

COMPACT_DB_NAME = "cvedb.compact"
REGULAR_DB_NAME = "cvedb.regular"

ZERO_TIME = "0001-01-01T00:00:00Z"


# ---------------------------------------------------------------------------
# Go-parity JSON encoding helpers
# ---------------------------------------------------------------------------


def _go_json(obj) -> str:
    """json.Marshal parity: compact separators, raw UTF-8, HTML-escaped
    <, >, & (Go's default encoder behavior)."""
    s = json.dumps(obj, ensure_ascii=False, separators=(",", ":"))
    return s.replace("<", "\\u003c").replace(">", "\\u003e").replace("&", "\\u0026")


def _go_float(f) -> float | int:
    if f is None or (isinstance(f, float) and f != f):  # None/NaN → Go zero
        return 0
    return int(f) if float(f).is_integer() else float(f)


def _go_time(ts) -> str:
    if isinstance(ts, datetime) and ts == ts:  # excludes None and NaT
        t = ts if ts.tzinfo else ts.replace(tzinfo=timezone.utc)
        return t.astimezone(timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")
    return ZERO_TIME


def _ver_str(v) -> str:
    """common.Version.String() — parse then re-render (normalizes the
    epoch and sentinel forms). Unparseable → zero version → ''."""
    if not v:
        return ""
    return str(parse_unsafe(v))


def _lst(v) -> list | None:
    """None-preserving list coercion (Arrow hands numpy arrays to UDFs,
    whose truthiness is ambiguous)."""
    return None if v is None else list(v)


def _has(v) -> bool:
    return v is not None and len(v) > 0


def _cvss(c) -> dict:
    c = c or {}
    return {"Vectors": c.get("vectors") or "", "Score": _go_float(c.get("score"))}


def _vul_full_line(r: dict) -> str:
    out = {
        "N": r.get("name") or "",
        "NS": r.get("namespace") or "",
        "D": r.get("description") or "",
        "L": r.get("link") or "",
        "S": r.get("severity") or "",
        "C2": _cvss(r.get("cvss_v2")),
        "C3": _cvss(r.get("cvss_v3")),
        "FB": "",
        "FI": [
            {
                "N": f.get("name") or "",
                "V": _ver_str(f.get("version")),
                "MV": _ver_str(f.get("min_ver")),
                "A": "",
            }
            for f in r["fixed_in"]
        ]
        if r.get("fixed_in") is not None
        else None,
    }
    if _has(r.get("cpes")):
        out["CPE"] = _lst(r["cpes"])
    cves = [c["name"] for c in r["cves"]] if _has(r.get("cves")) else []
    if cves:
        out["CVE"] = cves
    if r.get("feed_rating"):
        out["RATE"] = r["feed_rating"]
    out["Issue"] = _go_time(r.get("issued_date"))
    out["LastMod"] = _go_time(r.get("last_mod_date"))
    return _go_json(out)


def _vul_short_line(r: dict) -> str:
    return _go_json(
        {
            "N": r.get("name") or "",
            "NS": r.get("namespace") or "",
            "Fixin": [
                {
                    "N": f.get("name") or "",
                    "V": _ver_str(f.get("version")),
                    "MV": _ver_str(f.get("min_ver")),
                }
                for f in r["fixed_in"]
            ]
            if r.get("fixed_in") is not None
            else None,
            "CPE": _lst(r.get("cpes")),
        }
    )


def _terms(ts) -> list | None:
    if ts is None:
        return None
    return [{"O": t.get("op_code") or "", "V": t.get("version") or ""} for t in ts]


def _app_line(r: dict) -> str:
    out = {
        "VN": r.get("vul_name") or "",
        "AN": r.get("app_name") or "",
        "MN": r.get("module_name") or "",
    }
    if _has(r.get("import_paths")):
        out["IP"] = _lst(r["import_paths"])
    if _has(r.get("symbols")):
        out["SYM"] = _lst(r["symbols"])
    out.update(
        {
            "D": r.get("description") or "",
            "L": r.get("link") or "",
            "SC": _go_float(r.get("score")),
            "VV2": r.get("vectors") or "",
            "SC3": _go_float(r.get("score_v3")),
            "VV3": r.get("vectors_v3") or "",
            "SE": r.get("severity") or "",
            "AV": _terms(r.get("affected_ver")),
            "FV": _terms(r.get("fixed_ver")),
            "UV": _terms(r.get("unaffected_ver")),
            "Issue": _go_time(r.get("issued_date")),
            "LastMod": _go_time(r.get("last_mod_date")),
        }
    )
    return _go_json(out)


# ---------------------------------------------------------------------------
# Spark-side serialization (distributed)
# ---------------------------------------------------------------------------


def bucket_col(namespace) -> F.Column:
    """First bucket whose substring the namespace contains; null = error
    (memdb.go:87-99)."""
    ns = F.col(namespace) if isinstance(namespace, str) else namespace
    expr = F.lit(None).cast("int")
    for i in reversed(range(len(BUCKETS))):
        expr = F.when(ns.contains(BUCKETS[i][0]), F.lit(i)).otherwise(expr)
    return expr


def os_vuln_lines(os_vulns: DataFrame) -> DataFrame:
    """→ (bucket, name, namespace, index_line, full_line), serialized
    distributed via Arrow."""

    # a StructType input arrives as a pandas DataFrame (one column per
    # field, nested structs as dicts)
    @F.pandas_udf(T.StringType())
    def full_udf(rows: pd.DataFrame) -> pd.Series:
        return pd.Series([_vul_full_line(r) for r in rows.to_dict("records")])

    @F.pandas_udf(T.StringType())
    def short_udf(rows: pd.DataFrame) -> pd.Series:
        return pd.Series([_vul_short_line(r) for r in rows.to_dict("records")])

    whole = F.struct(*[F.col(c) for c in os_vulns.columns])
    return os_vulns.select(
        bucket_col("namespace").alias("bucket"),
        "namespace",
        "name",
        short_udf(whole).alias("index_line"),
        full_udf(whole).alias("full_line"),
    )


def app_vuln_lines(app_vulns: DataFrame) -> DataFrame:
    @F.pandas_udf(T.StringType())
    def app_udf(rows: pd.DataFrame) -> pd.Series:
        return pd.Series([_app_line(r) for r in rows.to_dict("records")])

    whole = F.struct(*[F.col(c) for c in app_vulns.columns])
    return app_vulns.select("module_name", "vul_name", app_udf(whole).alias("line"))


# ---------------------------------------------------------------------------
# Driver-side container assembly (K4-K6)
# ---------------------------------------------------------------------------


def _encrypt(plaintext: bytes) -> bytes:
    from cryptography.hazmat.primitives.ciphers.aead import AESGCM

    key = bytes(32)  # all-zero key (crypto.go:11)
    nonce = os.urandom(12)
    return nonce + AESGCM(key).encrypt(nonce, plaintext, None)


def decrypt(blob: bytes) -> bytes:
    """Inverse of the container encryption (for tests/consumers)."""
    from cryptography.hazmat.primitives.ciphers.aead import AESGCM

    key = bytes(32)
    nonce, ct = blob[:12], blob[12:]
    return AESGCM(key).decrypt(nonce, ct, None)


def _make_tar(files: list[tuple[str, bytes]]) -> bytes:
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tw:
        for name, body in files:
            info = tarfile.TarInfo(name=name)
            info.mode = 0o655  # tar.go:354
            info.size = len(body)
            tw.addfile(info, io.BytesIO(body))
    return buf.getvalue()


def _create_db_file(path: str, key_version: dict, files: list[tuple[str, bytes]]) -> None:
    header = _go_json(key_version).encode()
    blob = _encrypt(gzip.compress(_make_tar(files), mtime=0))
    with open(path, "wb") as f:
        f.write(struct.pack(">i", len(header)))
        f.write(header)
        f.write(blob)


def read_db_file(path: str) -> tuple[dict, dict[str, bytes]]:
    """Decode a container back into (header, {filename: bytes})."""
    with open(path, "rb") as f:
        (hlen,) = struct.unpack(">i", f.read(4))
        header = json.loads(f.read(hlen))
        tar_bytes = gzip.decompress(decrypt(f.read()))
    out = {}
    with tarfile.open(fileobj=io.BytesIO(tar_bytes)) as tr:
        for m in tr.getmembers():
            out[m.name] = tr.extractfile(m).read()
    return header, out


def update_db(
    os_vulns: DataFrame,
    app_vulns: DataFrame,
    out_dir: str,
    version: str,
    raw_files: dict[str, bytes] | None = None,
    update_time: str | None = None,
) -> dict[str, str]:
    """UpdateDb (memdb.go:169-274): write compact + regular containers.

    Returns the regular DB's ``Shas`` map. Rows stream to the driver via
    ``toLocalIterator`` (one partition at a time) — the single-file
    container format forces driver assembly, as in the reference.

    The bad-bucket guard rides the assembly iteration itself: every row
    passes through the iterator, where a null bucket raises before any
    container file is written, so no separate pre-check action runs.
    The os and app assemblies are two actions on two concurrent driver
    threads, so their jobs overlap; each side writes only its own
    buffers, in its own sorted order, so container bytes do not depend
    on the overlap. Both read the intermediates ``pipeline.run`` has
    already checkpointed, so the drains run only the enrich-and-serialize
    tail and no feed is parsed again here.
    """
    lines = os_vuln_lines(os_vulns)
    index_bufs = [io.BytesIO() for _ in BUCKETS]
    full_bufs = [io.BytesIO() for _ in BUCKETS]
    app_buf = io.BytesIO()

    # fail-fast handshake between the two drains (round-8 ADVICE): when
    # one side raises, ThreadPoolExecutor.__exit__ (shutdown wait=True)
    # would otherwise block until the OTHER side's full Spark pass
    # completes before the error surfaces. A shared Event set on failure
    # breaks the surviving drain out of its row loop promptly (closing
    # the loop also releases its toLocalIterator), so the error
    # propagates after at most one in-flight partition.
    failed = threading.Event()

    def _drain_os() -> None:
        try:
            for row in (
                lines.orderBy("namespace", "name")
                .select("bucket", "namespace", "index_line", "full_line")
                .toLocalIterator()
            ):
                if failed.is_set():
                    return
                b = row["bucket"]
                if b is None:
                    raise ValueError(
                        f"No known namespace bucket for: {row['namespace']}"
                    )
                index_bufs[b].write(row["index_line"].encode() + b"\n")
                full_bufs[b].write(row["full_line"].encode() + b"\n")
        except BaseException:
            failed.set()
            raise

    def _drain_app() -> None:
        try:
            for row in (
                app_vuln_lines(app_vulns)
                .orderBy("module_name", "vul_name")
                .toLocalIterator()
            ):
                if failed.is_set():
                    return
                app_buf.write(row["line"].encode() + b"\n")
        except BaseException:
            failed.set()
            raise

    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [pool.submit(_drain_os), pool.submit(_drain_app)]
        done, _pending = futures_wait(futs, return_when=FIRST_EXCEPTION)
        # surface the first failure immediately (the Event has already
        # told the survivor to stop); falls through to result() on both
        # when neither raised
        for fut in done:
            fut.result()
        for fut in futs:
            fut.result()

    raw = dict(raw_files or {})
    raw.setdefault(RHEL_CPE_MAP_FILE, b"")  # empty-file backfill (memdb.go:300-313)

    if update_time is None:
        update_time = datetime.now(timezone.utc).astimezone().isoformat(timespec="seconds")

    def sha(b: bytes) -> str:
        return hashlib.sha256(b).hexdigest()

    os.makedirs(out_dir, exist_ok=True)

    # compact DB (K5 legacy subset)
    compact_shas = {}
    compact_files = []
    for i in COMPACT_BUCKETS:
        _, idx_name, full_name = BUCKETS[i]
        compact_shas[idx_name] = sha(index_bufs[i].getvalue())
        compact_shas[full_name] = sha(full_bufs[i].getvalue())
        compact_files.append((idx_name, index_bufs[i].getvalue()))
        compact_files.append((full_name, full_bufs[i].getvalue()))
    compact_shas["apps.tb"] = sha(app_buf.getvalue())
    compact_files.append(("apps.tb", app_buf.getvalue()))
    _create_db_file(
        os.path.join(out_dir, COMPACT_DB_NAME),
        {"Version": version, "UpdateTime": update_time, "Keys": {}, "Shas": compact_shas},
        compact_files,
    )

    # regular DB (all buckets + raw files)
    regular_shas = {}
    regular_files = []
    for i, (_, idx_name, full_name) in enumerate(BUCKETS):
        regular_shas[idx_name] = sha(index_bufs[i].getvalue())
        regular_shas[full_name] = sha(full_bufs[i].getvalue())
        regular_files.append((idx_name, index_bufs[i].getvalue()))
        regular_files.append((full_name, full_bufs[i].getvalue()))
    regular_shas["apps.tb"] = sha(app_buf.getvalue())
    regular_files.append(("apps.tb", app_buf.getvalue()))
    for name, body in raw.items():
        regular_files.append((name, body))
        regular_shas[name] = sha(body)
    _create_db_file(
        os.path.join(out_dir, REGULAR_DB_NAME),
        {"Version": version, "UpdateTime": update_time, "Keys": {}, "Shas": regular_shas},
        regular_files,
    )
    return regular_shas


def write_partitioned_ndjson(os_vulns: DataFrame, app_vulns: DataFrame, out_dir: str) -> None:
    """Distributed scale-path sink: the same index/full/app NDJSON lines,
    written as text partitioned by namespace bucket — no driver assembly.

    ``update_db`` streams through the driver because the reference's
    single-container format (tar→gzip→AES) demands one byte stream; at
    100 TB the database IS the partitioned directory tree, each bucket a
    set of parallel-written text parts (readable back with
    ``spark.read.text(f"{out_dir}/index/bucket=N")``). Executors write
    their partitions directly — the driver never sees a row.
    """
    lines = os_vuln_lines(os_vulns)
    # bad-bucket guard folded into the FIRST write (round-8 ADVICE —
    # same fix as update_db's iterator guard): the old separate
    # limit(1).collect() pre-check was a full redundant execution of
    # the sources→enrich→upsert lineage before the real pass. A null
    # bucket now raises from inside the index write's row evaluation,
    # aborting the job before the full/apps writes start; the Spark
    # exception is re-surfaced as the documented ValueError below.
    _GUARD_MSG = "No known namespace bucket for: "
    guarded_index = F.when(
        F.col("bucket").isNull(),
        # concat with a null namespace is null, which would lose the text;
        # "None" is what update_db's guard prints for the same row
        F.raise_error(
            F.concat(F.lit(_GUARD_MSG), F.coalesce(F.col("namespace"), F.lit("None")))
        ),
    ).otherwise(F.col("index_line"))
    lines = lines.repartitionByRange("bucket", "namespace", "name").sortWithinPartitions(
        "bucket", "namespace", "name"
    )
    try:
        (
            lines.select("bucket", guarded_index.alias("value"))
            .write.mode("overwrite")
            .partitionBy("bucket")
            .text(os.path.join(out_dir, "index"))
        )
    except Exception as exc:  # noqa: BLE001 - unwrap only the guard's raise
        msg = str(exc)
        if _GUARD_MSG in msg:
            detail = msg[msg.index(_GUARD_MSG):].splitlines()[0].rstrip("'\"")
            raise ValueError(detail) from None
        raise
    (
        lines.select("bucket", F.col("full_line").alias("value"))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .text(os.path.join(out_dir, "full"))
    )
    (
        app_vuln_lines(app_vulns)
        .repartitionByRange("module_name", "vul_name")
        .sortWithinPartitions("module_name", "vul_name")
        .select(F.col("line").alias("value"))
        .write.mode("overwrite")
        .text(os.path.join(out_dir, "apps"))
    )
