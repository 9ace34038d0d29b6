"""Feeds workloads: advisory corpus → ``plans.pipeline.run`` →
``memdb.update_db`` → the compact and regular containers.

An untraced pass is exactly what ``python -m vul_dbgen_spark`` runs. A
traced pass wraps the public functions of each layer from outside and
persists and counts each layer's output inside its own span, so each
layer's time is its own.
"""

from __future__ import annotations

import gzip
import hashlib
import importlib.util
import json
import os
import shutil
import struct
import time
from contextlib import ExitStack
from unittest import mock

from vul_dbgen_spark.plans import enrich, pipeline
from vul_dbgen_spark.sinks import memdb
from vul_dbgen_spark.sources import APP_SOURCES, DISTRO_SOURCES, META_SOURCES
from vul_dbgen_spark.sources.apps import APP_SOURCE_ORDER

SOURCE_NAMES = [*pipeline.DISTRO_SOURCE_ORDER, *APP_SOURCE_ORDER, "nvd"]
VERSION = "1.0"
UPDATE_TIME = "2024-01-01T00:00:00+00:00"  # fixed, so every pass writes the same bytes

# How each bucket's lines grow with the generator's copy counts: lines
# that never replicate, and which copies carry the rest ("file": per-file
# feeds; "feed": single-file feeds; "both": rows that need a copy of
# each, e.g. amazon pages with their ALAS item, chainguard OSV with its
# NVD record). At one copy each, the totals are tests/test_sink.py's goldens.
BUCKET_SCALING = {
    "ubuntu": (0, "file"),
    "amazon": (0, "both"),
    "chainguard": (0, "both"),
    "wolfi": (0, "both"),
    "photon": (1, "feed"),  # photon 1.0 is not replicated
}
# apps.tb: golang OSV rows ride the per-file copies, GHSA/k8s-manual rows
# the single-file ones; nginx, openssl, openshift and NVD-whitelist rows
# never replicate
APP_LINES = {"fixed": 12, "file": 2, "feed": 6}


def _load_sink_goldens(repo_root: str):
    path = os.path.join(repo_root, "tests", "test_sink.py")
    spec = importlib.util.spec_from_file_location("perfbench_sink_goldens", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.GOLDEN_BUCKET_LINES, mod.GOLDEN_NAMESPACES, mod.GOLDEN_APP_LINES


def expected_output(repo_root: str, file_copies: int, feed_copies: int):
    """({bucket: lines}, {bucket: namespaces}, app lines) for a corpus."""
    lines, namespaces, app_lines = _load_sink_goldens(repo_root)
    if sum(APP_LINES.values()) != app_lines:
        raise RuntimeError("APP_LINES no longer adds up to the sink goldens")
    copies = {"file": file_copies, "feed": feed_copies, "both": min(file_copies, feed_copies)}
    want = {}
    for bucket, n in lines.items():
        fixed, kind = BUCKET_SCALING.get(bucket, (0, "feed"))
        want[bucket] = fixed + (n - fixed) * copies[kind]
    want_apps = APP_LINES["fixed"] + sum(APP_LINES[k] * copies[k] for k in ("file", "feed"))
    return want, namespaces, want_apps


def _container_tar_bytes(path: str) -> int:
    with open(path, "rb") as f:
        (hlen,) = struct.unpack(">i", f.read(4))
        f.seek(hlen, os.SEEK_CUR)
        return len(gzip.decompress(memdb.decrypt(f.read())))


class FeedsWorkload:
    items_per_pass = 1

    def __init__(self, spark, repo_root: str, inputs_dir: str, out_root: str, spec: dict, seed: int):
        self.spark = spark
        self.source_root = os.path.join(inputs_dir, "vul-source")
        self.out_root = out_root
        self.want = expected_output(repo_root, spec["file_copies"], spec["feed_copies"])
        self.reference = None  # decrypted content of the first pass

    # -- passes ----------------------------------------------------------

    def run_pass(self, i: int, tracer=None) -> tuple[float, dict]:
        out_dir = os.path.join(self.out_root, f"pass{i}")
        if tracer is not None:
            return self._traced_pass(tracer, out_dir)
        t0 = time.perf_counter()
        os_out, app_out = pipeline.run(self.spark, self.source_root)
        memdb.update_db(os_out, app_out, out_dir, version=VERSION, update_time=UPDATE_TIME)
        return time.perf_counter() - t0, {"out_dir": out_dir}

    def _traced_pass(self, tracer, out_dir: str) -> tuple[float, dict]:
        persisted = []
        captured = {}

        def materialize(df) -> int:
            if not df.is_cached:
                df.persist()
                persisted.append(df)
            return df.count()

        def source(name, load):
            def traced_load(spark, root):
                df = captured[name] = load(spark, root)
                with tracer.span(f"sources.{name}") as s:
                    s.attrs["rows"] = materialize(df)
                return df

            return traced_load

        def layer(name, fn, counts):
            def traced(*args, **kwargs):
                out = fn(*args, **kwargs)
                with tracer.span(name) as s:
                    s.attrs.update(counts(args[0], out))
                return out

            return traced

        def capture(key, fn):
            def captured_fn(*args):
                captured[key] = fn(*args)
                return captured[key]

            return captured_fn

        app_spans = {f"sources.{n}" for n in APP_SOURCE_ORDER}

        def upsert_counts(inp, out):
            return {"rows_in": materialize(inp), "rows_out": materialize(out)}

        def app_upsert_counts(_spark, out):
            # the app upsert's input is the union of the app sources
            rows_in = sum(s.attrs["rows"] for s in tracer.spans if s.name in app_spans)
            return {"rows_in": rows_in, "rows_out": materialize(out)}

        def enrich_counts(inp, out):
            n_in = materialize(inp)
            n_out = materialize(out)
            return {"rows_gated": n_in - n_out}

        with ExitStack() as hooks:
            for registry in (DISTRO_SOURCES, APP_SOURCES, META_SOURCES):
                traced = {n: source(n, fn) for n, fn in registry.items() if n in SOURCE_NAMES}
                hooks.enter_context(mock.patch.dict(registry, traced))
            for owner, fn, wrapper in [
                (pipeline, "os_keyed_upsert", lambda f: layer("upsert", f, upsert_counts)),
                (pipeline, "load_all_apps", lambda f: layer("upsert", f, app_upsert_counts)),
                (enrich, "assign_distro_metadata", lambda f: layer("enrich", f, enrich_counts)),
                (enrich, "assign_app_metadata", lambda f: layer("enrich", f, enrich_counts)),
                (enrich, "build_distro_meta", lambda f: capture("build_distro_meta", f)),
                (enrich, "build_app_meta", lambda f: capture("build_app_meta", f)),
            ]:
                hooks.enter_context(mock.patch.object(owner, fn, wrapper(getattr(owner, fn))))

            with tracer.span("pass") as root:
                with tracer.span("build"):
                    os_out, app_out = pipeline.run(self.spark, self.source_root)
                with tracer.span("sink.serialize"):
                    os_lines = memdb.os_vuln_lines(os_out)
                    app_lines = memdb.app_vuln_lines(app_out)
                    materialize(os_lines)
                    materialize(app_lines)
                # update_db serializes through these two; hand it the
                # persisted lines so its span holds only drain and assembly
                hooks.enter_context(mock.patch.object(memdb, "os_vuln_lines", lambda df: os_lines))
                hooks.enter_context(mock.patch.object(memdb, "app_vuln_lines", lambda df: app_lines))
                with tracer.span("sink.update_db"):
                    memdb.update_db(os_out, app_out, out_dir, version=VERSION, update_time=UPDATE_TIME)

        nvd_cves = captured["nvd"].select("cve")
        hits = keys = 0
        for key in ("build_distro_meta", "build_app_meta"):
            keys += captured[key].count()
            hits += captured[key].join(nvd_cves, "cve", "left_semi").count()
        root.attrs["nvd_hit_rate"] = hits / keys if keys else 0.0
        for df in persisted:
            df.unpersist(blocking=True)
        return root.end - root.start, {"out_dir": out_dir}

    # -- output check ----------------------------------------------------

    def check(self, result: dict) -> tuple[int, list[str]]:
        """(items checked, problems found); also records output sizes."""
        out_dir = result["out_dir"]
        problems = []
        content = {}
        for db in (memdb.COMPACT_DB_NAME, memdb.REGULAR_DB_NAME):
            header, files = memdb.read_db_file(os.path.join(out_dir, db))
            shas = {name: hashlib.sha256(body).hexdigest() for name, body in files.items()}
            if header["Shas"] != shas:
                problems.append(f"{db}: header Shas do not match the members")
            content[db] = (header, files)
        _, files = content[memdb.REGULAR_DB_NAME]
        want_lines, want_ns, want_apps = self.want
        for bucket, n in want_lines.items():
            full = files[f"{bucket}_full.tb"].decode().splitlines()
            idx = files[f"{bucket}_index.tb"].decode().splitlines()
            if not len(full) == len(idx) == n:
                problems.append(f"{bucket}: {len(full)} full / {len(idx)} index lines, want {n}")
            namespaces = sorted({json.loads(line)["NS"] for line in full})
            if namespaces != want_ns[bucket]:
                problems.append(f"{bucket}: namespaces {namespaces}, want {want_ns[bucket]}")
        n_apps = len(files["apps.tb"].decode().splitlines())
        if n_apps != want_apps:
            problems.append(f"apps.tb: {n_apps} lines, want {want_apps}")
        if self.reference is None:
            self.reference = content
        elif content != self.reference:
            problems.append("decrypted content differs from the first pass")
        regular = os.path.join(out_dir, memdb.REGULAR_DB_NAME)
        result["container_bytes"] = sum(
            os.path.getsize(os.path.join(out_dir, db)) for db in (memdb.COMPACT_DB_NAME, memdb.REGULAR_DB_NAME)
        )
        result["sink_lines"] = sum(body.count(b"\n") for name, body in files.items() if name.endswith(".tb"))
        result["tar_bytes"] = _container_tar_bytes(regular)
        shutil.rmtree(out_dir)
        return self.items_per_pass, problems

    # -- per-layer metrics -------------------------------------------------

    def layer_metrics(self, tracer, result: dict) -> dict:
        def attr(name, key):
            return sum(s.attrs.get(key, 0) for s in tracer.spans if s.name == name)

        m = {
            "build.s": tracer.total("s", {"build"}),
            "build.py4j_calls": tracer.total("py4j_calls", {"build"}),
            "build.spark_jobs": tracer.total("spark_jobs", {"build"}),
        }
        for name in SOURCE_NAMES:
            m[f"sources.{name}.s"] = tracer.total("s", {f"sources.{name}"})
            m[f"sources.{name}.rows"] = attr(f"sources.{name}", "rows")
        m["upsert.s"] = tracer.total("s", {"upsert"})
        m["upsert.rows_in"] = attr("upsert", "rows_in")
        m["upsert.rows_out"] = attr("upsert", "rows_out")
        m["enrich.s"] = tracer.total("s", {"enrich"})
        m["enrich.nvd_hit_rate"] = attr("pass", "nvd_hit_rate")
        m["enrich.rows_gated"] = attr("enrich", "rows_gated")
        m["sink.serialize_s"] = tracer.total("s", {"sink.serialize"})
        m["sink.update_db_s"] = tracer.total("s", {"sink.update_db"})
        m["sink.lines"] = result["sink_lines"]
        m["sink.tar_bytes"] = result["tar_bytes"]
        m["container_bytes"] = result["container_bytes"]
        return m
