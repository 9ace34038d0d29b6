"""catalog_graph workload: the LSH-cluster, label-propagation, PageRank
and k-hop catalog entries, each collected and compared with its DuckDB
oracle's hash. The seed shuffles the entry order."""

from __future__ import annotations

import json
import os
import random
import time

from vul_dbgen_spark.queries.catalog import REGISTRY

import graphgen


class CatalogGraphWorkload:
    items_per_pass = len(graphgen.ENTRIES)

    def __init__(self, spark, repo_root: str, inputs_dir: str, out_root: str, spec: dict, seed: int):
        self.spark = spark
        self.tables = os.path.join(inputs_dir, "tables")
        with open(os.path.join(inputs_dir, "oracle.json"), encoding="utf-8") as f:
            self.oracle = json.load(f)
        self.entries = list(graphgen.ENTRIES)
        random.Random(seed).shuffle(self.entries)

    def run_pass(self, i: int, tracer=None) -> tuple[float, dict]:
        results = {}
        t0 = time.perf_counter()
        if tracer is None:
            for name in self.entries:
                df = REGISTRY[name].fn(self.spark, self.tables)
                results[name] = (df.columns, df.collect())
            return time.perf_counter() - t0, {"results": results}
        with tracer.span("pass") as root:
            for name in self.entries:
                with tracer.span(f"catalog.{name}"):
                    df = REGISTRY[name].fn(self.spark, self.tables)
                    results[name] = (df.columns, df.collect())
        return root.end - root.start, {"results": results}

    def check(self, result: dict) -> tuple[int, list[str]]:
        problems = []
        for name, (cols, rows) in result.pop("results").items():
            if graphgen.result_hash(cols, rows) != self.oracle[name]:
                problems.append(f"{name}: result hash differs from the DuckDB oracle")
        return self.items_per_pass, problems

    def layer_metrics(self, tracer, result: dict) -> dict:
        m = {}
        for name in graphgen.ENTRIES:
            span = {f"catalog.{name}"}
            m[f"catalog.{name}.s"] = tracer.total("s", span)
            m[f"catalog.{name}.spark_jobs"] = tracer.total("spark_jobs", span)
            m[f"catalog.{name}.tasks"] = tracer.total("tasks", span)
            m[f"catalog.{name}.executor_cpu_s"] = tracer.total("executor_cpu_ns", span) / 1e9
            m[f"catalog.{name}.shuffle_write_bytes"] = tracer.total("shuffle_write_bytes", span)
            m[f"catalog.{name}.py4j_calls"] = tracer.total("py4j_calls", span)
        return m
