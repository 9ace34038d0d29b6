"""Session-hygiene regression (round-5 VERDICT directive #7).

`winnow_duplicate_pairs` (operators/dedup.py) deliberately defers the
release of its fingerprint persist to the caller's session hygiene —
the returned frame is lazy, so an operator-side eager unpersist would
undo the sharing before anything executed. The contract that makes the
deferral safe is that the standard hygiene step (bench.py's
`_release_state`, mirrored by tools/full_parity.py) actually returns
the session to a zero-persistent-RDD state between catalog
invocations. This test pins that contract: two invocations of the
winnowing entry (and of the other persist-using dedup entries) in one
session, each followed by the hygiene step, never accumulate
block-manager state."""

from pyspark.sql import functions as F  # noqa: F401 — session warm import

SF = "/root/testdata/sf0.001"

ENTRIES = [
    # the documented deferred-release persist (dedup.py:300)
    "dedup_winnowing_pairs",
    # the other posting-style persists in the family
    "dedup_ngram_jaccard_capped",
    "dedup_clusters",
]


def _release(spark) -> None:
    """bench.py's _release_state, verbatim semantics: drop the SQL
    cache, unpersist every persistent RDD, nudge a JVM GC."""
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    for rdd in list(jsc.getPersistentRDDs().values()):
        rdd.unpersist()
    spark.sparkContext._jvm.System.gc()


def _n_persistent(spark) -> int:
    return len(dict(spark.sparkContext._jsc.getPersistentRDDs()))


def test_no_persistent_rdd_leak_across_catalog_invocations(spark):
    from vul_dbgen_spark.queries.catalog import REGISTRY

    _release(spark)
    assert _n_persistent(spark) == 0

    for name in ENTRIES:
        spec = REGISTRY[name]
        for _ in range(2):
            assert spec.fn(spark, SF).count() >= 0
            _release(spark)
            assert _n_persistent(spark) == 0, (
                f"{name}: persistent RDDs survive the session hygiene "
                f"step — the deferred-release contract is broken"
            )


def test_winnow_persist_exists_while_lazy_frame_lives(spark):
    """The deferral is deliberate: while the returned frame is alive
    and materialized, the fingerprint persist must be present (that IS
    the sharing the operator buys); hygiene then releases it."""
    from vul_dbgen_spark.operators.dedup import winnow_duplicate_pairs

    _release(spark)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = winnow_duplicate_pairs(docs, "doc_id", "text", min_shared=3)
    out.count()
    assert _n_persistent(spark) >= 1  # the fingerprint table is cached
    _release(spark)
    assert _n_persistent(spark) == 0


def test_pipeline_checkpoints_are_released(spark):
    """pipeline.run cuts its shared intermediates with localCheckpoint;
    those RDDs live until the hygiene step, which must release them."""
    import os

    from vul_dbgen_spark.plans import pipeline

    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures", "vul-source"
    )
    _release(spark)
    os_out, app_out = pipeline.run(spark, root, ["redhat"], ["k8s"])
    os_out.count()
    app_out.count()
    assert _n_persistent(spark) >= 1
    _release(spark)
    assert _n_persistent(spark) == 0
