"""End-to-end dataflow: sources → namespacing → enrichment → upserts.

Mirrors ``fetch``/``Update`` (``/root/reference/updater/updater.go:
41-63,555-594``) and the memdb keyed upsert (``memdb.go:288-316``):

1. each distro source's response is namespaced independently (A1);
2. responses union; the memdb upsert keeps ONE record per
   ``(namespace, name)`` — last writer in the reference's channel-arrival
   order, here a deterministic source-priority window (A10);
3. app sources run through their own serial-priority orchestrator (A9),
   then NVD whitelist injection (J8) and affected-version backfill (J3);
4. ``assignMetadata`` enriches both sides against NVD and applies the
   severity gate (J1/J2/F2).

Scale notes: nvd_meta (~300k rows) broadcasts; distro/app fact sides
shuffle only on their group keys; everything else is narrow. Three
intermediates each feed several consumers — nvd_meta
(whitelist injection, version backfill, both meta builds), the upserted
distro rows (their meta build and their metadata assignment) and the
corrected app rows (likewise). A lazy plan re-executes a shared subtree
once per consumer and once per action, and ``memdb.update_db`` drains
the two sides as two actions, so without a cut every feed would be
parsed several times per run. Each of the three is therefore cut off
its lineage with ``localCheckpoint(eager=False)``; RHEL's parsed OVAL
rows get the same cut inside ``sources.rhel``. Where the cut plan holds
a shuffle, AQE runs its upstream stages at the ``localCheckpoint`` call,
so ``run`` itself executes the source and upsert stages and the sink
drains only the enrich-and-serialize tail. The checkpointed RDDs are
new on every call (a later run never reads an earlier run's data) and
are released by the caller's session hygiene (``getPersistentRDDs``
unpersist), like every other checkpoint in the engine. ``persist`` is
not used: the cache manager matches cached data by plan, so a second
run in the same session would read the first run's rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import DISTRO_SOURCES, META_SOURCES
from ..sources.apps import load_all as load_all_apps
from . import enrich
from .namespacing import do_vulnerabilities_namespacing

# registration order = dbgen.go:17-29 import side effects; used as the
# deterministic stand-in for channel-arrival order (SURVEY.md §4.3)
DISTRO_SOURCE_ORDER = [
    "alpine",
    "amazon",
    "chainguard",
    "debian",
    "mariner",
    "oracle",
    "photon",
    "redhat",
    "rocky",
    "suse",
    "ubuntu",
    "wolfi",
]


def os_keyed_upsert(df: DataFrame) -> DataFrame:
    """A10/K7: one row per (namespace, name), highest source priority wins
    (memdb.go:288-316 last-writer-wins made deterministic)."""
    w = Window.partitionBy("namespace", "name").orderBy(F.desc("source_priority"))
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn", "source_priority")
    )


def load_distro_vulns(
    spark: SparkSession, source_root: str, sources: list[str] | None = None
) -> DataFrame:
    """fetchDistroVul (updater.go:88-120): per-source load + namespacing,
    tagged with source priority for the later upsert."""
    names = [s for s in DISTRO_SOURCE_ORDER if sources is None or s in sources]
    if not names:
        raise ValueError("no distro sources selected")

    parts = []
    for prio, name in enumerate(names):
        df = do_vulnerabilities_namespacing(DISTRO_SOURCES[name](spark, source_root))
        parts.append(df.withColumn("source_priority", F.lit(prio)))
    rows = parts[0]
    for p in parts[1:]:
        rows = rows.unionByName(p)
    return rows


def run(
    spark: SparkSession,
    source_root: str,
    distro_sources: list[str] | None = None,
    app_sources: list[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Full pipeline → (os_vulns, app_vulns), enriched, gated, upserted."""
    # shared intermediates are cut off their lineage (see "Scale notes")
    nvd_meta = META_SOURCES["nvd"](spark, source_root).localCheckpoint(eager=False)

    os_vulns = load_distro_vulns(spark, source_root, distro_sources)
    os_vulns = os_keyed_upsert(os_vulns).localCheckpoint(eager=False)

    apps = load_all_apps(spark, source_root, app_sources)
    apps = enrich.inject_nvd_whitelist_apps(apps, nvd_meta)
    apps = enrich.correct_app_affected_version(apps, nvd_meta).localCheckpoint(eager=False)

    distro_meta = enrich.build_distro_meta(os_vulns, nvd_meta)
    app_meta = enrich.build_app_meta(apps, nvd_meta)

    os_out = enrich.assign_distro_metadata(os_vulns, distro_meta)
    app_out = enrich.assign_app_metadata(apps, app_meta)
    return os_out, app_out
