"""The benchmark's workloads: which engine queries each one runs, in order.

Queries are looked up by their registered name through the engine's
driver contract (``__spark_entry__.queries()``), so the benchmark calls
exactly what an external driver calls.  The curation pipeline's artifact
build is not a registered query; it is the engine's bench entry point for
the PQ index write.
"""

from __future__ import annotations

from collections.abc import Callable

WORKLOADS: dict[str, tuple[str, ...]] = {
    # JVM-only scan/join/aggregate plans (TPC-H Q1, Q5, Q21 and Q22):
    # Catalyst, scan, shuffle and AQE do the work; no Python workers,
    # checkpoints or writes.
    "tpch_sql": (
        "q1_pricing_summary",
        "q5_local_supplier_volume",
        "q21_waiting_suppliers",
        "dormant_rich_customers",
    ),
    # LLM-data curation: a PQ index build (pandas UDFs, parquet writes
    # read back), an in-plan quality operator, and a driver-looped graph
    # algorithm with per-round jobs and checkpoints.
    "curation_pipeline": (
        "mat_pq_build",
        "quality_score",
        "label_propagation_communities",
    ),
}

# Engine modules the workloads' queries are defined in; a traced run reports
# build and exec time for each.
MODULES = (
    "operators.sql_analytics",
    "operators.analytics_ext",
    "operators.quality",
    "operators.pagerank",
    "plans.materialize",
)

# Artifact builds have no oracle of their own: each returns a row count per
# artifact, which must all be non-zero, and the check then runs a consumer
# of the stored artifacts against the consumer's oracle.
# name -> (bench entry point in plans.materialize, consumer query)
ARTIFACT_BUILDS = {"mat_pq_build": ("bench_pq_build", "mat_knn_ivfpq")}


def resolve(workload: str) -> list[tuple[str, Callable]]:
    """(name, query function) pairs of one workload, in run order."""
    import __spark_entry__
    from big_data_toolkit_spark.plans import materialize

    registry = __spark_entry__.queries()
    out = []
    for name in WORKLOADS[workload]:
        if name in ARTIFACT_BUILDS:
            out.append((name, getattr(materialize, ARTIFACT_BUILDS[name][0])))
        else:
            out.append((name, registry[name]))
    return out


def module_of(fn: Callable) -> str:
    """Engine module that defines ``fn``, without the package prefix."""
    return fn.__module__.removeprefix("big_data_toolkit_spark.")
