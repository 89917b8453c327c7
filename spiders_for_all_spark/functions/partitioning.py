"""Width guard and determinism fence for compute-heavy per-row stages.

A catalog-scale documents/embeddings table is one small parquet file, so
its scan plans as ONE task — and every interpreted HOF / regex / hash in
the projection above it runs serially no matter how many cores the
session has.  ``ensure_width`` hash-repartitions such an input up to the
session's default parallelism, and is a NO-OP whenever the source is
already at least that wide (the real-cluster case: a 100 TB table scans
as thousands of splits, where an extra shuffle of the corpus would be
pure waste).  Scale-adaptive by construction: the target derives from
the session, never a constant (guide §2).

Only apply it where per-row work dominates and the downstream
aggregation is partitioning-safe (integer counts, min/max/struct
keepers, per-row maps, or per-key windows) — hash partitioning by the
row key keeps each key's rows in one task, in one deterministic map
order.  ``fence`` keeps a computed column's expression evaluated once
per row (tests/test_plan_lint.py checks every catalog plan for it).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def ensure_width(df: DataFrame, key: str | Column) -> DataFrame:
    """Hash-repartition ``df`` by ``key`` to the session default
    parallelism iff the current plan has fewer partitions than that.

    The width is read from a NON-adaptive physical plan of ``df``'s
    optimized plan, prepared on the side: under AQE, RDD conversion of a
    plan that contains an exchange EXECUTES the upstream query stages
    eagerly (AdaptiveSparkPlanExec finalizes on RDD conversion) — a
    whole wasted job per probe.  Non-adaptive RDD conversion is pure
    planning (zero jobs), and its static partition count makes the right
    call either way: a plan with an exchange below reports the session
    shuffle partitioning (already wide -> no-op), a bare scan reports
    its file splits.  The session's own config is never touched.
    """
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    plan = spark._jvm.org.apache.spark.sql.execution.QueryExecution.prepareExecutedPlan(
        spark._jsparkSession, df._jdf.queryExecution().optimizedPlan()
    )
    if plan.execute().getNumPartitions() >= par:
        return df
    return df.repartition(par, key)


def fence(col: Column) -> Column:
    """``col`` with the same value and declared nullability (null stays
    null), behind a guard the optimizer cannot see through.

    A join, groupBy or explode over a computed column makes the optimizer
    infer ``isnotnull(c)`` / ``size(c) > 0``, and pushdown would inline
    the column's whole expression into that filter below the projection.
    ``spark_partition_id() >= 0`` always holds but is nondeterministic and
    bounds-opaque (``rand()`` comparisons get constant-folded), so the
    filter stays above and tests the computed attribute."""
    return F.when(F.spark_partition_id() >= 0, col).otherwise(col)
