from __future__ import annotations

from pyspark.sql import functions as F

from spiders_for_all_spark.functions.partitioning import ensure_width, fence


def test_fence_keeps_values_nullability_and_nulls(spark):
    df = spark.createDataFrame(
        [([1, 2], "a", 1, [3], "b", 2), (None, None, None, [], "", 0)],
        "na array<int>, ns string, ni int, "
        "a array<int> not null, s string not null, i int not null",
    )
    out = df.select(*[fence(F.col(c)).alias(c) for c in df.columns])
    assert [(f.name, f.dataType, f.nullable) for f in out.schema] == [
        (f.name, f.dataType, f.nullable) for f in df.schema
    ]
    assert [f.nullable for f in out.schema] == [True] * 3 + [False] * 3
    rows = out.collect()
    assert rows == df.collect()
    assert tuple(rows[1])[:3] == (None, None, None)


def test_ensure_width_widens_only_narrow_inputs(spark, tmp_path, monkeypatch):
    par = spark.sparkContext.defaultParallelism
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    one = str(tmp_path / "one")
    many = str(tmp_path / "many")
    spark.range(100).coalesce(1).write.parquet(one)
    spark.range(100).repartition(2 * par).write.parquet(many)
    conf_sets = []
    monkeypatch.setattr(type(spark.conf), "set", lambda self, *a: conf_sets.append(a))

    narrow = spark.read.parquet(one)
    widened = ensure_width(narrow, "id")
    assert widened is not narrow
    plan = widened._jdf.queryExecution().optimizedPlan().toString()
    assert "RepartitionByExpression [id#" in plan and f", {par}" in plan
    assert sorted(r["id"] for r in widened.collect()) == list(range(100))

    shuffled = narrow.groupBy((F.col("id") % 7).alias("k")).count()
    assert ensure_width(shuffled, "k") is shuffled
    wide = spark.read.parquet(many)
    assert ensure_width(wide, "id") is wide
    assert conf_sets == []
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe
