"""kmeans_lloyd is rows-only (iterative); assert the properties the
oracle can't: full coverage, monotone inertia over iterations."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_kmeans_partitions_all_vectors(spark, sf_dir):
    from tiny_etl_multiproc_bigdata_spark.catalog import table
    from tiny_etl_multiproc_bigdata_spark.plans.ivf_kmeans import kmeans_lloyd

    out = kmeans_lloyd(spark, sf_dir)
    total = out.agg(F.sum("n_vectors")).collect()[0][0]
    n = table(spark, sf_dir, "embeddings").count()
    assert total == n  # every vector in exactly one cluster
    assert out.filter(F.col("inertia") < 0).count() == 0


def test_kmeans_fixed_iters_offset_margin_and_coverage(spark, sf_dir):
    """kmeans_fixed_iters' exact cross-engine story rests on every
    quantized component staying positive in offset space (Spark `div`
    truncates, DuckDB `//` floors — they agree only on non-negative
    operands). Pin the fixture margin mechanically: max |component|
    must sit below half the offset headroom, so a hotter embedding
    vintage fails HERE with a pointed message instead of silently
    flipping a centroid division. Also: exact partition coverage and
    monotone inertia vs the initial assignment (sum of d from
    iteration 1 of the same integer recurrence)."""
    from tiny_etl_multiproc_bigdata_spark.catalog import table
    from tiny_etl_multiproc_bigdata_spark.plans.ivf_kmeans import (
        _KM_OFFSET,
        _KM_SCALE,
        kmeans_fixed_iters,
    )

    e = table(spark, sf_dir, "embeddings")
    vmax = e.select(
        F.max(F.aggregate(
            F.transform("embedding", lambda x: F.abs(x.cast("double"))),
            F.lit(0.0),
            lambda acc, v: F.greatest(acc, v),
        )).alias("m")
    ).collect()[0]["m"]
    assert vmax * _KM_SCALE < _KM_OFFSET / 2, (
        f"embedding vintage max |v|={vmax} eats the kmeans_fixed_iters "
        f"offset margin (offset={_KM_OFFSET}, scale={_KM_SCALE}): raise "
        "_KM_OFFSET (and re-check the inertia < 2^63 budget) before the "
        "floor/trunc division semantics diverge"
    )
    out = kmeans_fixed_iters(spark, sf_dir).collect()
    assert sum(r["n_vectors"] for r in out) == e.count()
    assert all(r["inertia_q"] >= 0 for r in out)


def test_kmeans_inertia_decreases(spark, sf_dir):
    """Lloyd's algorithm guarantee: total inertia is non-increasing
    across iterations (checked by running 1 vs 3 iterations)."""
    import tiny_etl_multiproc_bigdata_spark.plans.ivf_kmeans as ik

    # inertia after the INITIAL assignment (iteration 0), built from the
    # same primitives, vs after the registered 3-iteration run
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    cent0 = e.filter(F.col("vec_id") % 100 == 7).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    d = ik._l2sq(F.col("embedding"), F.col("cvec"))
    joined = e.crossJoin(F.broadcast(cent0))
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy(
        F.round(d * 1_000_000).cast("bigint").asc(), F.asc("cid")
    )
    first_assign = (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(d.alias("dist"))
    )
    inertia_1 = first_assign.agg(F.sum("dist")).collect()[0][0]
    out3 = ik.kmeans_lloyd(spark, sf_dir)
    inertia_3 = out3.agg(F.sum("inertia")).collect()[0][0]
    assert inertia_3 <= inertia_1 + 1e-6, (inertia_1, inertia_3)


def test_kmeans_fixed_iters_survives_non_integer_shuffle_partitions(
    spark, sf_dir, monkeypatch
):
    """Some managed runtimes hold ``auto`` in spark.sql.shuffle.partitions.
    OSS Spark refuses to set that value, so the conf read is patched:
    the group count falls back to the default parallelism, and the
    result does not depend on the group count."""
    from pyspark.sql.conf import RuntimeConfig

    import tiny_etl_multiproc_bigdata_spark.plans.ivf_kmeans as ik

    expected = sorted(ik.kmeans_fixed_iters(spark, sf_dir).collect())
    real_get = RuntimeConfig.get

    def get(self, key, *args, **kwargs):
        if key == "spark.sql.shuffle.partitions":
            return "auto"
        return real_get(self, key, *args, **kwargs)

    monkeypatch.setattr(RuntimeConfig, "get", get)
    assert ik._shuffle_partitions(spark) == spark.sparkContext.defaultParallelism
    assert sorted(ik.kmeans_fixed_iters(spark, sf_dir).collect()) == expected
