"""embedding_near_dups' Arrow bucket re-score (r8) must be bit-identical
to the JVM self-join path — same candidate set, same left-fold dot bits,
same null semantics — on clean corpora AND on the degenerate shapes the
JVM zip_with fold defines behavior for (null vectors, null elements,
ragged lengths, NaN data values, duplicate ids)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F, types as T

from syslog_loose_spark.functions import similarity as S


def _pairs(df):
    # NaN sims are legitimate outputs (NaN data values; Spark keeps NaN
    # at a >= threshold) — normalize so tuple equality is well-defined
    def nrm(x):
        return "nan" if x != x else x
    return sorted((r["a"], r["b"], nrm(r["sim"])) for r in df.collect())


def _run_both(spark, corpus, **kw):
    jvm = S.embedding_near_dups(corpus, arrow_rescore_bytes=None, **kw)
    arr = S.embedding_near_dups(corpus, arrow_rescore_bytes=0, **kw)
    return _pairs(jvm), _pairs(arr)


def test_arrow_rescore_matches_jvm_on_fixture(spark):
    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet")
    base = emb.select("vec_id", F.expr(
        "transform(embedding, x -> cast(x as double))").alias("embedding"))
    dup = emb.select((F.col("vec_id") + 10000).alias("vec_id"), F.expr(
        "transform(embedding, x -> cast(x as double) * 1.01d)")
        .alias("embedding"))
    corpus = base.union(dup)
    for thr in (0.99, 0.9):
        jvm, arr = _run_both(spark, corpus, threshold=thr)
        assert jvm == arr and len(jvm) > 0, thr


def test_arrow_rescore_matches_jvm_synthetic_80k_shape(spark):
    """The heavy-bench shape in miniature: md5-style synthetic vectors,
    10-plane bands (occupied buckets, real candidate volume)."""
    n = 4000
    base = (F.when(F.col("vec_id") % 100 == 99, F.col("vec_id") - 1)
            .otherwise(F.col("vec_id")))
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda j: (F.pmod(F.xxhash64(base * 64 + j.cast("long")),
                          F.lit(1000)).cast("double") / 500.0 - 1.0))
    corpus = spark.range(n).select(F.col("id").alias("vec_id"),
                                   vec.alias("embedding"))
    planes = S.plane_bands(n_bands=2, n_planes=10, dim=64)
    jvm, arr = _run_both(spark, corpus, threshold=0.95, planes=planes)
    assert jvm == arr
    assert len(jvm) >= n // 100  # planted near-dups recovered


def test_arrow_rescore_null_and_ragged_semantics(spark):
    """Degenerate rows: whole-null vector, null element, ragged length,
    NaN value, duplicate id — the Arrow path must reproduce the JVM
    zip_with fold's outcome for every one (nulls drop, NaNs keep)."""
    rows = [
        (0, [1.0, 2.0, 3.0]),
        (1, [1.0, 2.0, 3.0]),          # exact dup of 0
        (2, None),                     # whole vector null
        (3, [1.0, None, 3.0]),         # null element
        (4, [1.0, 2.0]),               # ragged (shorter)
        (5, [float("nan"), 2.0, 3.0]),  # NaN data value
        (6, [float("nan"), 2.0, 3.0]),  # NaN twin
        (7, [1.0, 2.0, 3.0]),          # another dup of 0
        (7, [1.0, 2.0, 3.0]),          # duplicate id row
    ]
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType()))])
    corpus = spark.createDataFrame(rows, schema)
    # one band, zero planes -> every row in ONE bucket: all pairs are
    # candidates, so every degenerate combination is exercised
    planes = [[[1.0, 1.0, 1.0]]]
    jvm, arr = _run_both(spark, corpus, threshold=0.5, planes=planes)
    assert jvm == arr
    ids_in = {a for a, _, _ in jvm} | {b for _, b, _ in jvm}
    assert 2 not in ids_in and 3 not in ids_in  # null rows never pair


def test_arrow_gate_defaults_to_jvm_on_small_input(spark):
    """Under the default gate a small corpus takes the JVM join path.
    The banding Arrow UDF runs inside _track's eager checkpoint job, so
    the post-checkpoint re-score plan must stay free of Python
    evaluation."""
    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet").limit(100)
    base = emb.select("vec_id", F.expr(
        "transform(embedding, x -> cast(x as double))").alias("embedding"))
    plan = S.embedding_near_dups(base)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "MapInArrow" not in plan and "EvalPython" not in plan


def test_arrow_gate_skips_non_double_vectors(spark):
    """float corpora keep the JVM path (the kernel's raw-value fold is
    only bit-equal to cast-then-multiply for double elements), and
    forcing Arrow on them raises instead of silently diverging."""
    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet").limit(100)
    f32 = emb.select("vec_id", F.expr(
        "transform(embedding, x -> cast(x as float))").alias("embedding"))
    plan = S.embedding_near_dups(f32, arrow_rescore_bytes=1) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" not in plan
    with pytest.raises(ValueError):
        S.embedding_near_dups(f32, arrow_rescore_bytes=0)


@pytest.mark.parametrize("dim", [1, 7])
def test_arrow_rescore_odd_dims(spark, dim):
    # values in {1,2,3}: zero-NORM vectors are outside the operator's
    # contract (the cosine division raises under ANSI on BOTH paths)
    vec = F.transform(F.sequence(F.lit(0), F.lit(dim - 1)),
                      lambda j: (F.pmod(F.xxhash64(
                          F.col("id") * dim + j.cast("long")),
                          F.lit(3)).cast("double") + 1.0))
    corpus = spark.range(300).select(F.col("id").alias("vec_id"),
                                     vec.alias("embedding"))
    planes = S.plane_bands(n_bands=2, n_planes=2, dim=dim)
    jvm, arr = _run_both(spark, corpus, threshold=0.8, planes=planes)
    assert jvm == arr
