"""The LSH banding kernel (similarity._band_keys, behind _banded_buckets)
must equal the JVM expressions it replaces — ``hyperplane_signs`` for
every band key and ``norm`` for the per-row norm — bit for bit, on clean
corpora and on every degenerate shape the zip_with/aggregate fold
defines behavior for."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F, types as T

from syslog_loose_spark.functions import similarity as S

INF = float("inf")
NAN = float("nan")


def _reference(df, bands):
    return df.select(
        F.col("vec_id").alias("id"),
        S.norm(F.col("embedding")).alias("v_n"),
        F.posexplode(F.array(*[S.hyperplane_signs(F.col("embedding"), b)
                               for b in bands])).alias("band", "bucket"))


def _rows(df):
    return sorted((r["id"], r["band"], r["bucket"], repr(r["v_n"]))
                  for r in df.collect())


def _assert_equal_to_reference(df, planes):
    bands = S._as_bands(planes)
    got = _rows(S._banded_buckets(df, bands, "vec_id", "embedding",
                                  "id", "v"))
    want = _rows(_reference(df, bands))
    assert got == want
    return got


def _frame(spark, rows, elem=T.DoubleType()):
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(elem))])
    return spark.createDataFrame(rows, schema)


DEGENERATE = [
    (0, [1.0, 2.0, 3.0]),
    (1, None),                         # whole vector null
    (2, [1.0, None, 3.0]),             # null element
    (3, [1.0, 2.0]),                   # shorter than the planes
    (4, [1.0, 2.0, 3.0, 4.0]),         # longer than the planes
    (5, []),                           # empty
    (6, [NAN, 1.0, 1.0]),              # NaN data value
    (7, [INF, -INF, 1.0]),             # ±inf; inf-inf under plane +,+
    (8, [-0.0, -0.0, -0.0]),           # negative zero sums
    (9, [1e308, 1e308, -1e308]),       # products and sums overflow
    (10, [-1.0, -2.0, -3.0]),
    (11, [0.0, 0.0, 0.0]),             # zero dot: '1' (>= 0)
    # the sign depends on the fold order: left to right, 2^53 - 1 is
    # exact and the dot is -1; (-1 - 2^53) first rounds to -2^53 -> 0
    (12, [2.0 ** 53, -1.0, -(2.0 ** 53)]),
    # rounded products cancel exactly; a fused multiply-add would keep
    # the first product's rounding error and could flip the sign
    (13, [0.1, -0.1, 0.0]),
]

BANDS = [[[1.0, 1.0, 1.0], [1.0, -1.0, 1.0]], [[-1.0, 1.0, 1.0]],
         [[0.3, 0.3, 0.3], [0.7, 0.7, 0.1]]]


def test_band_keys_degenerate_rows_match_reference(spark):
    got = _assert_equal_to_reference(_frame(spark, DEGENERATE), BANDS)
    by_id = {(i, b): (k, n) for i, b, k, n in got}
    assert by_id[(1, 0)] == ("00", "None")
    assert by_id[(2, 1)] == ("0", "None")
    assert by_id[(3, 0)] == ("00", repr(5.0 ** 0.5))
    assert by_id[(5, 0)] == ("00", "0.0")
    assert by_id[(6, 0)] == ("11", "nan")
    assert by_id[(7, 0)][0] == "11"     # NaN from inf-inf counts as '1'
    assert by_id[(9, 0)][1] == "inf"
    assert by_id[(12, 0)][0] == "01"
    assert by_id[(13, 2)][0] == "11"


@pytest.mark.parametrize("elem,rows", [
    (T.FloatType(), [(0, [0.1, -0.2, 0.3]), (1, [1e-8, 3.5, -2.25]),
                     (2, [None, 1.0, 2.0]), (3, [0.7, 0.7])]),
    (T.IntegerType(), [(0, [1, -2, 3]), (1, [0, 0, 0]), (2, None),
                       (3, [5, 6, 7, 8]), (4, [-1, -1, 1])]),
])
def test_band_keys_non_double_elements_match_reference(spark, elem, rows):
    """Elements are cast to double by the JVM on both sides."""
    _assert_equal_to_reference(_frame(spark, rows, elem), BANDS)


def test_band_keys_flat_single_band_planes(spark):
    """lsh_topk's flat plane-list form is one band."""
    planes = S.plane_bands(n_bands=1, n_planes=3, dim=3)[0]
    got = _assert_equal_to_reference(_frame(spark, DEGENERATE), planes)
    assert {b for _, b, _, _ in got} == {0}


def test_band_keys_synthetic_corpus_match_reference(spark):
    """4k rows of 64 dims against 2 bands x 10 planes: the uniform
    zero-copy path over several Arrow batches."""
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda j: (F.pmod(F.xxhash64(F.col("id") * 64 + j.cast("long")),
                          F.lit(1000)).cast("double") / 500.0 - 1.0))
    df = spark.range(4000).select(F.col("id").alias("vec_id"),
                                  vec.alias("embedding"))
    got = _assert_equal_to_reference(
        df, S.plane_bands(n_bands=2, n_planes=10, dim=64))
    assert len(got) == 8000
    assert len({(b, k) for _, b, k, _ in got}) > 100


def test_banded_buckets_plans_one_arrow_eval(spark):
    """v_n and keys are read from ONE selected struct column: taking
    them straight off the UDF call plans a second ArrowEvalPython."""
    df = _frame(spark, DEGENERATE)
    plan = S._banded_buckets(df, BANDS, "vec_id", "embedding", "id", "v") \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan


def test_banded_buckets_rejects_planes_of_mixed_length(spark):
    with pytest.raises(ValueError):
        S._banded_buckets(_frame(spark, DEGENERATE), [[[1.0, 1.0], [1.0]]],
                          "vec_id", "embedding", "id", "v")


def test_band_keys_kernel_reads_sliced_arrow_input():
    """Offsets of a sliced list array index the unsliced values."""
    vals = [[1.0, -2.0, 3.0], None, [0.5, 0.5, -4.0], [1.0, None, 1.0],
            [2.0], [-1.0, 1.0, 1.0]]
    arr = pa.array(vals, pa.list_(pa.float64()))
    P = np.array([p for band in BANDS for p in band])
    starts = np.cumsum([0] + [len(b) for b in BANDS])
    for lo in range(len(vals)):
        sliced = S._band_keys(arr.slice(lo), P, starts)
        fresh = S._band_keys(pa.array(vals[lo:], arr.type), P, starts)
        assert sliced.to_pylist() == fresh.to_pylist()
