"""Arrow escape-hatch registry: the grouped-agg pandas UDAF lane and
the per-row ``map_rows`` lane."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_grouped_agg_udaf_matches_native(spark):
    """The pandas grouped-agg escape hatch must agree with the native
    aggregate on a reduction both can express (interquartile range
    via pandas quantiles vs percentile_approx is NOT comparable, so
    use a deterministic midrange)."""
    import warnings

    from dataengineering_spark.catalog import read_table
    from dataengineering_spark.functions.udf_registry import grouped_agg_udaf
    from tests.conftest import SF_SMOKE

    ev = read_table(spark, "events", SF_SMOKE).select("event_type", "value")

    def midrange(s):
        return (s.min() + s.max()) / 2.0

    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        got = {
            (r.event_type, r.agg_value)
            for r in grouped_agg_udaf(
                ev, ["event_type"], "value", midrange
            ).collect()
        }
    want = {
        (r.event_type, (r.mn + r.mx) / 2.0)
        for r in ev.groupBy("event_type")
        .agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
        .collect()
    }
    assert got == want


def test_map_rows_fans_out_zero_one_many(spark):
    """Each input row (k, n) emits n output rows. The first partition's
    rows all emit nothing, so its batch comes back empty; the others
    mix zero, one and three outputs per row. Output is the exact
    multiset in the declared schema's column order."""
    from pyspark.sql import types as T

    from dataengineering_spark.functions.udf_registry import map_rows

    rows = [(1, 0), (2, 0), (3, 1), (4, 3), (5, 0), (6, 3)]
    df = spark.sparkContext.parallelize(rows, numSlices=3).toDF("k long, n long")
    assert df.rdd.glom().map(len).collect() == [2, 2, 2]

    def kernel(k, n):
        for i in range(n):
            yield (f"{k}:{i}", k, i)

    schema = "tag string, k long, i int"
    out = map_rows(df, kernel, schema)
    assert out.schema == T.StructType.fromDDL(schema)
    got = sorted(tuple(r) for r in out.collect())
    assert got == [
        ("3:0", 3, 0),
        ("4:0", 4, 0),
        ("4:1", 4, 1),
        ("4:2", 4, 2),
        ("6:0", 6, 0),
        ("6:1", 6, 1),
        ("6:2", 6, 2),
    ]
