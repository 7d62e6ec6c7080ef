"""functions/ids.py:packed_pairs — the i<j pair key packed into one long
(``a << 32 | b``) behind the co-purchase and wedge aggregates.  Ids
outside [0, 2^31) would alias other pairs, so they must fail loudly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tlcn_oer_lakehouse_spark.functions.ids import packed_pairs, unpack_pair


def _pairs(spark, items, dtype="array<bigint>"):
    df = spark.createDataFrame([(items,)], f"items {dtype}")
    out = df.select(F.explode(packed_pairs(F.col("items"))).alias("p")).select(
        *unpack_pair(F.col("p"), "u", "v")
    )
    return [(r["u"], r["v"]) for r in out.collect()]


def test_round_trip_at_the_range_edges(spark):
    top = 2**31 - 1
    assert _pairs(spark, [0, 7, top]) == [(0, 7), (0, top), (7, top)]
    # an int-typed array packs through long: int << 32 would wrap to x
    assert _pairs(spark, [3, 5, 9], "array<int>") == [(3, 5), (3, 9), (5, 9)]
    assert _pairs(spark, [4]) == []


@pytest.mark.parametrize("bad", [-1, 2**31])
def test_out_of_range_id_fails_loudly(spark, bad):
    with pytest.raises(Exception, match="packed pair key") as err:
        _pairs(spark, [1, bad, 2])
    assert str(bad) in str(err.value)
