"""Hostile-input regression for the distsort bucket bounds: NaN, ±inf,
all-equal and single-row columns, ascending and descending.  Every path
(fused ``with_bucket_offsets``, the two-job ``with_range_buckets`` +
``with_prefix_offsets`` chain, and ``with_sums_below``) must give each row
its exact global position under Spark's ordering (NaN sorts above +inf)."""

import math

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from polars_net_spark.operators import distsort

NAN, INF = float("nan"), float("inf")

INPUTS = {
    # the sketch over this column once came back unsorted with repeated NaN
    # bounds, so the live and literal bucket ids disagreed
    "nan": [float(i) for i in range(20)] + [NAN] * 20,
    "inf": [-INF] * 3 + [float(i % 6) for i in range(15)] + [INF] * 5,
    "all_equal": [7.0] * 25,
    "single_row": [3.0],
}


def _key(v: float):
    # Spark's total order on doubles: NaN above every other value
    return (1, 0.0) if math.isnan(v) else (0, v)


def _frame(spark, vals):
    rows = [(i, v) for i, v in enumerate(vals)]
    return spark.createDataFrame(rows, "id long, v double").repartition(3)


def _positions(out, gb, desc):
    order = F.col("v").desc() if desc else F.col("v").asc()
    w = Window.partitionBy(gb).orderBy(order, F.col("id"))
    pos = F.col("__off_c__") + F.row_number().over(w)
    return [(r["v"], int(r["p"])) for r in out.select("v", pos.alias("p")).collect()]


def _check_positions(vals, got, desc):
    assert sorted(p for _, p in got) == list(range(1, len(vals) + 1))
    by_pos = [_key(v) for v, _ in sorted(got, key=lambda t: t[1])]
    assert by_pos == sorted((_key(v) for v in vals), reverse=desc)


@pytest.mark.parametrize("desc", [False, True], ids=["asc", "desc"])
@pytest.mark.parametrize("name", list(INPUTS))
def test_fused_offsets_give_exact_positions(spark, name, desc):
    vals = INPUTS[name]
    out, gb, tot = distsort.with_bucket_offsets(
        _frame(spark, vals), "v", {"c": F.lit(1)}, desc=desc, nbuckets=8
    )
    assert tot["c"] == len(vals)
    _check_positions(vals, _positions(out, gb, desc), desc)


@pytest.mark.parametrize("desc", [False, True], ids=["asc", "desc"])
@pytest.mark.parametrize("name", list(INPUTS))
def test_two_job_offsets_give_exact_positions(spark, name, desc):
    vals = INPUTS[name]
    bucketed, gb = distsort.with_range_buckets(
        _frame(spark, vals), "v", desc=desc, nbuckets=8
    )
    out, tot = distsort.with_prefix_offsets(bucketed, gb, {"c": F.lit(1)})
    assert tot["c"] == len(vals)
    _check_positions(vals, _positions(out, gb, desc), desc)


@pytest.mark.parametrize("name", list(INPUTS))
def test_sums_below_counts_strictly_smaller(spark, name):
    vals = INPUTS[name]
    cells = _frame(spark, vals).groupBy("v").agg(F.count(F.lit(1)).alias("__c__"))
    out, tot = distsort.with_sums_below(
        cells, "v", {"c": F.col("__c__"), "w": F.col("__c__") * 2}
    )
    assert tot["c"] == len(vals)
    rows = out.select("v", "__below_c__", "__below_w__").collect()
    assert len(rows) == len({_key(v) for v in vals})
    for r in rows:
        below = sum(1 for v in vals if _key(v) < _key(r["v"]))
        assert (r["__below_c__"], r["__below_w__"]) == (below, 2 * below), r
