"""KQL serialized-window sort elision keeps double aggregates stable.

A ``sort | extend row_number()`` pipe may feed the window kernel the
pre-sort frame only when every later stage's values ignore row order.
``summarize sum/avg`` add doubles in encounter order, so the sort stays
and the results do not move when the input's physical order does.
"""

import random
import struct

from azuredataengineering_deeplearning_spark.sources.kql import (
    _stages_order_insensitive,
    kql_to_df,
)

# magnitudes that make double sums depend on the order of addition
_MAGS = (1e16, 1.0, -1e16, 0.1, 3.3e15, -7.7, 1e-3, 123456.789)


def _rows():
    rnd = random.Random(7)
    return [(i, i % 3, _MAGS[rnd.randrange(len(_MAGS))] * rnd.choice((1, -1))) for i in range(600)]


def _bits(x):
    return None if x is None else struct.pack("<d", x)


def test_summarize_sum_avg_is_order_sensitive():
    assert not _stages_order_insensitive(["summarize s = sum(v) by k"])
    assert not _stages_order_insensitive(["summarize a = avg(v)"])
    assert not _stages_order_insensitive(["summarize s = sumif(v, v > 0) by k"])
    assert _stages_order_insensitive(["summarize n = count(), m = max(v) by k"])


def test_summarize_sum_after_window_is_bit_identical_under_permutation(spark):
    rows = _rows()
    shuffled = rows[:]
    random.Random(11).shuffle(shuffled)
    query = (
        "t | sort by ts asc | extend rn = row_number()"
        " | summarize s = sum(v), a = avg(v), n = count() by k"
    )
    results = []
    for data, slices in ((rows, 4), (shuffled, 3), (rows[::-1], 5)):
        df = spark.createDataFrame(
            spark.sparkContext.parallelize(data, slices), "ts long, k long, v double"
        )
        out = kql_to_df({"t": df}, query).collect()
        results.append({r["k"]: (_bits(r["s"]), _bits(r["a"]), r["n"]) for r in out})
    assert results[0] == results[1] == results[2]
