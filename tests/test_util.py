import pytest
from pyspark.sql import functions as F

from pyspark_graph_spark import (
    match_structure,
    multiple_join,
    multiple_union,
    ne_null_safe,
    order_edges,
)


def test_multiple_join_natural(spark):
    a = spark.createDataFrame([(1, "x"), (2, "y")], ["k", "a"])
    b = spark.createDataFrame([(1, "p"), (3, "q")], ["k", "b"])
    c = spark.createDataFrame([(1, "u")], ["k", "c"])
    out = multiple_join([a, b, c]).collect()
    assert len(out) == 1
    assert out[0]["k"] == 1 and out[0]["a"] == "x" and out[0]["c"] == "u"


def test_multiple_join_no_shared_cols_raises(spark):
    a = spark.createDataFrame([(1,)], ["x"])
    b = spark.createDataFrame([(1,)], ["y"])
    with pytest.raises(ValueError):
        multiple_join([a, b])


def test_multiple_union_by_name(spark):
    a = spark.createDataFrame([(1, "x")], ["k", "v"])
    b = spark.createDataFrame([("y", 2)], ["v", "k"])  # reordered columns
    out = multiple_union([a, b]).collect()
    assert sorted((r["k"], r["v"]) for r in out) == [(1, "x"), (2, "y")]


def test_ne_null_safe(spark):
    df = spark.createDataFrame(
        [(1, 1), (1, 2), (None, None), (None, 1)], ["x", "y"]
    )
    out = df.select(ne_null_safe(F.col("x"), F.col("y")).alias("ne")).collect()
    assert [r["ne"] for r in out] == [False, True, False, True]


def test_match_structure_triangle(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], ["src", "dst"]
    )
    tri = match_structure(edges, [("a", "b"), ("b", "c"), ("a", "c")])
    rows = tri.collect()
    assert len(rows) == 1
    assert (rows[0]["a"], rows[0]["b"], rows[0]["c"]) == (1, 2, 3)


def test_order_edges(spark):
    edges = spark.createDataFrame(
        [(2, 1, "x"), (1, 2, "y"), (3, 3, "z"), (4, 5, "w")],
        ["src", "dst", "attr"],
    )
    out = sorted((r["src"], r["dst"]) for r in order_edges(edges).collect())
    assert out == [(1, 2), (4, 5)]


# --------------------------------------------------------------------------
# TransitiveClosure (recursive datalog, semi-naive)
# --------------------------------------------------------------------------


def test_transitive_closure_chain(spark):
    from pyspark_graph_spark import Graph
    from pyspark_graph_spark.datalog import TransitiveClosure

    v = spark.createDataFrame([(i,) for i in range(4)], ["id"])
    e = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], ["src", "dst"])
    g = Graph(v, e, directed=True, indexed=True)
    got = sorted(
        (r["src"], r["dst"]) for r in TransitiveClosure().apply(g).collect()
    )
    assert got == [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)]


def test_transitive_closure_cycle_converges(spark):
    from pyspark_graph_spark import Graph
    from pyspark_graph_spark.datalog import TransitiveClosure

    v = spark.createDataFrame([(i,) for i in range(3)], ["id"])
    e = spark.createDataFrame([(0, 1), (1, 2), (2, 0)], ["src", "dst"])
    g = Graph(v, e, directed=True, indexed=True)
    got = {(r["src"], r["dst"]) for r in TransitiveClosure().apply(g).collect()}
    # every ordered pair of distinct vertices is reachable on a 3-cycle
    assert got == {(a, b) for a in range(3) for b in range(3) if a != b}


def test_run_batch_typed_outcomes(spark):
    """util.run_batch: rows plus observed metrics, a typed deferral, and a
    kernel ValueError re-raised with its exact text."""
    import numpy as np

    from pyspark_graph_spark.util import BatchDefer, run_batch

    df = spark.createDataFrame([(1,), (2,)], "id long")

    def double(pdf):
        return pdf.assign(x=pdf["id"] * 2)[["id", "x"]]

    out, m = run_batch(double, "id long, x long", df, s=F.sum("x"))
    assert sorted(tuple(r) for r in out.collect()) == [(1, 2), (2, 4)]
    assert out.columns == ["id", "x"] and m["s"] == 6

    def defer(pdf):
        raise BatchDefer("cannot replay")

    assert run_batch(defer, "id long, x long", df)[0] is None

    def loud(left, right):
        raise ValueError(f"exact text {len(left) + len(right)}")

    with pytest.raises(ValueError) as err:
        run_batch(loud, "id long", df, df)
    assert str(err.value) == "exact text 4"

    def crash(pdf):
        return np.empty(0)[1]

    with pytest.raises(Exception) as err:
        run_batch(crash, "id long", df)
    assert not isinstance(err.value, ValueError)


def test_sorted_positions_empty_and_missing():
    import numpy as np

    from pyspark_graph_spark.util import sorted_positions

    ids = np.array([2, 5, 9], dtype=np.int64)
    pos, found = sorted_positions(ids, np.array([5, 3, 10, 2]))
    assert found.tolist() == [True, False, False, True]
    assert pos[found].tolist() == [1, 0]
    pos, found = sorted_positions(np.array([], dtype=np.int64), np.array([1]))
    assert found.tolist() == [False]
