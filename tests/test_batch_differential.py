"""Differential test of the bounded-batch finishes (util.batch_plan /
util.run_batch).

Every operator with a batch kernel runs twice on tiny degenerate graphs:
once with its default bound (the single-task Arrow kernel) and once with
the bound at 0 (the distributed plan). Both runs must give the same rows,
or raise the same exception type. The protocol cases pin the typed
outcomes: inputs a kernel cannot replay defer to the distributed plan, and
a kernel's ValueError carries the distributed path's own text.
"""

from __future__ import annotations

import math
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from pyspark_graph_spark import Graph
from pyspark_graph_spark.operators import (
    HITS,
    AlternatingConnectedComponents,
    BetweennessCentrality,
    BoruvkaMST,
    ConnectedComponents,
    CriticalPath,
    EigenvectorCentrality,
    Louvain,
    MaximalIndependentSet,
    MaximalMatching,
    PageRank,
    RandomWalks,
    ShortestPaths,
    StronglyConnectedComponents,
    TopologicalLayers,
    greedy_coloring,
    parallel_personalized_pagerank,
    power_iteration_svd,
)
from pyspark_graph_spark.operators import dag, pagerank
from pyspark_graph_spark.operators.als import als_bias_rank2, als_implicit_rank2
from pyspark_graph_spark.operators.partition import MultilevelPartition, refine
from pyspark_graph_spark.operators.scc import reachable_set
from pyspark_graph_spark.operators.svd import (
    block_power_iteration_svd,
    deflated_power_iteration_svd,
)
from pyspark_graph_spark.operators.temporal import earliest_arrival

# (vertex ids, (src, dst, weight) edges). "mixed" carries the remaining
# degeneracies in one graph: an isolated vertex (5), a self-loop, a
# duplicate edge and a zero weight (on a source with positive out-weight;
# a zero out-weight SUM is the deferral case below).
GRAPHS = {
    "empty": ([], []),
    "no_vertices": ([], [(1, 2, 1.0), (2, 3, 1.0)]),
    "mixed": (
        [1, 2, 3, 4, 5],
        [
            (1, 1, 1.0),
            (1, 2, 0.0),
            (1, 3, 1.0),
            (2, 3, 2.0),
            (2, 3, 2.0),
            (3, 4, 1.0),
        ],
    ),
}


@pytest.fixture(autouse=True, scope="module")
def _one_shuffle_partition(spark):
    """Tiny inputs: one shuffle partition keeps per-task overhead out of
    the many small jobs both paths launch."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    yield
    spark.conf.set("spark.sql.shuffle.partitions", old)


def _graph(spark, name):
    verts, edges = GRAPHS[name]
    v = spark.createDataFrame([(i,) for i in verts], "id long")
    e = spark.createDataFrame(
        [(s, d, w, s + d) for s, d, w in edges],
        "src long, dst long, weight double, ts long",
    )
    return Graph(v, e, indexed=True)


def _coo(g):
    return (g.edges, "src", "dst", "weight")


def _as_batch_cc(kw):
    """BoruvkaMST names its bound ``batch_cc``."""
    return {"batch_cc": v for v in kw.values()}


# name -> (g, spark, kw) -> DataFrame or tuple of DataFrames; kw is {}
# (the operator's default bound) or {"batch_finish": 0}
OPERATORS = {
    "pagerank": lambda g, s, kw: PageRank(max_iterations=3, **kw).run(g),
    "pagerank_weighted": lambda g, s, kw: PageRank(
        max_iterations=3, weight_col="weight", **kw
    ).run(g),
    "ppr_multi": lambda g, s, kw: parallel_personalized_pagerank(
        g, [1, 2], max_iterations=3, **kw
    ),
    "connected_components": lambda g, s, kw: ConnectedComponents(**kw).run(g),
    "alternating_cc": lambda g, s, kw: AlternatingConnectedComponents(
        **kw
    ).run(g),
    "topological_layers": lambda g, s, kw: TopologicalLayers(
        max_iterations=6, **kw
    ).run(g),
    "critical_path": lambda g, s, kw: CriticalPath(
        max_iterations=6, **kw
    ).run(g),
    "betweenness": lambda g, s, kw: BetweennessCentrality(
        [1, 2], max_depth=4, **kw
    ).run(g),
    "louvain": lambda g, s, kw: Louvain(max_rounds=4, **kw).run(g),
    "matching": lambda g, s, kw: MaximalMatching(**kw).run(g),
    "mis": lambda g, s, kw: MaximalIndependentSet(**kw).run(g),
    "coloring": lambda g, s, kw: greedy_coloring(g, **kw),
    "mst": lambda g, s, kw: BoruvkaMST(
        weight="weight", **_as_batch_cc(kw)
    ).run(g),
    "partition": lambda g, s, kw: MultilevelPartition(k=2, **kw).run(g),
    "refine": lambda g, s, kw: refine(
        g,
        g.vertices.select("id", (F.col("id") % 2).alias("part")),
        k=2,
        cap=3,
        **kw,
    ),
    "scc": lambda g, s, kw: StronglyConnectedComponents(**kw).run(g),
    "reachable_set": lambda g, s, kw: reachable_set(
        g.edges, s.createDataFrame([(1,)], "id long"), **kw
    ),
    "shortest_paths": lambda g, s, kw: ShortestPaths(
        [1, 3], max_iterations=4, **kw
    ).run(g),
    "eigenvector": lambda g, s, kw: EigenvectorCentrality(
        iterations=3, **kw
    ).run(g),
    "hits": lambda g, s, kw: HITS(iterations=2, **kw).run(g),
    "svd": lambda g, s, kw: power_iteration_svd(
        *_coo(g), iterations=2, **kw
    ),
    "svd_deflated": lambda g, s, kw: deflated_power_iteration_svd(
        *_coo(g), k=2, iterations=2, **kw
    ),
    "svd_block": lambda g, s, kw: block_power_iteration_svd(
        *_coo(g), k=2, iterations=2, **kw
    ),
    "als_bias": lambda g, s, kw: als_bias_rank2(
        *_coo(g), iterations=1, **kw
    ),
    "als_implicit": lambda g, s, kw: als_implicit_rank2(
        *_coo(g), iterations=1, **kw
    ),
    "earliest_arrival": lambda g, s, kw: earliest_arrival(
        g.edges, s.createDataFrame([(1, 0)], "id long, t long"), **kw
    ),
    "random_walks": lambda g, s, kw: RandomWalks(
        length=3, hash_mode="md5", **kw
    ).run(g),
}


def _canon(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else float(f"{v:.9g}")
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def _outcome(fn, g, spark, kw):
    """Sorted canonical rows of every returned frame, or the exception
    type. Lazy results raise at collect, so collection is inside."""
    try:
        out = fn(g, spark, kw)
        frames = out if isinstance(out, tuple) else (out,)
        return [
            sorted((_canon(tuple(r)) for r in f.collect()), key=repr)
            for f in frames
        ]
    except Exception as e:  # noqa: BLE001 — the type IS the outcome
        return type(e)


_BOUNDS = {"default": {}, "zero": {"batch_finish": 0}}


@pytest.mark.parametrize("op", list(OPERATORS))
def test_batch_equals_distributed(spark, op):
    """Every graph under both bounds. The runs are independent (each
    builds its own Graph), so they go concurrently: their many tiny
    Spark jobs are bound by scheduling latency, not by CPU."""
    runs = [(name, bound) for name in GRAPHS for bound in _BOUNDS]

    def run(r):
        name, bound = r
        return _outcome(OPERATORS[op], _graph(spark, name), spark, _BOUNDS[bound])

    with ThreadPoolExecutor(len(runs)) as pool:
        outs = dict(zip(runs, pool.map(run, runs)))
    diverged = {
        name: (outs[name, "default"], outs[name, "zero"])
        for name in GRAPHS
        if outs[name, "default"] != outs[name, "zero"]
    }
    assert diverged == {}, f"batch vs distributed: {diverged}"


def _spy_deferrals(monkeypatch, module):
    """Record, per run_batch call in ``module``, whether it deferred."""
    seen = []
    real = module.run_batch

    def spy(*args, **kwargs):
        out, m = real(*args, **kwargs)
        seen.append(out is None)
        return out, m

    monkeypatch.setattr(module, "run_batch", spy)
    return seen


def test_pagerank_zero_out_weight_defers(spark, monkeypatch):
    v = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    e = spark.createDataFrame(
        [(1, 2, 0.0), (2, 3, 1.0)], "src long, dst long, weight double"
    )
    g = Graph(v, e, indexed=True)
    seen = _spy_deferrals(monkeypatch, pagerank)
    op = PageRank(max_iterations=3, weight_col="weight")
    with pytest.raises(Exception) as batch:
        op.run(g).collect()
    assert seen == [True]
    with pytest.raises(Exception) as distributed:
        PageRank(max_iterations=3, weight_col="weight", batch_finish=0).run(
            g
        ).collect()
    assert type(batch.value) is type(distributed.value)
    assert "DIVIDE_BY_ZERO" in str(batch.value)


def test_critical_path_nan_weight_defers(spark, monkeypatch):
    v = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    e = spark.createDataFrame(
        [(1, 2, float("nan")), (2, 3, 1.0)], "src long, dst long, weight double"
    )
    g = Graph(v, e, indexed=True)
    seen = _spy_deferrals(monkeypatch, dag)
    batch = _outcome(OPERATORS["critical_path"], g, spark, {})
    assert seen == [True]
    distributed = _outcome(
        OPERATORS["critical_path"], g, spark, {"batch_finish": 0}
    )
    assert batch == distributed


_CP_TEXT = (
    "CriticalPath did not converge within max_iterations — cyclic input "
    "or depth budget too small"
)
_REACH_TEXT = (
    "reachable_set did not converge within max_rounds — raise the budget "
    "toward the graph diameter"
)


@pytest.mark.parametrize("bound", [1_000_000, 0])
def test_critical_path_cycle_raises(spark, bound):
    v = spark.createDataFrame([(1,), (2,)], "id long")
    e = spark.createDataFrame(
        [(1, 2, 1.0), (2, 1, 1.0)], "src long, dst long, weight double"
    )
    g = Graph(v, e, indexed=True)
    with pytest.raises(ValueError) as err:
        CriticalPath(max_iterations=4, batch_finish=bound).run(g)
    assert str(err.value) == _CP_TEXT


@pytest.mark.parametrize("bound", [1_000_000, 0])
def test_reachable_set_budget_raises(spark, bound):
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError) as err:
        reachable_set(e, seeds, max_rounds=2, batch_finish=bound)
    assert str(err.value) == _REACH_TEXT
