"""Strongly connected components — iterative coloring (FW-BW style).

The reference lists SCC as unsupported (README.md:24-38) and its CC
docstring wrongly claims min-label propagation computes it
(connected_components.py:19-21). This is a real distributed SCC in the
Orzan/"coloring" family, built entirely from the engine's own Pregel:

Repeat until no vertices remain:
1. **Color** every remaining vertex with the max vertex id that reaches it
   (max-label flood along out-edges — a Pregel max-propagation).
2. Vertices whose color equals their own id are **roots**. The SCC of root
   r is every vertex of color r that can reach r — found by flooding
   backwards from the roots over same-color edges (a second Pregel pass).
3. Emit those SCCs, peel them off, repeat on the remainder.

Each outer round removes at least every root's SCC; rounds needed equal the
length of the longest root-chain (small for most graphs, O(n) worst case —
bounded by ``max_outer_iterations``). All inner floods checkpoint per
superstep via Pregel; the peeled vertex/edge sets are checkpointed per
round.

Scale: 2 Pregel floods per round, each O(diameter) supersteps of one join +
one aggregate. For graphs with a giant SCC (the common web/social case) the
first round removes it and the tail is cheap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark_graph_spark.constants import DST, ID, MSG, SRC, STATE
from pyspark_graph_spark.graph import Graph
from pyspark_graph_spark.operators.pregel import Pregel
from pyspark_graph_spark.util import (
    batch_plan,
    checkpoint_observed,
    run_batch,
    sorted_positions,
)

COMPONENT = "component"


def _batch_tarjan(pdf):
    """(src, dst) directed edges -> (id, component) for every vertex in
    the edges' support, component = MAX member id of the SCC — exactly
    the label the FW-BW coloring converges to (the root r of an emitted
    SCC satisfies color(r) = r, and any larger member would out-color
    it, so r is the SCC maximum; equality pinned by test). Iterative
    Tarjan (explicit stack, no recursion limit)."""
    import pandas as pd

    adj: dict[int, list[int]] = {}
    verts: set[int] = set()
    for s, d in zip(pdf[SRC], pdf[DST]):
        s, d = int(s), int(d)
        adj.setdefault(s, []).append(d)
        verts.add(s)
        verts.add(d)
    index: dict[int, int] = {}
    low: dict[int, int] = {}
    onstk: set[int] = set()
    stk: list[int] = []
    comp: dict[int, int] = {}
    counter = 0
    for v0 in verts:
        if v0 in index:
            continue
        work: list[list[int]] = [[v0, 0]]
        while work:
            frame = work[-1]
            v, pi = frame
            if pi == 0:
                index[v] = low[v] = counter
                counter += 1
                stk.append(v)
                onstk.add(v)
            nbrs = adj.get(v, ())
            advanced = False
            while pi < len(nbrs):
                w = nbrs[pi]
                pi += 1
                if w not in index:
                    frame[1] = pi
                    work.append([w, 0])
                    advanced = True
                    break
                if w in onstk:
                    if index[w] < low[v]:
                        low[v] = index[w]
            if advanced:
                continue
            frame[1] = pi
            work.pop()
            if work:
                u = work[-1][0]
                if low[v] < low[u]:
                    low[u] = low[v]
            if low[v] == index[v]:
                members = []
                while True:
                    w = stk.pop()
                    onstk.discard(w)
                    members.append(w)
                    if w == v:
                        break
                m = max(members)
                for w in members:
                    comp[w] = m
    return pd.DataFrame(
        sorted(comp.items()), columns=[ID, COMPONENT]
    )


def _batch_tarjan_induced(pdf):
    """_batch_tarjan over the subgraph induced by the vertex rows (marked
    ``__v``): the distributed trim drops every edge with an endpoint
    outside the vertex table before any flood runs."""
    import numpy as np

    is_vertex = pdf["__v"].to_numpy(dtype=bool)
    ids = np.unique(pdf[SRC].to_numpy(dtype=np.int64)[is_vertex])
    e = pdf[~is_vertex]
    _, s_ok = sorted_positions(ids, e[SRC].to_numpy(dtype=np.int64))
    _, d_ok = sorted_positions(ids, e[DST].to_numpy(dtype=np.int64))
    return _batch_tarjan(e[s_ok & d_ok])


class StronglyConnectedComponents:
    def __init__(
        self,
        max_outer_iterations: int = 20,
        max_flood_iterations: int = 30,
        batch_finish: int = 1_000_000,
    ):
        self.max_outer_iterations = max_outer_iterations
        self.max_flood_iterations = max_flood_iterations
        # once the deduped edge list fits this bound, compute all SCCs
        # with one Arrow-batch iterative Tarjan instead of the
        # trim/color/backward-mark rounds (each a Pregel flood of
        # fixed-overhead supersteps). Labels identical by construction
        # (max member id); the distributed FW-BW remains the only path
        # above the bound. 0 disables.
        self.batch_finish = batch_finish

    def _max_color_flood(self, verts: DataFrame, edges: DataFrame) -> DataFrame:
        """(id, color): max id that reaches each vertex along out-edges."""
        g = Graph(verts, edges, directed=True, indexed=True)
        p = Pregel(
            initial_state=F.col(ID),
            agg_expr=F.max(MSG),
            msg_to_dst=F.col(STATE),
            update_expr=F.greatest(F.col(STATE), F.col(MSG)),
            max_iterations=self.max_flood_iterations,
        )
        out = p.run(g).select(ID, F.col(STATE).alias("color"))
        self._check_flood(p, "max-color")
        return out

    def _backward_mark(
        self, colored: DataFrame, edges: DataFrame
    ) -> DataFrame:
        """Mark vertices that reach their color's root through same-color
        edges. Returns (id, color) rows of completed SCCs."""
        ce = (
            edges.join(
                colored.withColumnsRenamed({ID: SRC, "color": "__cs"}), SRC
            )
            .join(
                colored.withColumnsRenamed({ID: DST, "color": "__cd"}), DST
            )
            .filter(F.col("__cs") == F.col("__cd"))
            .select(SRC, DST)
        )
        g = Graph(colored, ce, directed=True, indexed=True)
        p = Pregel(
            initial_state=(F.col("color") == F.col(ID)).cast("int"),
            agg_expr=F.max(MSG),
            msg_to_src=F.col(STATE),  # reach-the-root flows backwards
            update_expr=F.greatest(F.col(STATE), F.col(MSG)),
            max_iterations=self.max_flood_iterations,
        )
        out = (
            p.run(g)
            .filter(F.col(STATE) == 1)
            .select(ID, "color")
        )
        self._check_flood(p, "backward-mark")
        return out

    def _check_flood(self, p: Pregel, which: str) -> None:
        """A truncated flood silently splits SCCs whose internal reachability
        exceeds max_flood_iterations — the remainder gets a different label
        in a later outer round, i.e. a WRONG final answer. Fail loudly."""
        if not p.converged:
            raise RuntimeError(
                f"SCC {which} flood hit max_flood_iterations="
                f"{self.max_flood_iterations} before converging; result "
                "would be incorrect. Raise max_flood_iterations (needs to "
                "cover the longest intra-SCC reachability chain)."
            )

    def _trim(
        self, verts: DataFrame, edges: DataFrame, done: DataFrame
    ) -> tuple[DataFrame, DataFrame, DataFrame]:
        """Standard FW-BW trim: a vertex with no in-edges or no out-edges
        among the REMAINING graph cannot sit on a cycle — it is its own
        SCC.  Peeling these iteratively (bounded rounds; trim is a pure
        optimization, correctness never depends on it converging) removes
        the one-way periphery — usually the bulk of a bowtie-shaped graph
        — before the much costlier Pregel floods run."""
        for _ in range(10):
            has_out = edges.select(F.col(SRC).alias(ID)).distinct()
            has_in = edges.select(F.col(DST).alias(ID)).distinct()
            keep = verts.join(has_out, ID, "semi").join(has_in, ID, "semi")
            trimmed = verts.join(keep, ID, "anti")
            if trimmed.isEmpty():
                break
            done = done.unionByName(
                trimmed.select(ID, F.col(ID).alias(COMPONENT))
            ).localCheckpoint()
            verts = keep.select(ID).localCheckpoint()
            edges = (
                edges.join(verts.withColumnRenamed(ID, SRC), SRC, "semi")
                .join(verts.withColumnRenamed(ID, DST), DST, "semi")
                .select(SRC, DST)
                .localCheckpoint()
            )
        return verts, edges, done

    def run(self, g: Graph) -> DataFrame:
        """Returns ``(id, component)`` — component = max vertex id in the SCC."""
        verts = g.vertices.select(ID).localCheckpoint()
        edges = (
            g.edges.select(SRC, DST)
            .filter(F.col(SRC) != F.col(DST))
            .distinct()
            .localCheckpoint()
        )
        spark = verts.sparkSession
        if self.batch_finish and edges.count() <= self.batch_finish:
            rows = edges.withColumn("__v", F.lit(False)).unionByName(
                verts.select(
                    F.col(ID).alias(SRC),
                    F.col(ID).alias(DST),
                    F.lit(True).alias("__v"),
                )
            )
            membership = batch_plan(
                _batch_tarjan_induced, f"{ID} long, {COMPONENT} long", rows
            )
            singletons = (
                verts.join(membership.select(ID), ID, "anti")
                .withColumn(COMPONENT, F.col(ID))
            )
            return membership.unionByName(singletons)
        done = spark.createDataFrame([], f"{ID} long, {COMPONENT} long")

        for _ in range(self.max_outer_iterations):
            verts, edges, done = self._trim(verts, edges, done)
            if verts.isEmpty():
                break
            colored = self._max_color_flood(verts, edges)
            found = self._backward_mark(colored, edges).select(
                ID, F.col("color").alias(COMPONENT)
            )
            done = done.unionByName(found).localCheckpoint()
            verts = verts.join(found.select(ID), ID, "anti").localCheckpoint()
            edges = (
                edges.join(verts.withColumnRenamed(ID, SRC), SRC, "semi")
                .join(verts.withColumnRenamed(ID, DST), DST, "semi")
                .select(SRC, DST)
                .localCheckpoint()
            )
        if not verts.isEmpty():
            raise RuntimeError(
                "SCC did not converge within max_outer_iterations"
            )
        return done


_REACH_NO_FIXPOINT = (
    "reachable_set did not converge within max_rounds — raise the budget "
    "toward the graph diameter"
)


def _batch_reachable(max_rounds: int):
    """Kernel factory for the bounded-batch reachable_set finish: one
    Arrow batch holds the (already direction-oriented) edge list plus
    the seed ids, and the BFS closure replays the distributed loop's
    round structure exactly — up to ``max_rounds`` frontier expansions,
    early return on an empty frontier, and the SAME loud failure when
    the budget is exhausted before the fixpoint."""

    def bfs(pdf):
        import pandas as pd

        m = pdf["__m"].to_numpy()
        a = pdf["a"].to_numpy()
        b = pdf["b"].to_numpy()
        adj: dict[int, list[int]] = {}
        for s, d in zip(a[m == 0], b[m == 0]):
            adj.setdefault(int(s), []).append(int(d))
        visited = {int(v) for v in a[m == 1]}
        frontier = visited
        for _ in range(max_rounds):
            nxt = {
                w
                for v in frontier
                for w in adj.get(v, ())
                if w not in visited
            }
            if not nxt:
                return pd.DataFrame({ID: sorted(visited)})
            visited |= nxt
            frontier = nxt
        raise ValueError(_REACH_NO_FIXPOINT)

    return bfs


def reachable_set(
    edges: DataFrame,
    seeds: DataFrame,
    direction: str = "forward",
    max_rounds: int = 30,
    broadcast_threshold: int = 1_000_000,
    batch_finish: int = 1_000_000,
) -> DataFrame:
    """All vertex ids reachable from ``seeds`` along ``edges`` —
    ``forward`` follows src→dst, ``backward`` yields the set that REACHES
    the seeds. One frontier semi-join + distinct per round, frontier and
    visited set checkpointed; rounds ≤ graph diameter, raises if the
    budget is exhausted before the fixpoint (consistent with
    CriticalPath / earliest_arrival). The frontier side of the semi-join
    is BROADCAST while under ``broadcast_threshold`` rows (checkpointed
    frames carry no stats, so Catalyst would otherwise shuffle+sort the
    full edge list every round — same lesson as earliest_arrival); a
    larger wavefront falls back to the shuffle join. The per-round
    count() doubles as convergence probe and plan selector.

    ``batch_finish`` (util.run_batch): once the edge list fits the bound
    (one count probe), the whole closure runs as one Arrow BFS,
    replaying the identical round budget and loud non-convergence
    failure; reachability is order-free, so the returned ids are
    identical by construction. 0 disables."""
    if direction not in ("forward", "backward"):
        raise ValueError("direction must be 'forward' or 'backward'")
    out_col, in_col = (
        (SRC, DST) if direction == "forward" else (DST, SRC)
    )
    if batch_finish and edges.count() <= batch_finish:
        oriented = edges.select(
            F.col(out_col).cast("long").alias("a"),
            F.col(in_col).cast("long").alias("b"),
        ).withColumn("__m", F.lit(0))
        seed_rows = (
            seeds.select(
                F.col(seeds.columns[0]).cast("long").alias("a")
            )
            .distinct()
            .select("a", F.lit(0).cast("long").alias("b"))
            .withColumn("__m", F.lit(1))
        )
        # eager like the distributed loop: the non-convergence ValueError
        # surfaces AT THE CALL, not in whatever action touches the frame
        out, _ = run_batch(
            _batch_reachable(max_rounds),
            f"{ID} long",
            oriented.unionByName(seed_rows),
        )
        return out
    # size probes ride the materializing jobs (round 12,
    # checkpoint_observed): the loop paid a count action per round on
    # top of each checkpoint, and re-materialized the visited union
    # every round even though every part is itself checkpointed (the
    # betweenness r11 lesson — consumers scan the checkpointed parts).
    visited, m0 = checkpoint_observed(
        seeds.select(F.col(seeds.columns[0]).alias(ID)).distinct(),
        __n=F.count(F.lit(1)),
    )
    frontier = visited
    n_front = m0["__n"] or 0
    for _ in range(max_rounds):
        fr = frontier.withColumnRenamed(ID, out_col)
        if n_front <= broadcast_threshold:
            fr = F.broadcast(fr)
        step = (
            edges.join(fr, on=out_col, how="semi")
            .select(F.col(in_col).alias(ID))
            .distinct()
        )
        new_frontier, m = checkpoint_observed(
            step.join(visited, on=ID, how="anti"),
            __n=F.count(F.lit(1)),
        )
        n_front = m["__n"] or 0
        if n_front == 0:
            return visited
        visited = visited.unionByName(new_frontier)
        frontier = new_frontier
    raise ValueError(_REACH_NO_FIXPOINT)
