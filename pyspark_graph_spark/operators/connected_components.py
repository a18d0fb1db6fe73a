"""Connected components — Pregel min-label propagation and alternating stars.

Two implementations, as in the reference (connected_components.py:18-92):

- :class:`ConnectedComponents` — Pregel min-label flood. Simple; rounds
  proportional to component diameter. Both directions are always messaged:
  min-label along out-edges only computes neither weakly- nor
  strongly-connected components (the reference's docstring claims SCC for
  directed graphs — reference connected_components.py:19-21 — which is
  wrong; we compute **weakly** connected components for any graph).
- :class:`AlternatingConnectedComponents` — the large-star/small-star
  alternation of Kiveris et al., "Connected Components in MapReduce and
  Beyond" (SOCC'14). O(log n) rounds independent of diameter — this is the
  100 TB-scale implementation. Each round is two window aggregations +
  dedup, checkpointed; convergence is a fingerprint probe on the
  checkpointed edge list: ``bit_xor`` of per-row hashes plus a row count.
  (A plain sum of 64-bit hash ids would overflow; XOR is the
  overflow-free multiset fingerprint — do not "simplify" it back to sum.)

Both return ``(id, component)`` where ``component`` is the minimum vertex id
in the component; isolated vertices are their own component.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyspark_graph_spark.constants import DST, ID, MSG, SRC, STATE
from pyspark_graph_spark.graph import Graph
from pyspark_graph_spark.operators.pregel import Pregel
from pyspark_graph_spark.util import (
    batch_plan,
    checkpoint_observed,
    integral_keys,
    run_batch,
    sorted_positions,
)

COMPONENT = "component"


def _batch_min_label(budget0: int, hard_max: int, auto_extend: bool):
    """Min-label propagation replayed in one Arrow batch: per round every
    vertex takes the min of its own label and its neighbors' (full
    messaging is value-identical to the Pregel's frontier messaging — a
    sender's label was already delivered in the round after it last
    changed), with the same round budget, the same auto_extend doubling,
    and the same stop-on-no-change probe. Labels are exact integers, so
    batch == Pregel bit for bit, INCLUDING truncated labellings when the
    budget runs out. Edges with an endpoint outside the vertex table
    relay nothing, exactly like the Pregel state join. Emits per-vertex
    rows plus constant __rounds/__converged columns the caller reads via
    the checkpoint's observed metrics."""

    def kern(v_pdf, e_pdf):
        import numpy as np
        import pandas as pd

        ids = np.sort(v_pdf[ID].to_numpy(dtype=np.int64))
        src = e_pdf[SRC].to_numpy(dtype=np.int64)
        dst = e_pdf[DST].to_numpy(dtype=np.int64)
        s_idx, s_ok = sorted_positions(ids, src)
        d_idx, d_ok = sorted_positions(ids, dst)
        ok = s_ok & d_ok
        s_idx, d_idx = s_idx[ok], d_idx[ok]
        label = ids.copy()
        rounds = 0
        budget = budget0
        converged = False
        while rounds < budget:
            new = label.copy()
            np.minimum.at(new, d_idx, label[s_idx])
            np.minimum.at(new, s_idx, label[d_idx])
            rounds += 1
            if np.array_equal(new, label):
                converged = True
                break
            label = new
            if rounds == budget and auto_extend and budget < hard_max:
                budget = min(2 * budget, hard_max)
        return pd.DataFrame(
            {
                ID: ids,
                COMPONENT: label,
                "__rounds": np.full(len(ids), rounds, dtype=np.int64),
                "__converged": np.full(
                    len(ids), 1 if converged else 0, dtype=np.int32
                ),
            }
        )

    return kern


class ConnectedComponents:
    """Weakly connected components via Pregel min-label propagation.

    ``salt_buckets`` passes through to Pregel's skew-salted message join
    (use on power-law graphs where hub vertices dominate a partition).

    ``require_convergence`` (default True): min-label needs rounds
    proportional to component diameter, so a truncated run silently
    SPLITS any component whose diameter exceeds ``max_iterations`` —
    a wrong answer, not a slow one (r9 verdict #4; same failure class
    SCC's floods already guard, operators/scc.py). Pass False only when
    a truncated labelling is genuinely acceptable; the scale-correct
    alternative for unknown diameters is
    :class:`AlternatingConnectedComponents`, whose O(log n) fixpoint is
    diameter-independent.

    ``auto_extend`` (r10 verdict #5): opt-in resumable budget — when the
    min-label flood is still moving at ``max_iterations``, Pregel
    continues from the checkpointed frontier with a doubled budget
    (bounded by ``hard_max_iterations``, default 8x) instead of forcing
    a full restart; the truncation error below still fires if even the
    hard cap is not enough."""

    def __init__(
        self,
        max_iterations: int = 20,
        salt_buckets: int | None = None,
        require_convergence: bool = True,
        auto_extend: bool = False,
        hard_max_iterations: int | None = None,
        batch_finish: int = 1_000_000,
    ):
        self.max_iterations = max_iterations
        self.salt_buckets = salt_buckets
        self.require_convergence = require_convergence
        self.auto_extend = auto_extend
        self.hard_max_iterations = hard_max_iterations
        self.batch_finish = batch_finish

    def run(self, g: Graph) -> DataFrame:
        if (
            self.batch_finish
            and integral_keys(g.vertices, ID)
            and integral_keys(g.edges, SRC, DST)
        ):
            # plain count probes, NOT materializing checkpoints: above
            # the bound the distributed Pregel repartitions and
            # checkpoints the edge side itself, so a gate checkpoint
            # would be a wasted full write at exactly the scale where it
            # hurts (sf1-real A/B); below the bound the kernel's single
            # job re-derives the small frames trivially
            verts = g.vertices.select(ID)
            edges = g.edges.select(SRC, DST)
            n_total = verts.count() + edges.count()
            if 0 < n_total <= self.batch_finish:
                hard = (
                    self.hard_max_iterations
                    if self.hard_max_iterations is not None
                    else (
                        8 * self.max_iterations
                        if self.auto_extend
                        else self.max_iterations
                    )
                )
                out, m = run_batch(
                    _batch_min_label(
                        self.max_iterations, hard, self.auto_extend
                    ),
                    f"{ID} long, {COMPONENT} long, "
                    "__rounds long, __converged int",
                    verts,
                    edges,
                    __r=F.max("__rounds"),
                    __c=F.min("__converged"),
                )
                self.rounds_run = int(m["__r"] or 0)
                converged = (m["__c"] is None) or bool(m["__c"])
                if self.require_convergence and not converged:
                    raise RuntimeError(
                        "ConnectedComponents hit max_iterations="
                        f"{self.max_iterations} before the min-label "
                        "fixpoint — a component with diameter beyond the "
                        "budget would get silently split labels. Raise "
                        "max_iterations, pass auto_extend=True (resumes "
                        "the checkpointed frontier with a doubled budget, "
                        "bounded by hard_max_iterations), use "
                        "AlternatingConnectedComponents "
                        "(diameter-independent), or pass "
                        "require_convergence=False to accept truncation."
                    )
                return out.select(ID, COMPONENT)
        # slim the state to (id, state): vertex attributes would otherwise
        # ride through every per-round shuffle
        slim = Graph(
            g.vertices.select(ID), g.edges, directed=g.directed, indexed=True
        )
        pregel = Pregel(
            initial_state=F.col(ID),
            agg_expr=F.min(MSG),
            msg_to_dst=F.col(STATE),
            msg_to_src=F.col(STATE),  # always both ways: weak components
            update_expr=F.least(F.col(STATE), F.col(MSG)),
            max_iterations=self.max_iterations,
            salt_buckets=self.salt_buckets,
            auto_extend=self.auto_extend,
            hard_max_iterations=self.hard_max_iterations,
        )
        out = pregel.run(slim).select(ID, F.col(STATE).alias(COMPONENT))
        self.rounds_run = pregel.rounds_run
        if self.require_convergence and not pregel.converged:
            raise RuntimeError(
                "ConnectedComponents hit max_iterations="
                f"{self.max_iterations} before the min-label fixpoint — "
                "a component with diameter beyond the budget would get "
                "silently split labels. Raise max_iterations, pass "
                "auto_extend=True (resumes the checkpointed frontier with "
                "a doubled budget, bounded by hard_max_iterations), use "
                "AlternatingConnectedComponents (diameter-independent), "
                "or pass require_convergence=False to accept truncation."
            )
        return out


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to m(u)=min(Γ(u) ∪ {u}).

    Neighborhoods are taken over both directions (input is symmetrized here
    because small-star emits oriented edges). One shuffle (window over src).
    """
    sym = edges.unionByName(
        edges.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST))
    ).distinct()
    w = Window.partitionBy(SRC)
    m = F.least(F.min(DST).over(w), F.col(SRC))
    return (
        sym.withColumn("__m", m)
        .filter(F.col(DST) > F.col(SRC))
        .select(F.col(DST).alias(SRC), F.col("__m").alias(DST))
        .filter(F.col(SRC) != F.col(DST))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges large→small, then connect u and all its (smaller)
    neighbors to its minimum neighbor."""
    oriented = edges.select(
        F.greatest(SRC, DST).alias(SRC), F.least(SRC, DST).alias(DST)
    ).filter(F.col(SRC) != F.col(DST)).distinct()
    w = Window.partitionBy(SRC)
    m = F.min(DST).over(w)
    with_m = oriented.withColumn("__m", m)
    # neighbors v (all < u) point at m ...
    nbrs = with_m.select(F.col(DST).alias(SRC), F.col("__m").alias(DST))
    # ... and u itself points at m
    selfe = with_m.select(SRC, F.col("__m").alias(DST)).distinct()
    return (
        nbrs.unionByName(selfe)
        .filter(F.col(SRC) != F.col(DST))
        .distinct()
    )


def _batch_union_find(pdf):
    """(src, dst) pairs -> (id, component) with component = min member id
    for every vertex in the pairs' support.

    Union-by-min: when two roots merge the smaller id stays root, so by
    induction every root is the minimum id of its set — exactly the
    representative the large-star/small-star fixpoint converges to
    (Kiveris et al.: stars point at component minima). Runs inside one
    bounded Arrow batch; shared by AlternatingCC's batch front-path and
    BoruvkaMST's contraction."""
    import pandas as pd

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in zip(pdf[SRC], pdf[DST]):
        s, d = int(s), int(d)
        if s not in parent:
            parent[s] = s
        if d not in parent:
            parent[d] = d
        rs, rd = find(s), find(d)
        if rs != rd:
            lo, hi = (rs, rd) if rs < rd else (rd, rs)
            parent[hi] = lo
    return pd.DataFrame(
        [(v, find(v)) for v in parent], columns=[ID, COMPONENT]
    )


class AlternatingConnectedComponents:
    """Large-star/small-star alternating connected components (Kiveris et al.).

    ``batch_finish`` (util.batch_plan): once the deduped edge list fits
    this bound, label components with a union-find in one Arrow batch
    instead of the O(log n) alternating-star fixpoint; both paths label
    every component by its minimum id. 1M edges x 16 B ≈ 16 MB on one
    executor. 0 disables."""

    def __init__(
        self,
        max_iterations: int = 20,
        batch_finish: int = 1_000_000,
        require_convergence: bool = True,
        auto_extend: bool = False,
        hard_max_iterations: int | None = None,
    ):
        self.max_iterations = max_iterations
        self.batch_finish = batch_finish
        # r10 verdict #5: same resumable-budget contract as Pregel —
        # the edge list is checkpointed per round, so doubling the
        # budget continues from the live star-contraction state
        self.auto_extend = auto_extend
        if hard_max_iterations is not None and hard_max_iterations < max_iterations:
            raise ValueError("hard_max_iterations must be >= max_iterations")
        self.hard_max_iterations = (
            hard_max_iterations
            if hard_max_iterations is not None
            else (8 * max_iterations if auto_extend else max_iterations)
        )
        # post-fixpoint the edge list is a star forest; reading it as a
        # membership table BEFORE the fixpoint is reached returns garbage
        # labels, not merely coarse ones — so truncation must be loud,
        # the same contract Pregel CC and the SCC floods carry. O(log n)
        # alternation makes 20 rounds enough for ~10^6-diameter inputs;
        # the guard exists for the day that stops being true.
        self.require_convergence = require_convergence

    def run(self, g: Graph) -> DataFrame:
        # loop-free edge pairs (large-star symmetrizes per round); the
        # batch-bound count AND the initial content fingerprint ride the
        # materializing job itself (round 12, checkpoint_observed) —
        # previously two extra actions before the first round
        edges, m0 = checkpoint_observed(
            g.edges.select(SRC, DST)
            .filter(F.col(SRC) != F.col(DST))
            .distinct(),
            __x=F.bit_xor(F.xxhash64(SRC, DST)),
            __n=F.count(F.lit(1)),
        )
        n_edges = m0["__n"] or 0
        if self.batch_finish and n_edges <= self.batch_finish:
            # roots come from the vertex table below, as in the star
            # forest (whose edges only point non-roots at their root)
            membership = batch_plan(
                _batch_union_find, f"{ID} long, {COMPONENT} long", edges
            ).filter(F.col(ID) != F.col(COMPONENT))
            roots_and_isolated = (
                g.vertices.select(ID)
                .join(membership.select(ID), on=ID, how="anti")
                .withColumn(COMPONENT, F.col(ID))
            )
            return membership.unionByName(roots_and_isolated)

        # order-insensitive content fingerprint; ids span the full 64-bit
        # hash range, so sums would overflow ANSI arithmetic — XOR of row
        # hashes + count is overflow-free. The per-round probe rides each
        # round's own checkpoint job (checkpoint_observed), not a
        # separate action.
        fingerprint = (m0["__x"], m0["__n"])
        converged = False
        rounds = 0
        budget = self.max_iterations
        while rounds < budget:
            edges, m = checkpoint_observed(
                _small_star(_large_star(edges)),
                __x=F.bit_xor(F.xxhash64(SRC, DST)),
                __n=F.count(F.lit(1)),
            )
            rounds += 1
            new_fingerprint = (m["__x"], m["__n"])
            if new_fingerprint == fingerprint:
                converged = True
                break
            fingerprint = new_fingerprint
            if (
                rounds == budget
                and self.auto_extend
                and budget < self.hard_max_iterations
            ):
                budget = min(2 * budget, self.hard_max_iterations)
        self.rounds_run = rounds
        if self.require_convergence and not converged:
            raise RuntimeError(
                "AlternatingConnectedComponents hit max_iterations="
                f"{self.max_iterations} before the star fixpoint — the "
                "edge list is not yet a star forest and reading it as a "
                "membership table would return wrong labels. Raise "
                "max_iterations (rounds are O(log n)), pass "
                "auto_extend=True (resumes the checkpointed contraction "
                "with a doubled budget, bounded by hard_max_iterations), "
                "or pass require_convergence=False to accept truncation."
            )

        # post-fixpoint the edge list is a star forest pointing at roots


        membership = edges.select(F.col(SRC).alias(ID), F.col(DST).alias(COMPONENT))
        roots_and_isolated = (
            g.vertices.select(ID)
            .join(membership.select(ID), on=ID, how="anti")
            .withColumn(COMPONENT, F.col(ID))
        )
        return membership.unionByName(roots_and_isolated)
