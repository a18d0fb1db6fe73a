"""PageRank — power iteration over the edge list (GraphX semantics).

The reference lists PageRank as unsupported (README.md:24-38); this is an
engine extension. Semantics follow GraphX's classic formulation:

    pr_0(v) = 1.0
    pr_{k+1}(v) = (1-α) + α · Σ_{(u,v)∈E} pr_k(u) / outdeg(u)

(no dangling-mass redistribution — dangling vertices simply leak, as in
GraphX's default; documented, and what the SQL oracle states). Undirected
graphs contribute along both edge directions.

Physical shape per iteration: ranks ⋈ edges on the source key, groupBy
destination sum, left-join back to vertices (zero in-degree ⇒ baseline
rank). Ranks and the degree table are checkpointed; iterations stop at
``max_iterations`` or when the L1 delta drops below ``tolerance``.

Scale: two shuffles per iteration on the vertex id; co-partitioning edges
by src (bucketing) makes the contribution join local. The degree table is
computed once. This is the textbook distributed PageRank — the operator to
benchmark a cluster's iterative-join path with.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark_graph_spark.constants import DST, ID, SRC
from pyspark_graph_spark.graph import Graph
from pyspark_graph_spark.util import (
    BatchDefer,
    checkpoint_observed,
    integral_keys,
    run_batch,
    sorted_positions,
)

PAGERANK = "pagerank"

# Bounded-batch finish (util.run_batch; the bound covers vertices +
# edges): the kernel replays the identical double algebra — per edge
# (pr(src) * w) / deg(src), per vertex (1-α)·reset + α·(sum of
# contributions, 0 when none), the same iteration count and the same
# optional L1-delta early stop — with the SVD kernels' last-ulp caveat
# (operators/svd.py module note).


def _pagerank_batch_kernel(alpha: float, max_iterations: int, tolerance):
    def kern(v_pdf, e_pdf):
        import numpy as np
        import pandas as pd

        ids = v_pdf[ID].to_numpy(dtype=np.int64)
        reset = v_pdf["__reset"].to_numpy(dtype=np.float64)
        order = np.argsort(ids, kind="stable")
        ids, reset = ids[order], reset[order]
        src = e_pdf[SRC].to_numpy(dtype=np.int64)
        dst = e_pdf[DST].to_numpy(dtype=np.int64)
        w = e_pdf["__w"].to_numpy(dtype=np.float64)
        eorder = np.lexsort((dst, src))
        src, dst, w = src[eorder], dst[eorder], w[eorder]
        # out-degree (weight sum) over ALL edge sources, as the
        # distributed deg aggregate does
        dsrc, dinv = np.unique(src, return_inverse=True)
        deg = np.zeros(len(dsrc), dtype=np.float64)
        np.add.at(deg, dinv, w)
        # edge endpoints resolved against the vertex table: a source
        # with no rank row contributes nothing (the ranks join), a
        # destination outside the vertex table is dropped (the verts
        # left join)
        s_idx, s_ok = sorted_positions(ids, src)
        d_idx, d_ok = sorted_positions(ids, dst)
        keep = s_ok & d_ok
        s_idx, d_idx = s_idx[keep], d_idx[keep]
        wk = w[keep]
        degk = deg[dinv[keep]]
        if np.any(degk == 0.0):
            # the distributed plan's division is unguarded — under ANSI
            # a zero out-weight sum raises DIVIDE_BY_ZERO there; defer
            # so that loud error is the behavior in both paths
            raise BatchDefer("zero out-weight sum")
        pr = reset.copy()
        for _ in range(max_iterations):
            contrib = np.zeros(len(ids), dtype=np.float64)
            np.add.at(contrib, d_idx, (pr[s_idx] * wk) / degk)
            new = (1.0 - alpha) * reset + alpha * contrib
            if tolerance is not None:
                delta = float(np.sum(np.abs(new - pr)))
                pr = new
                if delta < tolerance:
                    break
            else:
                pr = new
        return pd.DataFrame({ID: ids, PAGERANK: pr})

    return kern


def _ppr_multi_batch_kernel(alpha: float, max_iterations: int):
    """All-sources personalized PageRank in one Arrow batch. Per source
    the recurrence runs dense over the edge-endpoint id universe; the
    emitted row set equals the sparse plan's (restart ∪ reachable):
    every sparse row's value is strictly positive — contributions are
    (positive pr · positive w / positive deg) sums — so positive-mass
    entries ARE the sparse row set. Nonpositive weights would break
    that equivalence; the kernel defers them to the distributed plan."""

    def kern(r_pdf, e_pdf):
        import numpy as np
        import pandas as pd

        src = e_pdf[SRC].to_numpy(dtype=np.int64)
        dst = e_pdf[DST].to_numpy(dtype=np.int64)
        w = e_pdf["__w"].to_numpy(dtype=np.float64)
        if np.any(~(w > 0.0)):
            raise BatchDefer("nonpositive weight")
        eorder = np.lexsort((dst, src))
        src, dst, w = src[eorder], dst[eorder], w[eorder]
        dsrc, dinv = np.unique(src, return_inverse=True)
        deg = np.zeros(len(dsrc), dtype=np.float64)
        np.add.at(deg, dinv, w)
        starts = sorted(
            {(int(i), int(s)) for i, s in zip(r_pdf[ID], r_pdf["source"])}
        )
        ids = np.unique(
            np.concatenate(
                [src, dst, np.array([i for i, _ in starts], dtype=np.int64)]
            )
        )
        s_idx = np.searchsorted(ids, src)
        d_idx = np.searchsorted(ids, dst)
        share_w = w
        share_deg = deg[dinv]
        out_id, out_src, out_pr = [], [], []
        for start, source in starts:
            reset = np.zeros(len(ids), dtype=np.float64)
            reset[np.searchsorted(ids, start)] = 1.0
            pr = reset.copy()
            for _ in range(max_iterations):
                contrib = np.zeros(len(ids), dtype=np.float64)
                np.add.at(
                    contrib, d_idx, (pr[s_idx] * share_w) / share_deg
                )
                pr = (1.0 - alpha) * reset + alpha * contrib
            mask = pr > 0.0
            out_id.extend(int(x) for x in ids[mask])
            out_src.extend([source] * int(mask.sum()))
            out_pr.extend(float(x) for x in pr[mask])
        return pd.DataFrame(
            {ID: out_id, "source": out_src, PAGERANK: out_pr}
        )

    return kern


class PageRank:
    def __init__(
        self,
        alpha: float = 0.85,
        max_iterations: int = 10,
        tolerance: float | None = None,
        sources: list[int] | None = None,
        weight_col: str | None = None,
        batch_finish: int = 1_000_000,
    ):
        """``sources``: personalize — the (1-α) reset mass lands uniformly
        on these vertex ids instead of everywhere (random walk with restart
        to the source set). None = classic PageRank.

        ``weight_col``: edge-weighted variant — a vertex's rank splits over
        its out-edges proportionally to the edge weight (transition
        probability w / Σw) instead of uniformly. Same plan shape: the
        degree table becomes a weight-sum table, everything else is
        unchanged."""
        self.alpha = alpha
        self.max_iterations = max_iterations
        self.tolerance = tolerance
        self.sources = sources
        self.weight_col = weight_col
        self.batch_finish = batch_finish

    def run(self, g: Graph) -> DataFrame:
        """Returns ``(id, pagerank)`` for every vertex."""
        # pre-partition the static edge side on the join key: per-iteration
        # joins then shuffle only the rank frame
        w = (
            F.col(self.weight_col).cast("double")
            if self.weight_col
            else F.lit(1.0)
        )
        # probes ride the materializing checkpoints (round 12,
        # checkpoint_observed); the reset column folds into the one
        # vertex checkpoint instead of a second materialization
        edges, me = checkpoint_observed(
            g.symmetric_edges.select(SRC, DST, w.alias("__w")).repartition(
                F.col(SRC)
            ),
            __n=F.count(F.lit(1)),
        )
        if self.sources is None:
            reset = F.lit(1.0)
        else:
            src_set = F.array(*[F.lit(int(s)) for s in self.sources])
            reset = F.when(
                F.array_contains(src_set, F.col(ID)), F.lit(1.0)
            ).otherwise(F.lit(0.0))
        verts, mv = checkpoint_observed(
            g.vertices.select(ID).withColumn("__reset", reset),
            __n=F.count(F.lit(1)),
        )
        if (
            self.batch_finish
            and integral_keys(edges, SRC, DST)
            and integral_keys(verts, ID)
            and 0
            < (me["__n"] or 0) + (mv["__n"] or 0)
            <= self.batch_finish
        ):
            # a zero out-degree defers: the distributed plan's unguarded
            # ANSI division is the loud behavior
            out, _ = run_batch(
                _pagerank_batch_kernel(
                    self.alpha, self.max_iterations, self.tolerance
                ),
                f"{ID} long, {PAGERANK} double",
                verts,
                edges,
            )
            if out is not None:
                return out
        deg = (
            edges.groupBy(SRC)
            .agg(F.sum("__w").alias("__deg"))
            .localCheckpoint()
        )
        ranks = verts.select(
            ID, F.col("__reset").alias(PAGERANK)
        ).localCheckpoint()

        for _ in range(self.max_iterations):
            contribs = (
                edges.join(deg, on=SRC)
                .join(ranks, on=F.col(SRC) == F.col(ID))
                .select(
                    F.col(DST).alias(ID),
                    (F.col(PAGERANK) * F.col("__w") / F.col("__deg")).alias(
                        "__c"
                    ),
                )
                .groupBy(ID)
                .agg(F.sum("__c").alias("__sum"))
            )
            new_ranks = (
                verts.join(contribs, on=ID, how="left")
                .select(
                    ID,
                    (
                        F.lit(1.0 - self.alpha) * F.col("__reset")
                        + F.lit(self.alpha) * F.coalesce("__sum", F.lit(0.0))
                    ).alias(PAGERANK),
                )
                .localCheckpoint()
            )
            if self.tolerance is not None:
                delta = (
                    new_ranks.withColumnRenamed(PAGERANK, "__new")
                    .join(ranks, on=ID)
                    .agg(
                        F.sum(F.abs(F.col("__new") - F.col(PAGERANK)))
                    )
                    .first()[0]
                )
                ranks = new_ranks
                if delta is not None and delta < self.tolerance:
                    break
            else:
                ranks = new_ranks
        return ranks


def parallel_personalized_pagerank(
    g: Graph,
    sources: list[int],
    alpha: float = 0.85,
    max_iterations: int = 10,
    weight_col: str | None = None,
    batch_finish: int = 1_000_000,
) -> DataFrame:
    """Personalized PageRank from EVERY source at once — the reference
    README's one unsupported-matrix row with no counterpart here until
    round 9 (reference README.md:30, ParallelPersonalizedPageRank ❌).

    One independent random-walk-with-restart per source s:

        pr_0(v|s)     = [v == s]
        pr_{k+1}(v|s) = (1-α)·[v == s] + α · Σ_{(u,v)∈E} pr_k(u|s)·w/Σw(u)

    State is a SPARSE long table ``(id, source, rank)`` — a row exists iff
    the walk can have reached ``id`` from ``source`` (all terms positive),
    so early iterations carry |sources|·|k-hop ball| rows, not V·|sources|.
    Per iteration: one contribution join keyed on the vertex id (the static
    edge side is pre-partitioned on src and checkpointed once) and one
    union+groupBy that folds the (1-α) restart rows in — no outer join, no
    per-source loop, no map-state blowup. At 100 TB this batches any number
    of sources through the same two shuffles classic PageRank pays.

    Returns ``(id, source, pagerank)`` with only positive-mass rows.
    """
    if not sources:
        raise ValueError("sources must be non-empty")
    spark = g.edges.sparkSession
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    edges, me = checkpoint_observed(
        g.symmetric_edges.select(SRC, DST, w.alias("__w")).repartition(
            F.col(SRC)
        ),
        __n=F.count(F.lit(1)),
    )
    restart = spark.createDataFrame(
        [(int(s), int(s)) for s in dict.fromkeys(sources)],
        f"{ID} long, source long",
    ).localCheckpoint()
    if (
        batch_finish
        and integral_keys(edges, SRC, DST)
        and 0 < (me["__n"] or 0) + len(sources) <= batch_finish
    ):
        out, _ = run_batch(
            _ppr_multi_batch_kernel(alpha, max_iterations),
            f"{ID} long, source long, {PAGERANK} double",
            restart,
            edges,
        )
        if out is not None:
            return out
    deg = edges.groupBy(SRC).agg(F.sum("__w").alias("__deg")).localCheckpoint()
    ranks = restart.withColumn(PAGERANK, F.lit(1.0)).localCheckpoint()
    for _ in range(max_iterations):
        # alpha is applied ONCE after the aggregate — pr_{k+1} =
        # (1-α)·reset + α·Σ(pr·w/d) — the same arithmetic order as the
        # unrolled SQL oracle (0.15*reset + 0.85*SUM(pr/d)), so agreement
        # is by replayed arithmetic, not rounding slack (r9 ADVICE #3).
        # Restart rows ride the same union with a flag instead of a
        # pre-scaled mass so neither term is folded into the sum.
        contribs = (
            edges.join(deg, on=SRC)
            .join(ranks, on=F.col(SRC) == F.col(ID))
            .select(
                F.col(DST).alias(ID),
                "source",
                (F.col(PAGERANK) * F.col("__w") / F.col("__deg")).alias("__c"),
                F.lit(0.0).alias("__reset"),
            )
        )
        ranks = (
            contribs.unionByName(
                restart.select(
                    ID,
                    "source",
                    F.lit(0.0).alias("__c"),
                    F.lit(1.0).alias("__reset"),
                )
            )
            .groupBy(ID, "source")
            .agg(
                F.sum("__c").alias("__sc"),
                F.sum("__reset").alias("__sr"),
            )
            .select(
                ID,
                "source",
                (
                    F.lit(1.0 - alpha) * F.col("__sr")
                    + F.lit(alpha) * F.col("__sc")
                ).alias(PAGERANK),
            )
            .localCheckpoint()
        )
    return ranks
