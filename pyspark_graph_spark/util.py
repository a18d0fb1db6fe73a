"""Join/union/motif helpers (semantics of reference util.py:9-39, fixed),
the observed checkpoint, and the bounded-batch finish every operator with a
single-task Arrow kernel goes through.

The join/union/motif helpers are pure plan builders — no actions, no
caching. They compose with Catalyst optimization (join reordering,
pushdown) because they only use the public DataFrame API.
"""

from __future__ import annotations

from functools import reduce
from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyspark_graph_spark.constants import DST, SRC


def common_columns(left: DataFrame, right: DataFrame) -> list[str]:
    """Shared column names, in left-DataFrame order (deterministic)."""
    right_cols = set(right.columns)
    return [c for c in left.columns if c in right_cols]


def multiple_join(dfs: Sequence[DataFrame]) -> DataFrame:
    """Natural-join a list of DataFrames on their shared column names.

    Semantics of reference util.py:9-14. Each pairwise join is an inner
    equi-join on the columns the two frames share at that point in the
    reduction; Catalyst reorders/plans the join tree (AQE may broadcast small
    sides at runtime).

    Raises ``ValueError`` on an empty list or when a pair shares no columns
    (which would otherwise silently produce a cross join).
    """
    if not dfs:
        raise ValueError("multiple_join requires at least one DataFrame")

    def join2(left: DataFrame, right: DataFrame) -> DataFrame:
        on = common_columns(left, right)
        if not on:
            raise ValueError(
                "multiple_join: no shared columns between "
                f"{left.columns} and {right.columns}"
            )
        return left.join(right, on=on)

    return reduce(join2, dfs)


def multiple_union(dfs: Sequence[DataFrame]) -> DataFrame:
    """Union a list of DataFrames **by name** (reference util.py:17-21 used
    positional ``union``, which hides column-misalignment bugs; we don't)."""
    if not dfs:
        raise ValueError("multiple_union requires at least one DataFrame")
    return reduce(DataFrame.unionByName, dfs)


def ne_null_safe(x: Column, y: Column) -> Column:
    """Null-safe inequality (reference util.py:24-25): NULL <=> NULL is False."""
    return ~x.eqNullSafe(y)


def match_structure(
    edges: DataFrame, match: Iterable[tuple[str, str]]
) -> DataFrame:
    """Conjunctive edge-pattern (motif) match — GraphFrames ``find()`` lite.

    Each ``(s, d)`` variable pair aliases the edge table as columns ``s``/``d``;
    the natural join unifies shared variables (reference util.py:28-32).
    E.g. ``match_structure(e, [("a","b"), ("b","c"), ("a","c")])`` matches
    triangles. Returns one column per distinct variable.

    Scale note: this is an N-way self-equi-join; Catalyst plans shuffled hash /
    sort-merge joins on the unified variables. Canonicalize edges first
    (``order_edges``) to cut the candidate space for undirected motifs.
    """
    match = list(match)
    frames = [
        edges.select(F.col(SRC).alias(s), F.col(DST).alias(d))
        for s, d in match
    ]
    variables = list(dict.fromkeys(v for pair in match for v in pair))
    return multiple_join(frames).select(variables)


def order_edges(edges: DataFrame) -> DataFrame:
    """Canonicalize an edge list: drop self-loops, order endpoints ascending,
    dedup (reference util.py:35-39). Keeps only (src, dst)."""
    return (
        edges.filter(F.col(SRC) != F.col(DST))
        .select(
            F.least(SRC, DST).alias(SRC),
            F.greatest(SRC, DST).alias(DST),
        )
        .dropDuplicates()
    )


def checkpoint_observed(
    df: DataFrame, **metrics: Column
) -> tuple[DataFrame, dict]:
    """``localCheckpoint`` a frame and collect aggregate metrics about it
    IN THE SAME JOB (round 12, guide §2.4).

    Every iterative operator used to pay one extra action per round for
    its convergence probe (``isEmpty``/``count``/fingerprint ``first``)
    on the frame it had just checkpointed — at gate scale that is one
    ~90 ms fixed-overhead job per round per operator, and at 100 TB one
    full cluster job launch per round. ``DataFrame.observe`` attaches
    the aggregates to the checkpoint's own materialization, so the probe
    rides the job that must run anyway. The checkpointed ROWS are
    byte-identical (observe is a pass-through metrics node); only the
    probe's packaging changes.

    Returns ``(checkpointed_df, {name: value})``. The metric values are
    what the same aggregate expressions would return over the frame
    (``sum`` over no rows is None, like any Spark aggregate).
    """
    from pyspark.sql import Observation

    obs = Observation()
    out = df.observe(
        obs, *[m.alias(n) for n, m in metrics.items()]
    ).localCheckpoint()
    return out, obs.get


# ---------------------------------------------------------------------------
# Bounded-batch finishes
# ---------------------------------------------------------------------------

_G = "__g"
_STATUS = "__batch_status"
_DETAIL = "__batch_detail"
_OK, _DEFER, _ERROR = 0, 1, 2


class BatchDefer(Exception):
    """Raised inside a bounded-batch kernel to hand the whole input over
    to the operator's distributed plan (see :func:`batch_plan`); the
    message is the reason."""


def integral_keys(df: DataFrame, *cols: str) -> bool:
    """True when every named column exists and has an integral type —
    the precondition for the batch kernels' int64 id arithmetic."""
    kinds = {f.name: f.dataType.typeName() for f in df.schema.fields}
    return all(
        kinds.get(c) in ("long", "integer", "short", "byte") for c in cols
    )


def count_rows(df: DataFrame) -> int:
    """Row count of ``df`` in ONE Spark job, nothing materialized.

    ``DataFrame.count`` plans a partial/final aggregate whose exchange
    costs a second job under AQE; a count observed over a ``noop`` write
    costs what a checkpoint of the frame would, minus the write. Batch
    gates use it where the frame is not needed above the bound."""
    from pyspark.sql import Observation

    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
        "overwrite"
    ).save()
    return obs.get["n"]


def sorted_positions(ids, values):
    """``(pos, found)`` for ``values`` looked up in the sorted int array
    ``ids``: ``pos`` is the searchsorted slot and ``found`` marks the
    values present in ``ids``. Safe on an empty ``ids`` (nothing found)."""
    import numpy as np

    pos = np.searchsorted(ids, values)
    found = pos < len(ids)
    found[found] = ids[pos[found]] == values[found]
    return pos, found


def batch_plan(kernel, schema: str, *frames: DataFrame) -> DataFrame:
    """Bounded-batch finish: run ``kernel`` over one or two frames
    gathered into a SINGLE pandas group on one task (lazy plan).

    Every operator with a batch finish keeps two implementations of one
    algorithm: the distributed plan (the only path above the bound, and
    at 100 TB) and an Arrow kernel that replays the same arithmetic on
    inputs small enough for one executor. Both must give the same answer
    on every input (tests/test_batch_differential.py). The contract:

    - **Bound.** The caller probes the input size itself and takes the
      kernel only when ``size <= batch_finish`` (most sites also require
      ``size > 0``); ``batch_finish=0`` disables the kernel. The probe
      must not materialize anything the distributed plan would not (a
      plain or :func:`count_rows` count, or a checkpoint the distributed
      plan reuses). The caller also checks :func:`integral_keys` first:
      the kernels index by int64 ids.
    - **Kernel.** ``kernel(pdf)`` for one frame, ``kernel(left, right)``
      for two (a cogroup); it returns a pandas frame with exactly the
      columns of ``schema``.
    - **Defer vs error.** A kernel that meets an input it cannot replay
      exactly raises :class:`BatchDefer`; the caller then runs the
      distributed plan. A kernel that reaches the distributed path's own
      loud failure raises ``ValueError`` with that path's text. Any other
      exception is a bug and fails the job.
    - **Eager vs lazy.** This function builds the lazy plan: nothing runs
      until the caller's next action, where a kernel exception would
      surface as a task failure. A kernel that can defer or raise, or a
      site whose result must exist at the call, goes through
      :func:`run_batch`, which is eager and turns those outcomes into
      data.
    """
    groups = [df.withColumn(_G, F.lit(0)).groupBy(_G) for df in frames]
    if len(groups) == 1:
        return groups[0].applyInPandas(kernel, schema)
    left, right = groups
    return left.cogroup(right).applyInPandas(kernel, schema)


def run_batch(
    kernel, schema: str, *frames: DataFrame, **metrics: Column
) -> tuple[DataFrame | None, dict]:
    """Eager :func:`batch_plan` with the typed outcome protocol.

    A wrapper catches the kernel's :class:`BatchDefer` / ``ValueError``
    inside the Arrow task and emits a one-row status column instead of
    failing the task. The status rides the checkpoint job as observed
    metrics (:func:`checkpoint_observed`), so no Spark job is added and
    no decision reads exception text.

    Returns ``(out, observed)``: ``out`` is the checkpointed result, or
    ``None`` when the kernel deferred; ``observed`` holds the values of
    the extra ``metrics`` aggregates over the kernel's rows. A kernel
    ``ValueError`` is re-raised here with its text.
    """
    from pyspark.sql.types import StructType

    names = StructType.fromDDL(schema).names

    def guarded(*pdfs):
        import pandas as pd

        try:
            out, status, detail = kernel(*pdfs), _OK, None
        except BatchDefer as e:
            out, status, detail = None, _DEFER, str(e)
        except ValueError as e:
            out, status, detail = None, _ERROR, str(e)
        if out is None:
            out = pd.DataFrame({c: [None] for c in names})
        return out.assign(**{_STATUS: status, _DETAIL: detail})

    if len(frames) == 1:
        fn = lambda pdf: guarded(pdf)  # noqa: E731
    else:
        fn = lambda left, right: guarded(left, right)  # noqa: E731
    out, m = checkpoint_observed(
        batch_plan(fn, f"{schema}, {_STATUS} int, {_DETAIL} string", *frames),
        **{
            _STATUS: F.max(_STATUS),
            _DETAIL: F.max(F.when(F.col(_STATUS) != _OK, F.col(_DETAIL))),
        },
        **metrics,
    )
    if m[_STATUS] == _ERROR:
        raise ValueError(m[_DETAIL])
    if m[_STATUS] == _DEFER:
        return None, m
    return out.drop(_STATUS, _DETAIL), m
