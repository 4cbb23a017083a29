"""The engine's two loop operators: `fixpoint` for the convergence
loops, `propagate` for one superstep of the fixed-round ones.

A round of an iterative graph algorithm is one Spark round: the
reference's per-level thread barrier (dfs_bfs.h:143-160) becomes the
boundary between two states. `fixpoint` makes the four decisions every
convergence loop needs, once:

- lineage: each round's state gets a lazy `localCheckpoint`, so round
  k+1 plans from round k's blocks, never from round 0 (the GraphX
  pattern, OSDI'14);
- the probe: the caller's convergence probe (a count, a fingerprint)
  is the action that materializes that checkpoint, so a round runs one
  action, not a checkpoint job plus a probe job;
- the bound: at most `max_rounds` rounds;
- non-convergence: a named loop raises at the bound, because its oracle
  computes the full fixpoint and an unconverged state would be a silent
  wrong answer. An unnamed loop is bounded by definition (BFS's
  `max_levels`, the SCC closure's doublings): its oracle stops at the
  same bound, so it returns there.

`propagate` is GraphX's `aggregateMessages`: edges ⋈ state on src,
grouped by dst. It runs no action and checkpoints nothing, so a
fixed-round loop of supersteps stays one lazy plan whose lineage the
round count bounds. Neither operator sets a job group or description:
their jobs belong to the caller's span.

Users of `fixpoint`: `bfs_levels`, `connected_components_with_rounds`,
`graph_kcore`, `graph_ktruss` and `graph_scc`'s closure. Users of
`propagate`: `graph_pagerank`, `_ppr_sparse` (PPR and PPR-multi) and
`graph_hits` (sum), `graph_sssp` (min) and `label_propagation` (`mode`).
Loops left outside on purpose: the seeded Brandes kernel
(`analytics._brandes_levels`/`_brandes`, which betweenness and
closeness share) is a fixed-level eager loop whose steps also anti-join
the visited set or carry σ and δ. On its forward pass a count probe
adds an exchange that an eager checkpoint does not: measured +1 job
per level (`graph_closeness` 33 → 38 jobs at sf0.01). Borůvka
(`minimum_spanning_forest`) carries three states and two exits.
"""

from __future__ import annotations

from typing import Any, Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def fixpoint(
    state0: DataFrame,
    step: Callable[[DataFrame, Any], DataFrame],
    probe: Callable[[DataFrame], Any],
    done: Callable[[Any, Any], bool],
    *, max_rounds: int, name: str | None = None, probe0: Any = None,
) -> tuple[list[DataFrame], Any]:
    """Iterate `state ← step(state, p)` until `done(p, p_prev)`.

    `probe(state)` is the one action on a round's lazily checkpointed
    state; its small driver-side value `p` goes to the next `step` and,
    with the value before it (None for `state0`), to `done`. Pass
    `probe0` when `state0` is already materialized and its probe known:
    the kernel then neither checkpoints nor probes it.

    Returns every round's state (`state0` first) and the last probe.
    Raises RuntimeError if a named loop is not done in `max_rounds`.
    """
    if probe0 is None:
        state0 = state0.localCheckpoint(eager=False)
        probe0 = probe(state0)
    states, p, prev = [state0], probe0, None
    while not done(p, prev):
        if len(states) > max_rounds:
            if name is None:
                break
            raise RuntimeError(f"{name} did not converge in {max_rounds} rounds")
        states.append(step(states[-1], p).localCheckpoint(eager=False))
        prev, p = p, probe(states[-1])
    return states, p


def propagate(
    edges: DataFrame,
    state: DataFrame,
    msg: Column,
    agg: Callable[[Column], Column],
    *, by: Sequence[str] = (), keep: Column | None = None,
) -> DataFrame:
    """One superstep → (*by, v, m): each `edges` row whose `src` is a
    state row's `v` sends `msg` (over the joined columns) to its `dst`,
    and `m` is `agg` of what each (*by, v) received. With `keep`, each
    state row also sends `keep` to its own `v` (self-inclusive)."""
    sent = edges.join(state, edges["src"] == state["v"]).select(
        *by, F.col("dst").alias("v"), msg.alias("m")
    )
    if keep is not None:
        sent = sent.unionByName(state.select(*by, "v", keep.alias("m")))
    return sent.groupBy(*by, "v").agg(agg(F.col("m")).alias("m"))
