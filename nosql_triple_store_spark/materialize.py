"""Env-selectable materialization policy for reused intermediates.

Iterative fixpoints (pagerank/cc/scc/bfs/lpa/sssp/kcore, star
contraction) and multi-consumer intermediates (basket/itemsets, ngram,
LSH signatures, attribution) truncate lineage and materialize once via
``localCheckpoint`` — blocks live in UNREPLICATED executor memory/disk.
That is the right local-mode default (cheapest cut), but at the 100 TB
target a single lost executor kills a 50-round fixpoint, and
MEMORY_AND_DISK blocks of an exploded corpus evict unpredictably
(VERDICT r11 #3). Every call site therefore routes through
:func:`materialize` (``df.transform(materialize)``) and the policy is
deployment-selected via ``SPARK_GRAFT_CKPT_POLICY``:

- ``local`` (default): ``localCheckpoint()`` — eager, executor-local,
  no replication. Fastest; right for local/bench runs and clusters
  where recompute-on-loss is acceptable.
- ``reliable``: ``checkpoint()`` to the fault-tolerant checkpoint dir
  (``SPARK_GRAFT_CKPT_DIR``, or a per-process scratch dir locally; on a
  cluster point it at the warehouse/DFS prefix). Survives executor
  loss — the guide §5 choice for long fixpoints at scale.
- ``disk``: ``persist(DISK_ONLY)`` + eager materialization — spillable,
  explicitly unpersistable, keeps lineage (recomputable on block loss)
  at the cost of bigger plans.

All three are EAGER (the loop/bench timing contract: the step is paid
inside the step), and all three produce results byte-identical to
``localCheckpoint`` — the policy moves durability, never semantics.

Capped iterative loops (CC, SCC, star contraction, k-core, SSSP, the
``p+``/``p*`` path closure) run through :func:`fixpoint`, the single
owner of the round cap and of the loud non-convergence error: a loop
that hits its cap raises instead of returning a partial result.
"""

from __future__ import annotations

import os
from typing import Callable, TypeVar

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_S = TypeVar("_S")

_CKPT_DIR_SET: set[str] = set()  # app ids with a checkpoint dir configured


def _policy() -> str:
    p = os.environ.get("SPARK_GRAFT_CKPT_POLICY", "local")
    if p not in ("local", "reliable", "disk"):
        raise ValueError(
            f"SPARK_GRAFT_CKPT_POLICY={p!r}: expected local|reliable|disk"
        )
    return p


def _ensure_ckpt_dir(df: DataFrame) -> None:
    sc = df.sparkSession.sparkContext
    app = sc.applicationId
    if app not in _CKPT_DIR_SET:
        base = os.environ.get("SPARK_GRAFT_CKPT_DIR")
        if not base:
            from .scratch import scratch_tmp

            base = scratch_tmp("reliable_ckpt_")
        sc.setCheckpointDir(base)
        _CKPT_DIR_SET.add(app)


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` under the selected durability policy
    and return a DataFrame reading the materialized blocks. Use as
    ``df.transform(materialize)`` wherever ``localCheckpoint()`` was the
    intent: cut lineage / stop multi-consumer recompute."""
    policy = _policy()
    if policy == "reliable":
        _ensure_ckpt_dir(df)
        return df.checkpoint()  # eager=True
    if policy == "disk":
        out = df.persist(StorageLevel.DISK_ONLY)
        out.count()  # force the cache to build now (loop timing contract)
        return out
    return df.localCheckpoint()


def lazy_cut(df: DataFrame) -> DataFrame:
    """Lineage cut whose materialization happens on FIRST ACTION instead
    of eagerly (the ``localCheckpoint(eager=False)`` call sites: the
    caller knows only one downstream action exists, or wants the cost
    charged to the consuming action). Same policy switch as
    :func:`materialize`."""
    policy = _policy()
    if policy == "reliable":
        _ensure_ckpt_dir(df)
        return df.checkpoint(eager=False)
    if policy == "disk":
        return df.persist(StorageLevel.DISK_ONLY)
    return df.localCheckpoint(eager=False)


def fixpoint(
    state: _S, step: Callable[[_S], tuple[_S, bool]], max_rounds: int, what: str
) -> _S:
    """Run ``state, done = step(state)`` until ``done`` and return the
    final state. ``step`` owns the round's materialization and its
    convergence action; reaching ``max_rounds`` rounds without ``done``
    raises, since a loop cut short returns a wrong answer silently."""
    for _ in range(max_rounds):
        state, done = step(state)
        if done:
            return state
    raise RuntimeError(f"{what} did not converge in {max_rounds} rounds")
