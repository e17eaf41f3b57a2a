"""Scale-adaptive execution sizing for iterative kernels.

Iterative operators (label propagation, BFS/SSSP sweeps, Brandes passes,
Louvain rounds, CC propagation, BPE rounds, Lloyd steps) materialize their
state every round, so their wall time is ``rounds x (scheduler floor per
materialization)``. Two knobs set that floor, and both must be derived
from DATA SIZE, never from the local core count (guide §2.2/§2.5 —
partitioning must be scale-adaptive, a constant tuned for either local
mode or the cluster is wrong at the other end):

- **shuffle width**: a round's state of ``n`` rows needs
  ``ceil(n / ITER_ROWS_PER_PARTITION)`` reduce partitions (~100 MB of
  narrow state rows per partition, the guide's partition-size target).
  The session default (sized for scans of the full input) is far too wide
  for a per-vertex state table, and every extra partition is an extra
  task per round.
- **AQE query-stage jobs**: AQE executes every exchange as its own
  query-stage job so it can re-plan between stages. For a state that the
  derived width already puts in a couple of partitions there is nothing
  left to re-plan (no skew to split, nothing to coalesce), and the extra
  per-exchange job submissions are the dominant cost of a sub-second
  round (measured: a 5-round join+agg loop on a 256-row state drops
  1.24 s -> 0.47 s from narrow width + AQE off). With a large derived
  width the kernel leaves AQE exactly as configured.

``iter_kernel`` scopes both settings to the loop and restores the
session's values afterwards; the confs are read at action time, so only
the actions *inside* the scope (the per-round checkpoints/counts) run
with the kernel sizing. Result values are unaffected — partitioning only
changes task granularity (callers must not use it around float
aggregations whose unrounded values are hash-compared; every current
caller aggregates integers, mins, or exactly-representable dyadic sums).

``min_supersteps`` is the one superstep loop for the kernels whose round
is "send messages, keep the minimum per key" (GraphX's Pregel operator
with a ``min`` merge): connected components, BFS/SSSP, harmonic BFS,
both SCC sweeps and the dedup components. It owns their single
checkpoint rule — a lazy ``localCheckpoint`` every round, an eager one
on the last round of a fixed-round loop. The state appears on both
sides of each round's union, so an un-truncated plan doubles every
round; a lazy checkpoint launches no job of its own (the next round's
use of the state materializes it). Measured on a 4-core host at sf0.1
(min of 5 warm calls), the per-round rule took g55 (SCC) from 3.8 s to
2.0 s against eager checkpoints every 8th round, and the SCC unit-test
fixtures from 11-18 s to 4-6 s each. The to-fixpoint variant tests
convergence every 2nd round; testing every 3rd instead measured 10-15%
slower on d7/d12 (one more round past the fixpoint).
"""

from __future__ import annotations

import math
import threading
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

#: Serializes every scoped session-conf swap (``iter_kernel`` here, the
#: streaming ``_start_with_state_partitions``) across driver threads: the
#: swapped confs are session-global, so two concurrent queries on one
#: session could otherwise run one query's loop at the other's width.
#: Re-entrant so nested kernel scopes on one thread remain legal (each
#: scope saves and restores its own previous values, LIFO).
_CONF_SWAP_LOCK = threading.RLock()

#: ~100 MB of 16-48 byte state rows per reduce partition (guide §2.2).
ITER_ROWS_PER_PARTITION = 250_000

#: Below this derived width the loop runs with AQE off (nothing to
#: re-plan; the per-exchange query-stage jobs are pure overhead).
AQE_OFF_MAX_WIDTH = 4


def iter_width(
    n_rows: int, cap: int, rows_per_partition: int = ITER_ROWS_PER_PARTITION
) -> int:
    """Data-derived shuffle width for an ``n_rows``-row iterative state,
    never wider than the session's configured width ``cap``.
    ``rows_per_partition`` defaults to the narrow-row target; loops whose
    state rows are wide (path enumeration carrying id arrays) pass a
    smaller value so the ~100 MB/partition target still holds."""
    return max(1, min(cap, math.ceil(n_rows / rows_per_partition)))


class IterKernel:
    """Handle yielded by :func:`iter_kernel`: the derived width plus a
    broadcast-hint helper for the loop's joins."""

    def __init__(
        self,
        width: int,
        narrow: bool,
        spark: SparkSession | None = None,
        cap: int = 0,
        rows_per_partition: int = ITER_ROWS_PER_PARTITION,
        prev: tuple[str, str] | None = None,
    ):
        self.width = width
        self.narrow = narrow
        self._spark = spark
        self._cap = cap
        self._rpp = rows_per_partition
        self._prev = prev

    def bc(self, df: DataFrame) -> DataFrame:
        """Broadcast-hint ``df`` when the kernel is narrow — with AQE off
        the static planner has no size statistics for checkpointed RDDs
        and would fall back to sort-merge joins; the hint re-creates
        exactly the broadcast decision AQE would have made at runtime,
        from the same data-size evidence. Wide (at-scale) kernels return
        ``df`` unchanged and leave the strategy to the planner/AQE."""
        from pyspark.sql import functions as F

        return F.broadcast(df) if self.narrow else df

    def resize(self, n_rows: int) -> None:
        """Re-derive the kernel sizing from a NEW state row count — for
        loops whose state can grow round over round (path enumeration):
        the caller feeds each round's frontier count back in, so a state
        that outgrows the narrow regime gets its width (and AQE) back
        before the next round's actions. Confs are read at action time,
        so the change applies to everything after the call."""
        if self._spark is None:
            return
        width = iter_width(n_rows, self._cap, self._rpp)
        narrow = width <= AQE_OFF_MAX_WIDTH and width < self._cap
        if narrow == self.narrow and width == self.width:
            return
        self.width, self.narrow = width, narrow
        if narrow:
            self._spark.conf.set(
                "spark.sql.shuffle.partitions", str(max(width, 2))
            )
            self._spark.conf.set("spark.sql.adaptive.enabled", "false")
        elif self._prev is not None:
            self._spark.conf.set("spark.sql.shuffle.partitions", self._prev[0])
            self._spark.conf.set("spark.sql.adaptive.enabled", self._prev[1])


@contextmanager
def iter_kernel(
    spark: SparkSession,
    n_rows: int,
    rows_per_partition: int = ITER_ROWS_PER_PARTITION,
):
    """Scoped kernel sizing for an iterative loop whose per-round state is
    ``~n_rows`` rows. Yields an :class:`IterKernel` with the width the
    loop should use for explicit ``coalesce``/``repartition`` calls on
    its checkpointed frames."""
    with _CONF_SWAP_LOCK:
        prev_shuf = spark.conf.get("spark.sql.shuffle.partitions")
        prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
        try:
            cap = int(prev_shuf)
        except (TypeError, ValueError):
            cap = 200
        width = iter_width(n_rows, cap, rows_per_partition)
        narrow = width <= AQE_OFF_MAX_WIDTH and width < cap
        try:
            if narrow:
                # narrow state: explicit width, no per-exchange AQE jobs. The
                # floor of 2 keeps a retried/second core usable for ~free.
                spark.conf.set(
                    "spark.sql.shuffle.partitions", str(max(width, 2))
                )
                spark.conf.set("spark.sql.adaptive.enabled", "false")
            yield IterKernel(
                width,
                narrow,
                spark=spark,
                cap=cap,
                rows_per_partition=rows_per_partition,
                prev=(prev_shuf, prev_aqe),
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_shuf)
            spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)


def min_supersteps(
    k: IterKernel,
    state: DataFrame,
    send: Callable[[DataFrame], DataFrame],
    keys: list[str],
    value: str,
    rounds: int,
    until_stable: bool = False,
) -> DataFrame:
    """Run ``rounds`` min-aggregation supersteps from ``state``: each round
    is ``state ∪ send(state)``, grouped by ``keys``, keeping ``min(value)``.
    ``send`` maps the current state to messages with the state's columns
    (typically a join against the edge table through ``k.bc``).

    Fixed-round (default): every round's state is lazily checkpointed and
    the last one eagerly, so the whole loop executes inside the caller's
    kernel scope; ``rounds == 0`` returns the eagerly checkpointed input.
    ``until_stable``: every 2nd round (and the last) counts the keys whose
    value changed in that round and stops at zero — ``rounds`` is then a
    budget; since values only decrease toward the fixpoint, exhausting it
    leaves a partial state (components over-split, never merged wrongly).
    The count is the materializing action."""
    from pyspark.sql import functions as F

    if rounds == 0:
        return state.localCheckpoint()
    for rnd in range(1, rounds + 1):
        last = rnd == rounds
        nxt = (
            state.unionByName(send(state))
            .groupBy(*keys)
            .agg(F.min(value).alias(value))
            .localCheckpoint(eager=last and not until_stable)
        )
        if until_stable and (rnd % 2 == 0 or last):
            changed = (
                nxt.alias("n")
                .join(k.bc(state.alias("o")), keys)
                .filter(F.col(f"n.{value}") != F.col(f"o.{value}"))
                .count()
            )
            if changed == 0:
                return nxt
        state = nxt
    return state


def memoized_count(spark: SparkSession, key: tuple, df: DataFrame) -> int:
    """Session-memoized ``df.count()`` for shared projections: kernel
    sizing needs the row count of a memoized edge/vertex projection, and
    every algorithm over the same projection needs the same number — one
    count job per (session, projection), not one per query."""
    from flink_neo4j_spark.catalog import session_memo

    return session_memo(spark, ("rowcount", *key), df.count)


def right_size(df: DataFrame, n_rows: int) -> DataFrame:
    """Coalesce a small materialization input to its data-derived width
    (scan tasks per round track state size, not the session default).
    No-op when the derived width is not below the frame's current
    partitioning would allow; ``coalesce`` never shuffles."""
    cap = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.coalesce(iter_width(n_rows, cap))
