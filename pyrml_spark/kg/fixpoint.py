"""The one fixed-point loop behind every iterative graph computation: entity
connected components (:mod:`.canonicalize`) and the SPARQL property-path
closures (:mod:`.sparql`).

The loop owns three things, so no call site carries its own lore:

* **materialization** — each round's state is a lazy ``localCheckpoint``,
  which cuts the lineage (the plan stays O(1) per round, not O(rounds));
* **convergence** — one ``agg(sum(_changed), count)`` both materializes the
  checkpoint and returns the changed count plus the row count, so a round
  costs one action (``eager=True`` plus a separate aggregate ran two);
* **the bound** — past ``max_iter`` rounds it raises
  :class:`ConvergenceError` instead of looping on.
"""

from __future__ import annotations

from itertools import count
from typing import Callable, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class ConvergenceError(RuntimeError):
    pass


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    max_iter: Optional[int] = None,
    on_iteration: Optional[Callable[[int, int], None]] = None,
) -> Tuple[DataFrame, int]:
    """Iterate ``state ← step(state, it)`` for ``it = 0, 1, ...`` until a
    round changes nothing. Returns ``(state, rows)``.

    ``step`` returns the next state with an int ``_changed`` column (1 for
    a row the round changed); the loop drops it before the next round and
    from the result. ``on_iteration(it, changed)`` sees every round. With
    ``max_iter`` set, a state still changing after that many rounds raises
    :class:`ConvergenceError`; without it the caller vouches that the
    iteration is monotone over a finite domain."""
    for it in count() if max_iter is None else range(max_iter):
        nxt = step(state, it).localCheckpoint(eager=False)
        changed, rows = nxt.agg(F.sum("_changed"),
                                F.count(F.lit(1))).collect()[0]
        changed = int(changed or 0)
        state = nxt.drop("_changed")
        if on_iteration:
            on_iteration(it, changed)
        if changed == 0:
            return state, rows
    raise ConvergenceError(
        f"fixed point not reached in {max_iter} iterations")
