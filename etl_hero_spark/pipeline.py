"""Pipeline / lineage (the reference's df_orig/df_work/missions-log trio,
app.py:165-188 — upgraded from mutate-in-place to recorded lazy steps).

A Pipeline holds the original DataFrame and an append-only list of
(name, fn) steps; ``current`` is the composed result. Because steps are
plan transformations, full replay (reset), partial replay (step-wise
undo — the reference's declared future work, app.py:396) and an audit
log all come for free, and nothing materializes until an action.

Each step's frame is built once and reused: a click that appends one
step applies only that step to the memoized frame of the steps before
it, so the eager statistics a step takes (an imputation median, the
z-score stats of ``replace_outliers``) are computed on its first use,
not again on every later ``current``. A memoized frame is a plan over
``original``, not a copy of its data: frames over an ``original`` whose
files are rewritten in place are not refreshed.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


@dataclass(frozen=True)
class Step:
    name: str
    fn: Callable[[DataFrame], DataFrame]


@dataclass
class Pipeline:
    original: DataFrame
    steps: list[Step] = field(default_factory=list)
    # (step, frame after it) for a prefix of ``steps``, built from _base
    _built: list[tuple[Step, DataFrame]] = field(
        default_factory=list, init=False, repr=False, compare=False
    )
    _base: DataFrame | None = field(
        default=None, init=False, repr=False, compare=False
    )

    def apply(self, name: str, fn: Callable[[DataFrame], DataFrame]) -> "Pipeline":
        """Record a step without running it; returns self for chaining (M4
        log append, app.py:253 etc.)."""
        self.steps.append(Step(name, fn))
        return self

    @property
    def current(self) -> DataFrame:
        return self.replay(len(self.steps))

    def replay(self, upto: int) -> DataFrame:
        """The frame after the first ``upto`` steps — step-wise undo is
        replay(n-1). Reuses the longest memoized prefix whose steps are
        still, by identity, ``steps[:i]`` over the same ``original``, and
        applies only the steps after it; a popped or replaced step drops
        the memo from that step on."""
        if self._base is not self.original:
            self._built.clear()
            self._base = self.original
        i = 0
        for (step, _), want in zip(self._built, self.steps):
            if step is not want:
                break
            i += 1
        del self._built[i:]
        upto = len(self.steps[:upto])
        while len(self._built) < upto:
            step = self.steps[len(self._built)]
            prev = self._built[-1][1] if self._built else self.original
            self._built.append((step, step.fn(prev)))
        return self._built[upto - 1][1] if upto > 0 else self.original

    def reset(self) -> "Pipeline":
        self.steps.clear()
        self._built.clear()
        return self

    @property
    def log(self) -> list[str]:
        """M4: applied-action strings (app.py:169)."""
        return [s.name for s in self.steps]
