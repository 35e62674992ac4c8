"""Pipeline / lineage (the reference's df_orig/df_work/missions-log trio,
app.py:165-188 — upgraded from mutate-in-place to recorded lazy steps).

A Pipeline holds the original DataFrame and an append-only list of
(name, fn) steps; ``current`` is the lazily-composed result. Because
steps are plan transformations, full replay (reset), partial replay
(step-wise undo — the reference's declared future work, app.py:396) and
an audit log all come for free, and nothing materializes until an action.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


@dataclass
class Step:
    name: str
    fn: Callable[[DataFrame], DataFrame]


@dataclass
class Pipeline:
    original: DataFrame
    steps: list[Step] = field(default_factory=list)

    def apply(self, name: str, fn: Callable[[DataFrame], DataFrame]) -> "Pipeline":
        """Record and apply a step; returns self for chaining (M4 log append,
        app.py:253 etc.)."""
        self.steps.append(Step(name, fn))
        return self

    @property
    def current(self) -> DataFrame:
        return self.replay(len(self.steps))

    def replay(self, upto: int) -> DataFrame:
        """Recompose the first ``upto`` steps from the immutable original —
        step-wise undo is replay(n-1)."""
        df = self.original
        for step in self.steps[:upto]:
            df = step.fn(df)
        return df

    def reset(self) -> "Pipeline":
        self.steps.clear()
        return self

    @property
    def log(self) -> list[str]:
        """M4: applied-action strings (app.py:169)."""
        return [s.name for s in self.steps]
