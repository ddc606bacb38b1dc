"""The view protocol and the change a view hands the publisher."""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame


class Change(NamedTuple):
    """A view's new result and at most one cheap way to derive its
    published diff: the operator's own ``out_delta``, or the ``touched``
    rows of the ``keys`` it replaced; with neither, the publish diffs
    the whole result."""

    result: DataFrame
    out_delta: DataFrame | None = None
    touched: DataFrame | None = None
    keys: list[str] | None = None


class DeltaView:
    """A front stacked under a terminal. ``internal_deps`` names the
    planner-owned internal views this view owns; ``uid`` is the stable
    id it names them after (its name at creation, made unique; RENAME
    keeps it)."""

    internal_deps: tuple[str, ...] = ()
    uid: str | None = None
    terminal = None

    def __init__(self, front, terminal):
        self.front = front
        self.terminal = terminal
        self.inputs = front.inputs

    def form(self) -> Change:
        return self.terminal.feed(self.front.form())

    def feed(self, rel: str, delta: DataFrame) -> Change | None:
        inp = self.front.feed(rel, delta)
        return None if inp is None else self.terminal.feed(inp)

    def explain(self, rel) -> list[str]:
        return (self.terminal.explain(self.front.style)
                + self.front.explain(rel, self.terminal))
