"""The parts-spine: the one arrangement abstraction every delta
operator keeps its state in.

A spine is an append-only list of checkpointed parts plus an optional
hash-prefix-partitioned parquet tier. Operators only ``append`` parts
and read them back (``probe_frame`` for the touched keys,
``full_frame`` for everything); the spine alone decides when to fold
and when to spill:

- **Fold rule.** Once ``FOLD_EVERY`` parts are held (the first fold
  lands on the 16th part), ``full_frame()`` is consolidated — rows
  grouped on every non-measure column, measures summed, rows whose
  ``live`` measures all net to zero dropped — and installed through
  ``replace()`` as the single remaining part. Negative nets survive (an
  out-of-order retraction must persist until its insert arrives), and a
  fold where everything cancels keeps an empty frame with the schema.
  A spine with no measures keeps every row (a plain union).
- **Spill rule.** A folded state of more than ``SPILL_ROWS`` rows moves
  to parquet partitioned by ``pmod(xxhash64(keys), 64)``; memory keeps
  only the empty schema frame. Probes filter on the touched keys'
  prefixes BEFORE any I/O, so per-batch reads stay
  O(state/64 × touched prefixes) — the moral analog of the reference
  consolidating arrangements to its persist tier and reading them back
  shard-pruned.
- **Generation rule.** Every spill writes a fresh ``gen<N>`` directory
  and never overwrites or deletes an earlier one: lazily checkpointed
  plans (ckpt.py) may still read an old generation after the spine has
  moved on.

The policy lives here and nowhere else, so changing it (for example to
size-tiered merging) is a one-file edit.
"""

from __future__ import annotations

import os
import tempfile
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from materialize_spark.ckpt import fresh_break

FOLD_EVERY = 16
SPILL_ROWS = 2_000_000
_PREFIXES = 64


def concat(parts: list[DataFrame]) -> DataFrame | None:
    """Union of ``parts`` by column name (None for no parts)."""
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@dataclass
class SpilledPartsState:
    """``key_cols``: the probe/spill-prefix keys (empty: every
    non-measure column, for spines that are only read whole).
    ``measures``: the summed columns of a fold (every other column
    groups). ``live``: the measures whose nonzero net keeps a row
    through a fold (default: any measure)."""

    key_cols: list[str]
    measures: tuple[str, ...] = ()
    live: tuple[str, ...] = ()
    _parts: list = field(default_factory=list, init=False)
    _disk: str | None = field(default=None, init=False)
    _dir: str | None = field(default=None, init=False)
    _gen: int = field(default=0, init=False)

    def append(self, part: DataFrame) -> None:
        self._parts.append(part)
        if len(self._parts) >= FOLD_EVERY:
            self.replace(fresh_break(self.consolidate(self.full_frame())))

    def n_parts(self) -> int:
        return len(self._parts)

    def consolidate(self, df: DataFrame) -> DataFrame:
        """The fold's consolidation of ``df`` (see the module rules)."""
        if not self.measures:
            return df
        groups = [c for c in df.columns if c not in self.measures]
        # one parsed predicate: a Column tree costs a py4j call per node
        keep = " OR ".join(f"`{m}` != 0" for m in self.live or self.measures)
        return (df.groupBy(*groups)
                .agg(*[F.sum(m).alias(m) for m in self.measures])
                .filter(keep))

    def _kp(self, df: DataFrame):
        keys = self.key_cols or [c for c in df.columns
                                 if c not in self.measures]
        return F.pmod(F.xxhash64(*keys), F.lit(_PREFIXES))

    def _disk_frame(self, touched: DataFrame | None) -> DataFrame | None:
        if self._disk is None:
            return None
        out = self._parts[0].sparkSession.read.parquet(self._disk)
        if touched is not None:
            kp = self._kp(touched).alias("p")
            pfx = [r.p for r in touched.select(kp).distinct().collect()]
            out = out.filter(F.col("__kp").isin(pfx))
        return out.drop("__kp")

    def probe_frame(self, touched: DataFrame | None) -> DataFrame | None:
        """Memory parts ∪ the spilled tier pruned to the touched keys'
        prefixes — the per-batch probe input (everything when
        ``touched`` is None)."""
        return concat([f for f in (concat(self._parts),
                                   self._disk_frame(touched))
                       if f is not None])

    def full_frame(self) -> DataFrame | None:
        """Everything (memory + whole spilled tier) — the fold input."""
        return self.probe_frame(None)

    def replace(self, folded: DataFrame) -> None:
        """Install a freshly folded state: past ``SPILL_ROWS`` it spills
        to a new generation of the partitioned tier; under it, memory
        holds it whole."""
        if folded.count() > SPILL_ROWS:
            if self._dir is None:
                self._dir = tempfile.mkdtemp(prefix="mz_state_")
            path = os.path.join(self._dir, f"gen{self._gen}")
            self._gen += 1
            (folded.withColumn("__kp", self._kp(folded))
             .write.partitionBy("__kp").parquet(path))
            self._disk = path
            self._parts = [folded.limit(0)]
        else:
            self._disk = None
            self._parts = [folded]
