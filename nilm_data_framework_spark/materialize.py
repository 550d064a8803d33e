"""The one place the package materialises a frame.

Plans stay lazy until an action. An operator cuts lineage only where it
must: a loop kernel whose plan would otherwise grow every round, a frame
that several branches read, or a table rewritten in place. It does so
through this module:

- :func:`checkpoint` cuts the plan at a frame. The blocks belong to the
  returned frame's RDD and the ContextCleaner reclaims them once that frame
  is garbage collected, so no caller releases anything.
- :func:`pinned` keeps a frame cached for one ``with`` block and releases
  it on exit, also when the block raises.

:func:`recording` lets a test see the plans the cuts hide: while it is
active, both functions append the frame they cut, before the cut.
Execution does not change.
"""

from __future__ import annotations

import contextlib
from collections.abc import Iterator

from pyspark.sql import DataFrame

_recorders: list[list[DataFrame]] = []


def _record(df: DataFrame) -> None:
    for seen in _recorders:
        seen.append(df)


def checkpoint(df: DataFrame, *, eager: bool = True) -> DataFrame:
    """``df`` with its lineage cut (computed now unless ``eager=False``)."""
    _record(df)
    return df.localCheckpoint(eager)


@contextlib.contextmanager
def pinned(df: DataFrame) -> Iterator[DataFrame]:
    """``df`` persisted for the ``with`` block, unpersisted on exit."""
    _record(df)
    df.persist()
    try:
        yield df
    finally:
        df.unpersist()


@contextlib.contextmanager
def recording() -> Iterator[list[DataFrame]]:
    """A list that collects every frame cut while the block runs."""
    seen: list[DataFrame] = []
    _recorders.append(seen)
    try:
        yield seen
    finally:
        _recorders.remove(seen)
