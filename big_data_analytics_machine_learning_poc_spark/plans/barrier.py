"""Gate visibility across lineage barriers (ADVICE r6, medium).

``localCheckpoint`` truncates lineage: a plan gate (anti-pattern lint,
shuffle budget, same-table scan audit) that walks only the RETURNED
frame's plan is blind to everything before the barrier — a regression
inside a checkpointed subtree (an extra Exchange, a disallowed pattern, a
re-introduced redundant scan) would pass every gate silently, forever.
The r6 budget ratchet drops on the checkpointing lanes (e.g.
dedup_prefix_filter_pairs 7→2 shuffles) partly measured exactly this
blindness, not eliminated work.

``capture_subtrees()`` closes the hole: while it is open, every
``functions.ckpt.pin`` — anywhere in the package, helpers, iterative
loops, nested scopes and ``fanout`` threads included — records the
PRE-barrier DataFrame, so a gate can audit the full lane as

    returned frame's plan  +  every captured subtree's plan.

Nested barriers don't double-count: a frame built ON a checkpointed
parent plans from the parent's RDD scan, so each captured subtree covers
only the segment since the previous barrier.

A call-site convention can be forgotten at exactly one site, and the gate
would silently lose that subtree. ``pin`` is the only checkpoint call in
the package, and ``tests/test_ckpt.py`` walks the package's source and
fails on any other ``localCheckpoint``, ``cache`` or ``persist`` call, so
no site can bypass the capture. Captures are ``ckpt`` scopes, so they
nest without cross-capturing: each sees the pins made inside it (an
outer capture also sees an inner one's), and a capture in another thread
sees none of them.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame

from ..functions.ckpt import scope


@contextmanager
def capture_subtrees() -> Iterator[list[DataFrame]]:
    """Yield a list that accumulates the pre-barrier DataFrame of every pin
    made while the context is open, in pin order. Read it AFTER
    constructing the lane. Closing it releases the lane's storage, as any
    scope does; the gates read plans only, which need no blocks."""
    with scope() as s:
        yield s.subtrees
