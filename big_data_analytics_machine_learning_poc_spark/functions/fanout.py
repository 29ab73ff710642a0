"""Run a program's independent Spark actions concurrently.

The reference programs issue chains of small eager actions, many of which
do not read each other's results (a label audit next to a model fit, two
evaluations of the same predictions). Run one after the other, each small
job leaves most task slots idle while the driver plans the next one.
``fanout`` submits them from separate threads, so their jobs share the
slots and the driver plans one while another runs.

The threads are ``pyspark.InheritableThread``: each copies the caller's
local properties (job group, scheduler pool, description) when it starts,
so the jobs it runs count under the caller's job group. Each also runs in
a copy of the caller's context, so a checkpoint it pins belongs to the
caller's ``functions.ckpt`` scope.
"""

from __future__ import annotations

import contextvars
from typing import Any, Callable

from pyspark import InheritableThread


def fanout(*thunks: Callable[[], Any]) -> list:
    """Run ``thunks`` concurrently and return their results in argument
    order. The calling thread runs the first; every other one gets its own
    InheritableThread. All threads are joined before the first error, in
    argument order, is re-raised."""
    results: list = [None] * len(thunks)
    errors: list[BaseException | None] = [None] * len(thunks)

    def call(i: int) -> None:
        try:
            results[i] = thunks[i]()
        except BaseException as e:  # re-raised in the caller after the join
            errors[i] = e

    threads = [
        InheritableThread(contextvars.copy_context().run, args=(call, i))
        for i in range(1, len(thunks))
    ]
    for t in threads:
        t.start()
    if thunks:
        call(0)
    for t in threads:
        t.join()
    for e in errors:
        if e is not None:
            raise e
    return results
