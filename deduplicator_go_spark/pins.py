"""Stage-owned pins: localCheckpoints released by the stage that made them.

Operators pin an intermediate that several consumers read (the
multi-consumer rule, SCALE.md) with ``pin(df)`` instead of calling
``localCheckpoint`` directly. Inside ``owned_pins()`` each pin's RDD is
recorded, and leaving the block unpersists exactly those RDDs — never a
cache owned by the caller or by a stage running beside it in another
thread. Outside ``owned_pins()`` a pin is a plain localCheckpoint whose
lifetime belongs to the caller, as before.

The owner is a context variable, so concurrent stages on separate
threads each collect only their own pins.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame

_held: ContextVar[list | None] = ContextVar("stage_pins", default=None)


def pin(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)``, owned by the enclosing
    ``owned_pins()`` block when there is one."""
    out = df.localCheckpoint(eager=eager)
    held = _held.get()
    if held is not None:
        # the checkpointed plan is a LogicalRDD over the persisted RDD
        held.append(out._jdf.queryExecution().logical().rdd())
    return out


@contextmanager
def owned_pins():
    """Collect the pins made inside the block; unpersist them on exit."""
    held: list = []
    token = _held.set(held)
    try:
        yield
    finally:
        _held.reset(token)
        for rdd in held:
            rdd.unpersist(False)
