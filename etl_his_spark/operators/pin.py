"""The one way the engine materializes a shared intermediate.

Every ``localCheckpoint`` in ``etl_his_spark`` goes through :func:`pin`
(``tests/test_cache_hygiene.py`` enforces it; SCALE.md "localCheckpoint
discipline" has the eager/lazy rules). Tools that must see the work a
pin hides from ``explain`` build inside :func:`observe_pins`.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame

_observers: list = []


def pin(df: DataFrame, eager: bool = False) -> DataFrame:
    """Show ``df`` to every active observer, then ``localCheckpoint`` it."""
    for observe in _observers:
        observe(df)
    return df.localCheckpoint(eager=eager)


@contextmanager
def observe_pins(callback):
    """Call ``callback(df)`` for every frame pinned inside the block."""
    _observers.append(callback)
    try:
        yield
    finally:
        _observers.remove(callback)
