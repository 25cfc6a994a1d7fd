"""Build each constant Column once per live JVM.

Most stage expressions depend only on constants (rule tables, thresholds,
lexicons), yet PySpark builds every node of a Column tree with its own
py4j round trip; rebuilt on every run, they cost a rerun from s9 several
thousand round trips of driver time. A Column is an unresolved
expression, so one object can go into any number of DataFrames, sessions
and runs; :func:`per_jvm` keeps the first one built. Columns that depend
on the data (s6's round cutoffs, s8's and s10's stats joins) are built
per run.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from typing import TypeVar

from pyspark import SparkContext

T = TypeVar("T")


def per_jvm(fn: Callable[..., T]) -> Callable[..., T]:
    """Memoize ``fn`` on its positional arguments and their types (``5000``
    and ``5000.0`` build different literals), which must be hashable and
    must hold everything the result depends on: a module constant a caller
    may rebind goes in as an argument, not as a global read.

    The entries belong to the py4j gateway and the SparkContext they were
    built under. A new gateway (a restarted JVM) or a new SparkContext
    (a pandas UDF's JVM function holds its context's accumulator) empties
    the cache. The cache grows by one entry per distinct argument tuple,
    a handful for the pipeline's stages. Results are shared: callers must
    not mutate them."""
    cache: dict[tuple, T] = {}
    owner: list = [None, None]

    @functools.wraps(fn)
    def cached(*args):
        live = (SparkContext._gateway, SparkContext._active_spark_context)
        if owner[0] is not live[0] or owner[1] is not live[1]:
            cache.clear()
            owner[:] = live
        key = (args, tuple(type(a) for a in args))
        hit = cache.get(key)
        if hit is None:
            # two threads may both build an entry; either Column is valid
            hit = cache[key] = fn(*args)
        return hit

    return cached
