"""Session-scoped state shared by the crawl engine and the query leaves.

* ``capped_conf`` — the one way sparkcrawl borrows a session conf value
  for a while: lowered to a state-sized target, restored exactly after.
* ``session_cached`` — the one cache of built artifacts (index tables,
  catalog tables, corpus counts), tied to the session that built them.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Callable, Dict, Tuple, TypeVar

from pyspark.sql import SparkSession

T = TypeVar("T")

# Work sizing shared by every state-sized shuffle scope: target rows per
# shuffle task when a loop or round knows its own state size.
ROWS_PER_SHUFFLE_TASK = 25_000

_ARTIFACTS: Dict[Tuple, object] = {}


@contextmanager
def capped_conf(spark: SparkSession, key: str, want: int):
    """Run the body with ``key`` set to min(session value, ``want``).

    The session value is read with Spark's own size parser, so any form
    Spark accepts works ("8", "134217728", "128mb", "1g").  The session
    value is a ceiling: a big cluster's configured parallelism is never
    amplified, only near-empty work stops paying for it.  On exit, on
    every path, the key returns to its exact prior state — its old
    string, or unset if the session never set it.

    Pitfall: conf binds at JOB time, not plan-build time.  A lazy plan
    returned from inside the scope executes under the RESTORED conf, so
    materialize loop state in-scope (localCheckpoint, a write) whenever
    the override must apply."""
    conf = spark.conf
    prior = dict(conf.getAll).get(key)
    to_int = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes
    conf.set(key, str(min(int(to_int(conf.get(key))), int(want))))
    try:
        yield
    finally:
        if prior is None:
            conf.unset(key)
        else:
            conf.set(key, prior)


def session_cached(spark: SparkSession, key: Tuple, build: Callable[[], T]) -> T:
    """``build()`` once per (session, ``key``): an artifact built by one
    SparkSession (a catalog table, an index, a count) is never handed to
    a later session of the same process.  A process runs one
    SparkContext at a time, so entries of any other application belong
    to a stopped session and are dropped."""
    app = spark.sparkContext.applicationId
    for stale in [k for k in _ARTIFACTS if k[0] != app]:
        del _ARTIFACTS[stale]
    k = (app, *key)
    if k not in _ARTIFACTS:
        _ARTIFACTS[k] = build()
    return _ARTIFACTS[k]
