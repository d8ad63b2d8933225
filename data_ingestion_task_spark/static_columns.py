"""Build-once cache for the facade's data-independent column expressions.

A facade call such as ``api.extract_documents`` projects the same
normalizer expressions on every call: 24 W2 fields, each a tree of
regexp/when/decimal nodes. In classic PySpark every node of such a tree
is a py4j round trip to the driver JVM, so rebuilding the trees dominated
a warm facade pass (about 14,000 round trips per ``doc_pipeline`` pass
of the benchmark, most of them building identical ``Column`` trees).

A ``Column`` is an immutable, unresolved expression: it holds no data
and no plan, and it is resolved anew by every query it is used in
(``current_date()`` in a date check still resolves per query). So a tree
built once can be shared by every later call, in any session and from
any thread. The one thing it is bound to is the JVM it lives in: its
handle is a py4j reference, valid only through the gateway (and, for a
Python UDF, the SparkContext) that created it. :func:`build_once`
therefore keys every entry by that owner and rebuilds when a different
gateway or context is live.
"""

from __future__ import annotations

from collections.abc import Callable, Hashable
from typing import TypeVar

from pyspark import SparkContext

T = TypeVar("T")

#: key -> (owner, value). One entry per key: an entry built under an
#: owner that is no longer live is replaced, never reused.
_BUILT: dict[Hashable, tuple[tuple[object, ...], object]] = {}


def _owner() -> tuple[object, ...]:
    """The live py4j gateway and SparkContext the JVM handles of a built
    expression belong to (both ``None`` under Spark Connect, whose
    columns are plain protobuf trees)."""
    return (SparkContext._gateway, SparkContext._active_spark_context)


def build_once(key: Hashable, build: Callable[[], T]) -> T:
    """Return ``build()``'s value for ``key``, calling ``build`` only the
    first time under the live gateway and SparkContext. ``build`` must
    depend on nothing but ``key``: the value is shared by every caller."""
    owner = _owner()
    hit = _BUILT.get(key)
    if hit is not None and all(a is b for a, b in zip(hit[0], owner)):
        return hit[1]  # type: ignore[return-value]
    value = build()
    _BUILT[key] = (owner, value)
    return value
