"""Once-per-JVM memo for Column expression trees.

Building a Column is driver-side py4j traffic: every ``F.*`` call, operator
and alias is a gateway round trip (usually two — a reflection lookup and
the call), and every temporary Column later costs a GC delete. The
pipeline's stage chain is a few thousand of them, paid on every
``run_pipeline`` call before Spark executes anything. A JVM Column tree is
immutable and does not depend on a session or a plan, so a tree built from
value-hashable inputs (frozen configs, column names, prefixes — never an
object id) is built once and shared by every later plan.

Entries are tied to the live SparkContext, and with it to its py4j
gateway: a tree holds JVM object references (a Python UDF also holds the
context's accumulator), so a new context clears the memo. The memo is a
bounded LRU, so callers that build fresh keys (ad-hoc rule sets) cannot
grow it without limit. An unhashable key is built fresh every time.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from typing import Callable, Hashable, TypeVar

from pyspark import SparkContext

T = TypeVar("T")

MAX_ENTRIES = 256

_lock = threading.Lock()
_entries: OrderedDict = OrderedDict()
_owner = None


def memo(key: Hashable, build: Callable[[], T]) -> T:
    """The value memoized under `key` for the live SparkContext, calling
    `build()` on a miss. `build` must return a value that depends only on
    `key` and that no caller mutates (Columns, or tuples/dicts of them
    that callers only read)."""
    global _owner
    sc = SparkContext._active_spark_context
    try:
        hash(key)
    except TypeError:  # e.g. a QFConfig given lists where tuples are declared
        return build()
    with _lock:
        if _owner is not sc:
            _entries.clear()
            _owner = sc
        if key in _entries:
            _entries.move_to_end(key)
            return _entries[key]
    value = build()
    with _lock:
        if _owner is sc:
            _entries[key] = value
            if len(_entries) > MAX_ENTRIES:
                _entries.popitem(last=False)
    return value


def size() -> int:
    """Number of memoized entries (tests pin that ad-hoc rules stay out)."""
    return len(_entries)


def clear() -> None:
    """Drop every entry; the next lookups rebuild their trees."""
    with _lock:
        _entries.clear()
