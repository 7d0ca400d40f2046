"""View — a driver-local replica of a group table (goka view.go:55-484).

A goka View recovers a table topic into local storage once, then
serves Get/Has/Iterator/IteratorWithRange from that storage without
touching the broker.  Here the first read runs one plain ``collect()``
of the table's DataFrame and keeps the rows on the driver, sorted by
key, with a key -> row index.  ``get``/``has`` are dict lookups and
the iterators bisect the sorted keys, so no read after the first runs
a Spark job.

Snapshot semantics: a View is a consistent replica of its table as of
its first read, and later writes to the table do not show in it.  To
follow a live table (a streaming query's memory sink, a compacted
changelog) build a new View per read, e.g.
``MonitorServer.attach_source(name, lambda k: View(spark.table(t)).get(k))``.

Reads match Spark's filter/orderBy results for probes of the key
column's own type: null keys sort first in ``iterator`` and never
match ``get``, ``has``, a range or ``seek``; duplicate keys all appear
in iteration; NaN float keys sort last and equal each other.

``range_df`` stays a distributed, declarative range scan: the path for
a table too large to hold on the driver.
"""

from __future__ import annotations

import threading
from bisect import bisect_left
from operator import itemgetter
from typing import Any, Callable, Iterator, Optional

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, DataType, DoubleType, FloatType


def _order_key(dtype: DataType) -> Callable[[Any], Any]:
    """Python sort/lookup key that orders and equates values of
    ``dtype`` as Spark does (Spark's NaN is one value, above +inf)."""
    if isinstance(dtype, (FloatType, DoubleType)):
        return lambda k: (True, 0.0) if k != k else (False, k)
    if isinstance(dtype, BinaryType):
        return bytes  # rows carry bytearray, which is unhashable
    return lambda k: k


class _Snapshot:
    """The table's rows as of one collect: null-key rows in collect
    order, then the other rows sorted by key (stable, so duplicate
    keys keep collect order)."""

    def __init__(self, rows: list[Row], key_at: int, dtype: DataType):
        self.order_key = _order_key(dtype)
        raw = [r[key_at] for r in rows]
        self.nulls = [r for r, k in zip(rows, raw) if k is None]
        live = sorted(((self.order_key(k), r) for k, r in zip(raw, rows) if k is not None),
                      key=itemgetter(0))
        self.keys = [k for k, _ in live]
        self.rows = [r for _, r in live]
        # first row per key: later duplicates do not overwrite it
        self.index = {k: i for i, k in reversed(list(enumerate(self.keys)))}

    def find(self, key: Any) -> Optional[int]:
        return None if key is None else self.index.get(self.order_key(key))

    def bound(self, key: Any) -> int:
        """Position of the first row whose key is >= ``key``."""
        return bisect_left(self.keys, self.order_key(key))


class View:
    def __init__(self, table: DataFrame | str, key_col: str = "key",
                 spark: Optional[SparkSession] = None):
        if isinstance(table, str):
            spark = spark or SparkSession.getActiveSession()
            table = spark.read.parquet(table)
        self.df = table
        self.key_col = key_col
        self._snap: Optional[_Snapshot] = None
        self._lock = threading.Lock()

    def _snapshot(self) -> _Snapshot:
        """goka's recover-then-serve: the first read collects the
        table once (one reader does, under the lock); every read
        serves from it."""
        if self._snap is None:
            with self._lock:
                if self._snap is None:
                    rows, schema = self.df.collect(), self.df.schema
                    self._snap = _Snapshot(rows, schema.names.index(self.key_col),
                                           schema[self.key_col].dataType)
        return self._snap

    def _item(self, row: Row) -> tuple[Any, dict]:
        d = row.asDict(recursive=True)
        return d.pop(self.key_col), d

    def get(self, key: Any) -> Optional[dict]:
        """View.Get (view.go:333): state for one key, or None.  Each
        call returns a fresh dict."""
        snap = self._snapshot()
        i = snap.find(key)
        return None if i is None else self._item(snap.rows[i])[1]

    def has(self, key: Any) -> bool:
        """View.Has (view.go:363)."""
        return self._snapshot().find(key) is not None

    def iterator(self) -> Iterator[tuple[Any, dict]]:
        """View.Iterator (view.go:374): all (key, state), key-ordered,
        null keys first."""
        snap = self._snapshot()
        return map(self._item, snap.nulls + snap.rows)

    def iterator_range(self, start: Any, limit: Any) -> Iterator[tuple[Any, dict]]:
        """View.IteratorWithRange (view.go:397): keys in [start, limit);
        ``limit=None`` scans to the end."""
        snap = self._snapshot()
        if start is None:
            return iter(())
        hi = len(snap.rows) if limit is None else snap.bound(limit)
        return map(self._item, snap.rows[snap.bound(start):hi])

    def seek(self, key: Any) -> Iterator[tuple[Any, dict]]:
        """Iterator.Seek (iterator.go:66, storage/iterator.go:43):
        position the cursor at the first key >= ``key`` and scan
        forward in key order."""
        return self.iterator_range(key, None)

    def evict(self, key: Any) -> "View":
        """View.Evict (view.go:421) — returns a new View over the table
        without the key (immutable DataFrames: eviction is a filter,
        not a mutation); it takes its own snapshot on its first read."""
        return View(self.df.filter(F.col(self.key_col) != F.lit(key)), self.key_col)

    def range_df(self, start: Any, limit: Any) -> DataFrame:
        """Declarative range scan (stays distributed)."""
        df = self.df.filter(F.col(self.key_col) >= F.lit(start))
        if limit is not None:
            df = df.filter(F.col(self.key_col) < F.lit(limit))
        return df.orderBy(self.key_col)
