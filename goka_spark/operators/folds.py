"""Fold specifications — how a processor callback builds the group table.

goka's ProcessCallback (reference: /root/reference/processor.go,
context.go:256-273 Value/SetValue) folds messages into per-key state
in arrival order.  Spark-first we split this into:

- ``AggFold`` — declarative: named Column aggregate expressions,
  compiled to ``groupBy(key).agg(...)``.  Runs fully JVM-side with
  map-side partial aggregation and whole-stage codegen; this is the
  scale path and covers counters, sums, min/max, last-value,
  collect-list-style state.
- ``ReduceFold`` — order-sensitive built-ins expressed with window
  functions over (key, ts) then a last-row pick; still JVM-side.
- ``PyFold`` — arbitrary imperative fold, the explicit slow path:
  Arrow-batched ``applyInPandas`` per key, rows sorted by event time,
  exactly goka's per-key ordered-callback semantics.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable, Optional, Union

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class Fold:
    """Base: compile(df, key_col, ts_col) -> group-table DataFrame."""

    def compile(self, df: DataFrame, key_col: str, ts_col: str) -> DataFrame:
        raise NotImplementedError


@dataclass
class AggFold(Fold):
    """Declarative per-key state: ``{state_field: aggregate Column}``.

    Order-dependent aggregates should use the ``_ordered`` helpers
    (e.g. ``last_by``) which are deterministic w.r.t. event time.
    """

    aggs: dict[str, Column]
    having: Optional[Column] = None

    def compile(self, df: DataFrame, key_col: str, ts_col: str) -> DataFrame:
        out = df.groupBy(key_col).agg(
            *[c.alias(name) for name, c in self.aggs.items()]
        )
        if self.having is not None:
            out = out.filter(self.having)
        return out


@dataclass
class ReduceFold(Fold):
    """Keep the state produced by the *last* message per key, where the
    state columns are row-level expressions (goka: callback that only
    looks at the current message + SetValue).

    Compiled JVM-side: ``max_by(struct(state...), (ts, tiebreak))`` —
    a single hash aggregation, no window/sort shuffle.
    """

    exprs: dict[str, Column]
    tiebreak: Optional[Column] = None

    def compile(self, df: DataFrame, key_col: str, ts_col: str) -> DataFrame:
        state = F.struct(*[c.alias(n) for n, c in self.exprs.items()])
        order = F.struct(
            F.col(ts_col).alias("_ts"),
            (self.tiebreak if self.tiebreak is not None else F.lit(0)).alias("_tb"),
        )
        picked = df.groupBy(key_col).agg(F.max_by(state, order).alias("_state"))
        return picked.select(key_col, "_state.*")


@dataclass
class PyFold(Fold):
    """Arbitrary ordered fold — goka's imperative callback, verbatim
    semantics: per key, messages sorted by (ts, *order_extra*), state
    threaded through ``func(state, row) -> state``.

    ``state_schema`` is a DDL string for the emitted state columns
    (key column is added automatically).  Rows arrive as dicts.

    Execution (r14, guide §4.1/§2.2): ONE ``mapInPandas`` pass over
    key-partitioned, partition-sorted input with the group state
    carried across Arrow batches.  ``applyInPandas`` pays one Arrow
    round-trip per GROUP — on a million-key stream that is a million
    tiny batches; partition-wise streaming keeps batches at Arrow's
    natural size regardless of key cardinality, while the hash
    exchange guarantees every key's rows land in one task (goka's
    per-partition state constraint, unchanged).  Fold order is
    identical: rows arrive sorted by (key, ts, *order_extra*); ties
    beyond the declared order keys were never deterministic under the
    old per-group pandas sort either (callers pin a unique tiebreak —
    the proc_fold_generic contract).
    """

    func: Optional[Callable[[Any, dict], Any]] = None
    state_schema: str = ""
    init: Any = None
    finish: Optional[Callable[[Any], dict]] = None
    order_extra: list[str] = field(default_factory=list)
    # optional vectorized fold: called ONCE per key with the sorted
    # pandas frame instead of row-at-a-time func — use when the fold
    # is expressible with pandas/numpy ops (10-50× less Python churn).
    batch_func: Optional[Callable[[pd.DataFrame], Any]] = None
    # columns the fold callback actually reads (beyond key/order).
    # applyInPandas ships EVERY input column through Arrow to the
    # Python worker — on a wide stream (string payloads riding along)
    # that transfer dominates the fold itself (guide §4.1: pass only
    # the columns the function needs).  None = ship everything, the
    # safe default for an arbitrary callback.
    needs: Optional[list[str]] = None

    def compile(self, df: DataFrame, key_col: str, ts_col: str) -> DataFrame:
        if not self.state_schema or (self.func is None and self.batch_func is None):
            raise ValueError("PyFold needs state_schema and func or batch_func")
        func, init, finish = self.func, self.init, self.finish
        batch_func = self.batch_func
        order_cols = [ts_col] + self.order_extra
        if self.needs is not None:
            # project to key + sort keys + declared fields, in the
            # input's column order (first occurrence — processor
            # frames can carry a duplicated key alias), before the
            # exchange: the rows the callback sees for its declared
            # columns are identical, so the fold state (and output)
            # is unchanged.
            keep = set([key_col] + order_cols + list(self.needs))
            cols: list[str] = []
            for c in df.columns:
                if c in keep and c not in cols:
                    cols.append(c)
            df = df.select(*cols)
        out_schema = f"{key_col} string, {self.state_schema}"
        state_fields = [
            f.split()[0] for f in self.state_schema.split(",")
        ]

        def finish_rec(key, state) -> dict:
            out = finish(state) if finish else state
            rec = {key_col: key}
            if isinstance(out, dict):
                rec.update(out)
            else:
                rec[state_fields[0]] = out
            return rec

        def fold_partition(batches):
            # rows arrive sorted by (key, *order_cols); a key's run
            # may span Arrow batches, so the state (or, for
            # batch_func, the group's frame chunks) carries across
            cur = None
            started = False
            state: Any = None
            chunks: list[pd.DataFrame] = []
            recs: list[dict] = []
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                if batch_func is not None:
                    for _, g in pdf.groupby(key_col, sort=False):
                        k = g[key_col].iloc[0]
                        if started and k != cur:
                            recs.append(finish_rec(
                                cur, batch_func(pd.concat(
                                    chunks, ignore_index=True))))
                            chunks = []
                        cur, started = k, True
                        chunks.append(g)
                else:
                    for row in pdf.to_dict("records"):
                        k = row[key_col]
                        if not started or k != cur:
                            if started:
                                recs.append(finish_rec(cur, state))
                            cur, started = k, True
                            state = init() if callable(init) else init
                        state = func(state, row)
                if recs:
                    yield pd.DataFrame(recs)
                    recs = []
            if started:
                if batch_func is not None:
                    recs.append(finish_rec(cur, batch_func(
                        pd.concat(chunks, ignore_index=True))))
                else:
                    recs.append(finish_rec(cur, state))
            if recs:
                yield pd.DataFrame(recs)

        parts = (df.repartition(key_col)
                 .sortWithinPartitions(key_col, *order_cols))
        return parts.mapInPandas(fold_partition, schema=out_schema)


FoldLike = Union[AggFold, ReduceFold, PyFold]


def last_by(value: Column, order: Column) -> Column:
    """Deterministic 'last value wins' aggregate (JVM-side max_by)."""
    return F.max_by(value, order)


def latest_n_list(value: Column, order: Column, n: int) -> Column:
    """Latest-N collector state (goka examples/3-messaging collector):
    keep the last ``n`` values per key ordered by event time.

    JVM-side: sort_array over (order, value) structs, slice the tail.
    """
    pairs = F.collect_list(F.struct(order.alias("o"), value.alias("v")))
    sorted_pairs = F.sort_array(pairs)
    tail = F.slice(sorted_pairs, F.greatest(F.size(sorted_pairs) - (n - 1), F.lit(1)), n)
    return F.transform(tail, lambda s: s["v"])
