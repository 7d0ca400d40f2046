"""Custom stateful streaming fold — goka's imperative callback, live.

``stateful_fold`` is the streaming twin of ``PyFold``: per key, the
user function folds each micro-batch's rows (event-time ordered
within the batch) into persistent state held by Spark's state store
(``applyInPandasWithState``).  This is exactly goka's
Value()/SetValue() loop (context.go:256-273) with the state store
playing LevelDB+changelog.

Timeouts map to goka's table eviction: a key idle past ``ttl`` emits
its final state and is dropped (processor table semantics under
retention).

Trigger caveat for ``ttl_ms``: ProcessingTimeTimeout makes the
micro-batch engine schedule batches continuously to check timers
(``shouldRunAnotherBatch`` is always true for this timeout mode), so
(1) run the query with a processing-time trigger interval — the
default run-ASAP trigger busy-loops empty batches — and (2) never
wait on ``processAllAvailable`` (the engine never reports drained);
poll the sink or use ``awaitTermination`` with a stop condition.
"""

from __future__ import annotations

import json
from typing import Any, Callable, Iterable, Optional

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def stateful_fold(
    stream: DataFrame,
    key_col: str,
    func: Callable[[Any, dict], Any],
    state_schema: str,
    init: Any = None,
    order_by: Optional[list[str]] = None,
    ttl_ms: Optional[int] = None,
    finish: Optional[Callable[[Any], dict]] = None,
) -> DataFrame:
    """Continuously fold ``func(state, row) -> state`` per key.

    Emits one row (key, *state) per key per micro-batch that touched
    the key.  ``state_schema`` is the DDL of the emitted state columns;
    internal persistence is a JSON blob so arbitrary Python state works
    (goka codecs analog: the state codec is JSON here).
    """
    out_schema = f"{key_col} string, {state_schema}"
    order_cols = order_by or []
    state_fields = [f.strip().split()[0] for f in state_schema.split(",")]

    def emit(key, st) -> pd.DataFrame:
        out = finish(st) if finish else st
        cols = {key_col: None}
        if isinstance(out, dict):
            cols.update({k: [out.get(k)] for k in state_fields})
        else:
            cols[state_fields[0]] = [out]
        cols[key_col] = [key]
        return pd.DataFrame(cols)

    def process(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            # eviction: emit the key's final state, then drop it
            # (goka table retention — the last changelog value is
            # observable before the key leaves the table).
            if state.exists:
                (blob,) = state.get
                final = emit(key[0], json.loads(blob))
                state.remove()
                yield final
            else:
                state.remove()
            return
        if state.exists:
            (blob,) = state.get
            st = json.loads(blob)
        else:
            st = init() if callable(init) else init
        for pdf in pdfs:
            if order_cols and len(pdf) > 1:
                pdf = pdf.sort_values(order_cols, kind="stable")
            names = list(pdf.columns)
            for vals in zip(*(pdf[c].tolist() for c in names)):
                st = func(st, dict(zip(names, vals)))
        state.update((json.dumps(st),))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        yield emit(key[0], st)

    timeout = (GroupStateTimeout.ProcessingTimeTimeout
               if ttl_ms is not None else GroupStateTimeout.NoTimeout)
    return (
        stream.groupBy(key_col)
        .applyInPandasWithState(
            process,
            outputStructType=out_schema,
            stateStructType="blob string",
            outputMode="update",
            timeoutConf=timeout,
        )
    )


def visit_all_live(spark, checkpoint: str, key_col: str = "key",
                   state_schema: Optional[str] = None):
    """Visit every live key of a RUNNING stateful query — goka
    ``VisitAllWithStats`` (processor.go:954-994, examples/10-visit).

    goka visits by pushing a visit message through each partition's
    processing loop and iterating local storage; Spark's state store
    has a first-class reader instead: the ``statestore`` data source
    reads the checkpoint of a live query as a DataFrame — distributed,
    no query pause, one row per live key.  Returns
    ``(key, partition_id, *state)`` with the JSON state blob decoded
    through ``state_schema`` (single-field schemas are bare-JSON
    scalars; multi-field schemas are JSON objects).

    To MUTATE state during a visit (goka's modifying visitor), send
    sentinel records through the input topic — the exact analog of
    goka routing visits through the partition processor queue.
    """
    from pyspark.sql import functions as F

    st = spark.read.format("statestore").option("path", checkpoint).load()
    df = st.select(
        F.col(f"key.{key_col}").alias(key_col),
        F.col("partition_id"),
        F.col("value.groupState.blob").alias("_blob"),
    )
    if state_schema is None:
        return df.withColumnRenamed("_blob", "state_json")
    fields = [f.strip() for f in state_schema.split(",")]
    if len(fields) == 1:
        name, typ = fields[0].split()[0], " ".join(fields[0].split()[1:])
        return df.withColumn(name, F.col("_blob").cast(typ)).drop("_blob")
    return (
        df.withColumn("_st", F.from_json("_blob", state_schema))
        .select(key_col, "partition_id", "_st.*")
    )
