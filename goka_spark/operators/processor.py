"""Processor — compile a GroupGraph into a DataFrame plan and run it.

goka's Processor (reference: /root/reference/processor.go,
partition_processor.go) assigns topic partitions to instances, runs
the per-key callback over each partition in offset order, and
maintains the group table + emits to outputs.  Spark-first, the
*whole graph* compiles to one declarative plan:

    inputs → filter/select → join(co-partitioned) → lookup(broadcast)
           → [loopback union] → fold → group table
                              → output transforms → output datasets

so Catalyst plans the pipeline end-to-end: filters push into the
parquet scan, lookups become BroadcastHashJoin, the fold becomes a
partial+final HashAggregate (one shuffle on the group key), and AQE
handles skew.  Partition-assignment/rebalance machinery
(assignment.go, copartition_strategy.go) is subsumed by Spark's
shuffle service — co-partitioning is guaranteed by hash-partitioning
on the group key, for any number of executors.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from goka_spark.graph import GroupGraph, InputStream
from goka_spark.operators.view import View

KEY = "key"


def _as_key(expr, df: DataFrame) -> Column:
    col = F.col(expr) if isinstance(expr, str) else expr
    return col.cast("string").alias(KEY)


@dataclass
class ProcessorResult:
    """Materialized edges of one processor run."""

    graph: GroupGraph
    table: Optional[DataFrame]
    outputs: dict[str, DataFrame] = field(default_factory=dict)
    enriched: Optional[DataFrame] = None
    _view: Optional[View] = field(default=None, init=False, repr=False,
                                  compare=False)

    def view(self) -> View:
        """goka.NewView over the group table (view.go:55).  One View
        per result, so repeated calls share one snapshot."""
        if self.table is None:
            raise ValueError("graph has no Persist edge")
        if self._view is None:
            self._view = View(self.table, key_col=KEY)
        return self._view

    def visit(self, name: str) -> DataFrame:
        """Processor.VisitAllWithStats analog: apply the named visitor
        transform to every row of the group table."""
        for v in self.graph.visitor_edges:
            if v.name == name:
                return v.transform(self.table)
        raise KeyError(name)


class Processor:
    """Batch executor for a GroupGraph.

    ``num_partitions`` optionally forces the group-key partitioning
    (goka requires co-equal partition counts for joins —
    copartition_strategy.go); by default Spark's planner chooses and
    AQE coalesces, which is what you want at scale.
    """

    def __init__(self, graph: GroupGraph, num_partitions: Optional[int] = None,
                 graph_hook=None):
        if graph_hook is not None:
            # goka WithGroupGraphHook (options.go:278): observe or
            # mutate the graph before the processor compiles it —
            # what monitoring/tooling integrations attach through
            graph_hook(graph)
        self.graph = graph
        self.num_partitions = num_partitions

    # -- plan building -------------------------------------------------
    def _load_input(self, edge: InputStream, df: DataFrame) -> DataFrame:
        # goka WithNilHandling(NilIgnore): drop nil-valued messages
        # before the callback sees them (options.go:303-320)
        if edge.nil_handling == "ignore" and edge.nil_col in df.columns:
            df = df.filter(F.col(edge.nil_col).isNotNull())
        if edge.where is not None:
            df = df.filter(edge.where)
        if edge.select is not None:
            df = edge.select(df)
        if edge.key is not None:
            df = df.withColumn(KEY, _as_key(edge.key, df))
        elif KEY not in df.columns:
            raise ValueError(f"input {edge.topic!r} needs key= (no 'key' column)")
        else:
            df = df.withColumn(KEY, F.col(KEY).cast("string"))
        return df.withColumn("_topic", F.lit(edge.topic))

    def enrich(self, topics: dict[str, DataFrame]) -> DataFrame:
        """inputs ∪ joins ∪ lookups → the message stream the callback sees."""
        g = self.graph
        parts = []
        for edge in g.input_edges:
            if edge.topic not in topics:
                raise KeyError(f"missing input topic {edge.topic!r}")
            parts.append(self._load_input(edge, topics[edge.topic]))
        stream = parts[0]
        for p in parts[1:]:
            stream = stream.unionByName(p, allowMissingColumns=True)

        for je in g.join_edges:
            table = topics[je.topic]
            # `on` may be a Column — never test it for truthiness/equality
            # (Column.__bool__ raises CANNOT_CONVERT_COLUMN_INTO_BOOL).
            on = KEY if je.on is None else je.on
            if isinstance(on, str) and on == KEY:
                right = table
            else:
                right = table.withColumn(KEY, _as_key(on, table))
                if isinstance(on, str) and on in right.columns:
                    right = right.drop(on)
            if self.num_partitions:
                stream = stream.repartition(self.num_partitions, KEY)
                right = right.repartition(self.num_partitions, KEY)
            stream = stream.join(right, on=KEY, how=je.how)

        for le in g.lookup_edges:
            table = topics[le.topic]
            on = KEY if le.on is None else le.on
            lhs = F.col(on) if isinstance(on, str) else on
            # Rename the table key to a unique temp name so the join
            # condition never ambiguously resolves against a same-named
            # stream column (e.g. table_key == 'key').
            tmp = f"__lookup_{le.topic}_key"
            right = table.withColumnRenamed(le.table_key, tmp)
            # Lookup tables are fully replicated in goka (view.go) —
            # broadcast join is the Spark-native equivalent.
            stream = stream.join(
                F.broadcast(right),
                on=lhs.cast("string") == F.col(tmp).cast("string"),
                how=le.how,
            )
            if le.table_key in stream.columns:
                stream = stream.drop(tmp)
            else:
                stream = stream.withColumnRenamed(tmp, le.table_key)
        return stream

    def run(self, topics: dict[str, DataFrame], ts_col: str = "ts") -> ProcessorResult:
        g = self.graph
        stream = self.enrich(topics)

        # Only inputs whose callback SetValues contribute to the fold
        # (goka: a callback may only Emit/Loopback — 3-messaging detector).
        contributing = [e.topic for e in g.input_edges if e.contributes]
        fold_input = stream.filter(F.col("_topic").isin(contributing)) \
            if len(contributing) < len(g.input_edges) else stream
        if g.loop_edge is not None:
            looped = g.loop_edge.rekey(stream)
            if KEY not in looped.columns:
                raise ValueError("loop rekey must produce a 'key' column")
            looped = looped.withColumn(KEY, F.col(KEY).cast("string"))
            if not contributing:
                fold_input = looped
            else:
                fold_input = fold_input.unionByName(looped, allowMissingColumns=True)

        outputs: dict[str, DataFrame] = {}
        for oe in g.output_edges:
            out = oe.transform(stream) if oe.transform else stream
            if oe.key is not None:
                out = out.withColumn(KEY, _as_key(oe.key, out))
            outputs[oe.topic] = out

        table = None
        if g.persist_edge is not None:
            table = g.persist_edge.fold.compile(fold_input, KEY, ts_col)
            # goka WithUpdateCallback (options.go:173): hook between
            # the fold and storage — validate/transform table state
            if g.persist_edge.update is not None:
                table = g.persist_edge.update(table)

        return ProcessorResult(graph=g, table=table, outputs=outputs, enriched=stream)
