"""Pipeline DSL + command compiler + batch executor (SURVEY §3.1).

The reference compiles pipeline commands into a per-task
``ExecutionPlan`` DAG (vpe/ctrl/TaskData.java:162-343) that is Java-
serialized into EVERY Kafka message and executed stage-by-stage by
long-running Spark Streaming apps, each marking its node executed
(TaskData.java:332-337) and producing to the successors' topics.

Spark-native re-architecture: the plan is a driver-side object only —
nodes become DataFrame transformations chained inside ONE Spark plan,
so the inter-stage Kafka hops (a full serialize/produce/consume/
deserialize cycle per edge) collapse into Catalyst exchanges, and
Catalyst sees the whole pipeline at once (filter pushdown through all
stages, shared scans, whole-stage codegen across stage boundaries).

Command vocabulary parity: MessageHandlingApp.java:113-125 and the
per-command plan builders at :214-337.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from las_vpe_platform_spark.operators.joins import pairwise_similarity_topk
from las_vpe_platform_spark.operators.routing import term_sig_filter
from las_vpe_platform_spark.operators.staging import persist_disk
from las_vpe_platform_spark.providers import (
    fake_recognizer_sql_avg,
    fake_tracker,
    recognizer_drop_filter,
)


@dataclass
class Node:
    """One execution of a Stream with parameters (ExecutionPlan.Node,
    TaskData.java:235-342)."""

    node_id: int
    stream: str
    exec_data: dict[str, Any] = field(default_factory=dict)
    # (successor node_id, port name) — Node.outputTo(Port)
    out_edges: list[tuple[int, str]] = field(default_factory=list)


class ExecutionPlan:
    """DAG of Nodes (TaskData.ExecutionPlan, TaskData.java:162-227).

    Unlike the reference, the plan never ships with data — it lives on
    the driver and compiles to one Spark logical plan, so there are no
    per-copy executed-markers to merge across Kafka branches (:179-183).
    """

    def __init__(self) -> None:
        self.nodes: dict[int, Node] = {}
        self._counter = 0

    def add_node(self, stream: str, exec_data: dict[str, Any] | None = None) -> int:
        node_id = self._counter
        self._counter += 1
        self.nodes[node_id] = Node(node_id, stream, exec_data or {})
        return node_id

    def link(self, src: int, dst: int, port: str = "DEFAULT") -> None:
        self.nodes[src].out_edges.append((dst, port))

    def parents_of(self, node_id: int) -> list[tuple[int, str]]:
        return [
            (n.node_id, port)
            for n in self.nodes.values()
            for (dst, port) in n.out_edges
            if dst == node_id
        ]

    def topo_order(self) -> list[Node]:
        indeg = {i: 0 for i in self.nodes}
        for n in self.nodes.values():
            for dst, _ in n.out_edges:
                indeg[dst] += 1
        ready = sorted(i for i, d in indeg.items() if d == 0)
        order: list[Node] = []
        while ready:
            i = ready.pop(0)
            order.append(self.nodes[i])
            for dst, _ in self.nodes[i].out_edges:
                indeg[dst] -= 1
                if indeg[dst] == 0:
                    ready.append(dst)
            ready.sort()
        if len(order) != len(self.nodes):
            raise ValueError("cycle in execution plan")
        return order


# --- command vocabulary (MessageHandlingApp.java:113-125) -------------------
# stream names; sinks mirror DataManagingApp's saving streams

TRACKING = "tracking"
ATTR_RECOG = "attr_recog"
REID = "reid"
TRACKLET_SAVING = "tracklet_saving"
ATTR_SAVING = "attr_saving"
IDRANK_SAVING = "idrank_saving"
RETRIEVE_TRACKLET = "retrieve_tracklet"          # J8/S6 point retrieval
RETRIEVE_TRACKLET_ATTR = "retrieve_tracklet_attr"

COMMANDS = (
    "track",
    "track-attrrecog",
    "attrrecog",
    "reid",
    "attrrecog-reid",
    "track-attrrecog-reid",
)


def compile_command(command: str, params: dict[str, Any] | None = None) -> ExecutionPlan:
    """Command string -> ExecutionPlan (the switch at
    MessageHandlingApp.java:214-337; no optimizer, plan = command shape).

    ``params`` go to the root node (source selection, e.g.
    ``tracklet_serial_num``) and to the reid node (``k``).
    """
    params = params or {}
    plan = ExecutionPlan()
    if command == "track":
        t = plan.add_node(TRACKING, params)
        plan.link(t, plan.add_node(TRACKLET_SAVING), "TRACKLET")
    elif command == "track-attrrecog":
        t = plan.add_node(TRACKING, params)
        a = plan.add_node(ATTR_RECOG)
        plan.link(t, a, "TRACKLET")
        plan.link(t, plan.add_node(TRACKLET_SAVING), "TRACKLET")
        plan.link(a, plan.add_node(ATTR_SAVING), "ATTRIBUTES")
    elif command == "attrrecog":
        r = plan.add_node(RETRIEVE_TRACKLET, params)
        a = plan.add_node(ATTR_RECOG)
        plan.link(r, a, "TRACKLET")
        plan.link(a, plan.add_node(ATTR_SAVING), "ATTRIBUTES")
    elif command == "reid":
        r = plan.add_node(RETRIEVE_TRACKLET_ATTR, params)
        d = plan.add_node(REID, params)
        plan.link(r, d, "TRACKLET_ATTR")
        plan.link(d, plan.add_node(IDRANK_SAVING), "IDRANK")
    elif command == "attrrecog-reid":
        r = plan.add_node(RETRIEVE_TRACKLET, params)
        a = plan.add_node(ATTR_RECOG)
        d = plan.add_node(REID, params)
        plan.link(r, a, "TRACKLET")
        plan.link(r, d, "TRACKLET")
        plan.link(a, d, "ATTRIBUTES")
        plan.link(a, plan.add_node(ATTR_SAVING), "ATTRIBUTES")
        plan.link(d, plan.add_node(IDRANK_SAVING), "IDRANK")
    elif command == "track-attrrecog-reid":
        t = plan.add_node(TRACKING, params)
        a = plan.add_node(ATTR_RECOG)
        d = plan.add_node(REID, params)
        plan.link(t, a, "TRACKLET")
        plan.link(t, d, "TRACKLET")
        plan.link(a, d, "ATTRIBUTES")
        plan.link(t, plan.add_node(TRACKLET_SAVING), "TRACKLET")
        plan.link(a, plan.add_node(ATTR_SAVING), "ATTRIBUTES")
        plan.link(d, plan.add_node(IDRANK_SAVING), "IDRANK")
    else:
        raise ValueError(f"unknown command {command!r}; known: {COMMANDS}")
    return plan


# --- batch executor ---------------------------------------------------------


class BatchExecutor:
    """Executes a compiled plan as chained DataFrame transformations.

    Stage lambdas replace the reference's per-app foreachRDD bodies;
    sink stages write partitioned parquet (the Parquet re-expression of
    the HDFS/HAR tracklet store + Neo4j person table, SURVEY K2-K8).
    The tracker is ``fake_tracker`` and the recognizer is the fused
    ``fake_recognizer_sql_avg``: one fixed provider per stage.

    ``term_sigs`` (optional) applies the P4 cancellation anti-join at
    the source, exactly where SparkStreamingApp.java:253-256 does.

    A node read by more than one downstream node is materialized with
    ``persist_disk`` (the multi-reference rule, SCALE.md): the tracking
    output in ``track-attrrecog`` and ``track-attrrecog-reid``, the
    retrieved tracklets in ``attrrecog-reid``, and the attr_recog output
    in both reid commands. The first action (the reid stage's probe
    collect, else the first sink) fills the cache and every other
    consumer reads it, so the tracker and the recognizer run once per
    request, as each reference app runs once per task. The frames stay
    persisted after ``run`` returns so the returned outputs keep reading
    them; callers release them with ``scoped_persists()`` around the
    request or ``unpersist_all()`` between requests.
    """

    def __init__(
        self,
        spark: SparkSession,
        output_dir: str | None = None,
        gallery: DataFrame | None = None,
        term_sigs: DataFrame | None = None,
    ) -> None:
        self.spark = spark
        self.output_dir = output_dir
        self.gallery = gallery
        self.term_sigs = term_sigs
        self._stages: dict[str, Callable[[Node, dict[str, DataFrame]], DataFrame]] = {
            TRACKING: self._stage_tracking,
            ATTR_RECOG: self._stage_attr_recog,
            REID: self._stage_reid,
            RETRIEVE_TRACKLET: self._stage_retrieve_tracklet,
            RETRIEVE_TRACKLET_ATTR: self._stage_retrieve_tracklet_attr,
            TRACKLET_SAVING: self._sink("tracklets"),
            ATTR_SAVING: self._sink("attributes"),
            IDRANK_SAVING: self._sink("id_ranks"),
        }

    # -- stages ------------------------------------------------------------

    def _stage_tracking(self, node: Node, inputs: dict[str, DataFrame]) -> DataFrame:
        # fake_tracker repartitions by video_id itself (per-video task
        # fan-out, PedestrianTrackingApp.java: one RDD element per video)
        tracklets = fake_tracker(inputs["SOURCE"])
        if self.term_sigs is not None:
            tracklets = term_sig_filter(tracklets, self.term_sigs, key="task_id")
        return tracklets

    def _stage_retrieve_tracklet(self, node: Node, inputs: dict[str, DataFrame]) -> DataFrame:
        # S6/S7: read the stored tracklets table (claim-check resolution
        # is a scan, not per-row HDFS IO)
        df = inputs["SOURCE"]
        serial = node.exec_data.get("tracklet_serial_num")
        if serial is not None:
            df = df.filter(F.col("serial_number") == int(serial))
        return df

    def _stage_retrieve_tracklet_attr(self, node: Node, inputs: dict[str, DataFrame]) -> DataFrame:
        tracklets = self._stage_retrieve_tracklet(node, inputs)
        attrs = inputs["ATTR_TABLE"]
        return tracklets.join(attrs, on="tracklet_key", how="inner")

    def _explode_samples(self, tracklets: DataFrame) -> DataFrame:
        # one row per retained (patch-bearing) bounding box — the
        # BatchRecognizer input shape (P8/P9)
        return (
            tracklets.select(
                "tracklet_key",
                F.posexplode("location_sequence").alias("sample_idx", "box"),
            )
            .filter(F.col("box.patch_data").isNotNull())
            .select("tracklet_key", "sample_idx")
        )

    def _stage_attr_recog(self, node: Node, inputs: dict[str, DataFrame]) -> DataFrame:
        samples = self._explode_samples(inputs["TRACKLET"])
        samples = samples.filter(recognizer_drop_filter(samples))
        # fused recognize + A1 per-tracklet average
        return fake_recognizer_sql_avg(samples)

    def _stage_reid(self, node: Node, inputs: dict[str, DataFrame]) -> DataFrame:
        # J1/J6 assembly then J9+W2 ranking against the feature gallery.
        # In every compiled plan the ATTRIBUTES input is the ATTR_RECOG
        # output of this node's own TRACKLET input, so its keys already
        # are the assembled set and joining them back to the tracklets
        # is an identity (one that would also run the tracker subtree a
        # second time: Catalyst does not dedupe shared Python-UDTF
        # subtrees). The reid command reads the stored assembly instead.
        if "ATTRIBUTES" in inputs:
            assembled = inputs["ATTRIBUTES"]
        else:
            assembled = inputs["TRACKLET_ATTR"]
        if self.gallery is None:
            raise ValueError("reid stage requires a feature gallery DataFrame")
        probes = assembled.select("tracklet_key").join(
            self.gallery, on="tracklet_key", how="inner"
        )
        k = int(node.exec_data.get("k", 10))
        ranked = pairwise_similarity_topk(
            probes,
            self.gallery,
            probe_key="tracklet_key",
            gallery_key="tracklet_key",
            vector_col="feature",
            k=k,
        )
        return ranked.groupBy("probe_key").agg(
            F.array_sort(
                F.collect_list(F.struct("rank", "gallery_key"))
            ).getField("gallery_key").alias("id_rank")
        )

    def _sink(self, table: str) -> Callable[[Node, dict[str, DataFrame]], DataFrame]:
        def write(node: Node, inputs: dict[str, DataFrame]) -> DataFrame:
            df = next(iter(inputs.values()))
            if self.output_dir is not None:
                df.write.mode("overwrite").parquet(f"{self.output_dir}/{table}")
            return df

        return write

    # -- driver ------------------------------------------------------------

    def run(self, plan: ExecutionPlan, source: DataFrame, **extra_inputs: DataFrame) -> dict[str, DataFrame]:
        """Execute the plan; returns {stream_name: output DataFrame}.

        ``source`` feeds root nodes (the fan-out of §3.1 step 4);
        ``extra_inputs`` supplies named side tables (e.g. ATTR_TABLE).
        """
        results: dict[int, DataFrame] = {}
        outputs: dict[str, DataFrame] = {}
        for node in plan.topo_order():
            parents = plan.parents_of(node.node_id)
            if parents:
                inputs = {port: results[pid] for pid, port in parents}
            else:
                inputs = {"SOURCE": source}
            inputs.update({k: v for k, v in extra_inputs.items() if k not in inputs})
            df = self._stages[node.stream](node, inputs)
            if len(node.out_edges) > 1:
                df = persist_disk(df, node.stream)
            results[node.node_id] = df
            outputs[node.stream] = df
        return outputs
