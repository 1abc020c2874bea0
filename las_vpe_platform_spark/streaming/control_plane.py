"""Control-plane stream: command consumption and task fan-out
(SURVEY S10/S11; MessageHandlingApp.java:131-156, §3.1 steps 1-4).

The reference consumes raw COMMAND Kafka messages on executors and
builds an ExecutionPlan per message, shipping the plan inside every
downstream TaskData. Spark-native: commands arrive on a stream, a
``foreachBatch`` driver callback compiles each command with the
pipeline DSL and launches/records the corresponding batch work — the
plan never leaves the driver.
"""

from __future__ import annotations

import uuid
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from las_vpe_platform_spark.plans.pipeline import ExecutionPlan, compile_command


@dataclass
class SubmittedTask:
    """One task = one video through one compiled plan (§3.1 step 4:
    per-video UUID minting, MessageHandlingApp.java:237-244)."""

    task_id: str
    command: str
    video_url: str
    plan: ExecutionPlan


@dataclass
class CommandHandler:
    """foreachBatch callback: command rows -> compiled, fanned-out tasks.

    ``videos`` is the catalog used for S4 directory expansion (a
    ``video_url`` that is a prefix expands to every video under it —
    HDFSReader.listSubfiles parity). ``on_task`` is the execution hook;
    by default tasks are only recorded (tests introspect them), a
    deployment wires it to BatchExecutor.run and wraps each task in
    ``scoped_persists()``: the executor persists every stage read by
    several nodes, and the scope releases them once the task's sinks
    are written instead of letting them pile up across micro-batches.
    """

    videos: DataFrame
    on_task: Callable[[SubmittedTask], None] | None = None
    submitted: list[SubmittedTask] = field(default_factory=list)

    def __call__(self, batch: DataFrame, epoch_id: int) -> None:
        # command rows per batch are few — collecting them is the point
        # of a control plane; the VIDEO CATALOG is unbounded and must
        # never be collected. Prefix expansion (S4) runs as a broadcast
        # join of the tiny command set against the distributed catalog
        # (same plan shape as d10_command_fanout); only the matched
        # (command, url) pairs — i.e. the tasks to launch — reach the
        # driver.
        commands = batch.select("command", "video_url").collect()
        if not commands:
            return
        plans: dict[str, ExecutionPlan | None] = {}
        valid: list[tuple[str, str]] = []
        for row in commands:
            cmd = row["command"]
            if cmd not in plans:
                try:
                    plans[cmd] = compile_command(cmd)
                except ValueError:
                    plans[cmd] = None  # unknown command: reference logs and drops
            if plans[cmd] is not None:
                valid.append((cmd, row["video_url"]))
        if not valid:
            return
        from las_vpe_platform_spark.sources.tables import inline_rows

        # zero-task LocalRelation per micro-batch (r13, guide §4): the
        # RDD form scheduled a python round-trip per core per batch
        cmd_df = inline_rows(
            batch.sparkSession, valid, "command string, video_url string"
        )
        matches = (
            self.videos.select("url")
            .join(
                F.broadcast(cmd_df),
                F.col("url").startswith(F.col("video_url")),
                "inner",
            )
            .select("command", "video_url", "url")
            .collect()
        )
        for row in sorted(
            matches, key=lambda r: (r["command"], r["video_url"], r["url"])
        ):
            task = SubmittedTask(
                task_id=str(uuid.uuid5(uuid.NAMESPACE_URL, row["url"])),
                command=row["command"],
                video_url=row["url"],
                plan=plans[row["command"]],
            )
            self.submitted.append(task)
            if self.on_task is not None:
                self.on_task(task)


def start_control_plane(
    command_stream: DataFrame,
    handler: CommandHandler,
    checkpoint_dir: str | None = None,
):
    """Attach the handler to a command stream; returns the query."""
    writer = command_stream.writeStream.foreachBatch(handler)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()
