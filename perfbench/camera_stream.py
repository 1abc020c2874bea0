"""camera-stream: open loop. One generator thread lands a small parquet
file of seeded video rows in a landing directory every
``FILE_INTERVAL_S`` seconds (``OFFERED_VIDEOS_PER_S`` in all), each row
stamped with the time it was due; one long-running query runs

    streaming.engine.file_stream -> providers.fake_tracker
    -> providers.recognizer_drop_filter
    -> stream-static operators.joins.broadcast_gallery_topk
    -> streaming.engine.foreach_batch_upsert

A video's latency runs from its due time until the micro-batch that
carries it has been written by the sink. The pipeline is stateless, so
no window length is inside the latency.

After the load phase the query drains; every landed video must then be
emitted exactly once, with rows equal to the same operator chain run as
a batch job over the landing directory, and a seeded sample of probes'
rankings must equal a NumPy top-k.
"""

from __future__ import annotations

import os
import threading
import time

import pyarrow as pa

from harness import Outcome, SessionProbe, median, percentile, process_age_s
from inputs import (
    RANK_K, Gallery, make_videos, read_dir, recognized, rng_for, track,
    videos_table, write_table,
)

OFFERED_VIDEOS_PER_S = 8.0
FILE_INTERVAL_S = 0.5
WARM_UP_FILES = 6
GALLERY_ROWS = 6144
CHECK_PROBES = 8
LANDED_DDL = (
    "video_id string, camera_id string, url string, start_ts timestamp_ntz, "
    "duration_s long, width long, height long, fps_num long, fps_den long, due_unix_s double"
)


class Generator(threading.Thread):
    """Lands one file per interval on a fixed schedule that does not
    slow down when the query does."""

    def __init__(self, landing, files: list[list[dict]], first_due: float) -> None:
        super().__init__(name="camera-generator", daemon=True)
        self.landing = landing
        self.files = files
        self.first_due = first_due
        self.due: dict[str, float] = {}
        self.landed_s: list[float] = []
        self.late_s: list[float] = []
        self.error: BaseException | None = None

    def land(self, name: str, rows: list[dict], due: float) -> None:
        """Write beside the landing directory's view (a dot-file the
        stream ignores), then rename into place atomically."""
        table = videos_table(rows).append_column(
            "due_unix_s", pa.array([due] * len(rows), pa.float64()))
        write_table(table, self.landing / f".{name}")
        os.rename(self.landing / f".{name}", self.landing / name)

    def run(self) -> None:
        try:
            for k, rows in enumerate(self.files):
                due = self.first_due + k * FILE_INTERVAL_S
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                self.land(f"part-{k:05d}.parquet", rows, due)
                self.landed_s.append(time.time())
                self.late_s.append(self.landed_s[-1] - due)
                for r in rows:
                    self.due[r["video_id"]] = due
        except BaseException as e:  # re-raised by the main thread
            self.error = e


def _pipeline(stream, gallery_df):
    from pyspark.sql import functions as F

    from las_vpe_platform_spark.operators.joins import broadcast_gallery_topk
    from las_vpe_platform_spark.providers import fake_tracker, recognizer_drop_filter

    tracklets = fake_tracker(stream)
    kept = tracklets.filter(recognizer_drop_filter(tracklets)).select("video_id", "tracklet_key")
    probes = kept.join(F.broadcast(gallery_df), "tracklet_key")
    return broadcast_gallery_topk(
        probes, gallery_df, probe_key="tracklet_key", gallery_key="tracklet_key",
        vector_col="feature", k=RANK_K, passthrough=["video_id", "tracklet_key"],
    )


def run(ctx) -> Outcome:
    from las_vpe_platform_spark.sources.tables import load_table
    from las_vpe_platform_spark.streaming.engine import file_stream, foreach_batch_upsert

    out = Outcome()
    spark = ctx.spark
    inp, landing, target = ctx.work / "input", ctx.work / "landing", ctx.work / "sink"
    landing.mkdir(parents=True)
    per_file = int(round(OFFERED_VIDEOS_PER_S * FILE_INTERVAL_S))
    n_files = WARM_UP_FILES + int(ctx.seconds / FILE_INTERVAL_S)
    videos = make_videos(ctx.seed, n_files * per_file)
    files = [videos[k * per_file:(k + 1) * per_file] for k in range(n_files)]
    tracklets = track(videos)
    keys = [t["tracklet_key"] for rows in tracklets.values() for t in rows]
    gallery = Gallery(ctx.seed, keys, max(GALLERY_ROWS, len(keys) + 1024))
    gallery.write(inp / "gallery.parquet", ctx.cpus)
    gallery_df = load_table(spark, str(inp), "gallery")

    stream = file_stream(spark, str(landing), LANDED_DDL, max_files_per_trigger=10_000)
    write = foreach_batch_upsert(str(target), ["tracklet_key", "rank"])
    emitted: list[tuple[int, float]] = []
    tracer = ctx.tracer

    def sink(batch, epoch_id: int) -> None:
        with tracer.span("streaming.sink", f"epoch-{epoch_id}"):
            write(batch, epoch_id)
        emitted.append((epoch_id, time.time()))

    query = (
        _pipeline(stream, gallery_df).writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(ctx.work / "checkpoint"))
        .start()
    )
    try:
        # warm-up: the first files go through one at a time, untimed
        warm = Generator(landing, [], 0.0)
        for k, rows in enumerate(files[:WARM_UP_FILES]):
            warm.land(f"warm-{k:05d}.parquet", rows, time.time())
            query.processAllAvailable()
        n_warm_epochs = len(emitted)
        gen = Generator(landing, files[WARM_UP_FILES:], time.time() + FILE_INTERVAL_S)
        load_start = gen.first_due
        load_end = load_start + len(gen.files) * FILE_INTERVAL_S
        setup_s = process_age_s() + (load_start - time.time())
        probe = SessionProbe(spark)
        gen.start()
        gen.join()
        time.sleep(max(0.0, load_end - time.time()))
        session = probe.finish()
        triggers = len(emitted) - n_warm_epochs
        if gen.error is not None:
            raise gen.error
        query.processAllAvailable()
        progress = query.recentProgress
    finally:
        query.stop()

    # which epoch carried which video
    epoch_of: dict[str, set[int]] = {}
    rows_of: dict[str, list[tuple]] = {}
    for epoch_dir in sorted(target.glob("epoch=*")):
        epoch = int(epoch_dir.name.split("=", 1)[1])
        t = read_dir(epoch_dir, ["video_id", "tracklet_key", "rank", "gallery_key"]).to_pylist()
        for r in t:
            epoch_of.setdefault(r["video_id"], set()).add(epoch)
            rows_of.setdefault(r["video_id"], []).append(
                (r["tracklet_key"], r["rank"], r["gallery_key"]))
    emit_time = dict(emitted)

    # correctness: exactly once, equal to the batch run, ranks = NumPy
    batch_rows: dict[str, list[tuple]] = {}
    batch = _pipeline(spark.read.schema(LANDED_DDL).parquet(str(landing)), gallery_df)
    for r in batch.collect():
        batch_rows.setdefault(r["video_id"], []).append((r["tracklet_key"], r["rank"], r["gallery_key"]))
    landed = [v for rows in files for v in rows]
    out.attempted = len(landed)
    rng = rng_for(ctx.seed, "check")
    sample = set(rng.choice([k for k in keys if recognized(k)], size=CHECK_PROBES, replace=False))
    for v in landed:
        vid = v["video_id"]
        out.checked += 1
        got = sorted(rows_of.get(vid, []))
        want = sorted(batch_rows.get(vid, []))
        expect_rows = any(recognized(t["tracklet_key"]) for t in tracklets[vid])
        if len(epoch_of.get(vid, ())) != (1 if expect_rows else 0):
            out.fail(f"{vid}: emitted in epochs {sorted(epoch_of.get(vid, ()))}")
        elif got != want or len(set(got)) != len(got):
            out.fail(f"{vid}: {len(got)} streamed rows differ from the batch result's {len(want)}")
        else:
            for key in {t["tracklet_key"] for t in tracklets[vid]} & sample:
                ranks = [g for k, _, g in sorted(got, key=lambda x: (x[0], x[1])) if k == key]
                if ranks != gallery.topk(key):
                    out.fail(f"{vid}: ranking of {key} differs from the NumPy top-k")

    # latency over the load phase's videos that produce rows
    lat_ms = []
    due = gen.due
    for vid, d in due.items():
        if vid in epoch_of:
            lat_ms.append((emit_time[min(epoch_of[vid])] - d) * 1e3)
    # delivered rate: every load-phase video, up to the last one's emit;
    # it equals the offered rate while the query keeps up
    last_emit = max(emit_time[min(epoch_of[vid])] for vid in due if vid in epoch_of)
    delivered = sum(1 for vid in due if vid in epoch_of) / (last_emit - load_start)
    backlog_end = sum(
        1 for vid, d in due.items() if d <= load_end and vid in epoch_of
        and emit_time[min(epoch_of[vid])] > load_end
    )
    out.metrics = {
        "setup_s": setup_s,
        "latency_p50_ms": percentile(lat_ms, 50),
        "throughput_per_s": delivered,
    }
    out.extra.update({
        "latency_p90_ms": percentile(lat_ms, 90),
        "peak_rss_mb": session["session.peak_rss_mb"],
        "videos_per_s": delivered,
        "offered_videos_per_s": OFFERED_VIDEOS_PER_S,
        "backlog_videos": backlog_end,
        "latency_samples": len(lat_ms),
        "generator_late_ms_p50": percentile(gen.late_s, 50) * 1e3,
        "generator_late_ms_max": max(gen.late_s) * 1e3,
        "triggers": triggers,
    })
    if ctx.trace:
        out.layers = dict(session)
        out.layers.update(_stream_layers(progress, gen, per_file, load_end, tracer))
    return out


def _stream_layers(progress, gen: Generator, per_file: int, load_end: float,
                   tracer) -> dict[str, float]:
    """Trigger figures from ``StreamingQuery.recentProgress``, for the
    triggers that started during the load phase. The file source reports
    no backlog of its own, so the files waiting at each trigger's start
    are the generator's landed files minus the load-phase rows already
    taken, in files."""
    from datetime import datetime

    load = []
    for p in sorted(progress, key=lambda p: p["batchId"]):
        ts = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        if gen.first_due <= ts <= load_end:
            load.append((ts, p))
    busy = [p for _, p in load if p["numInputRows"] > 0]

    def dur(key: str) -> float:
        return median([p["durationMs"].get(key, 0) for p in busy])

    backlog, taken = [], 0
    for ts, p in load:
        backlog.append(sum(1 for t in gen.landed_s if t <= ts) - taken / per_file)
        taken += p["numInputRows"]
    tracer.finish()
    return {
        "streaming.trigger_ms_p50": dur("triggerExecution"),
        "streaming.query_planning_ms_p50": dur("queryPlanning"),
        "streaming.wal_commit_ms_p50": dur("walCommit"),
        "streaming.add_batch_ms_p50": dur("addBatch"),
        "streaming.rows_per_trigger": median([p["numInputRows"] for p in busy]),
        "streaming.backlog_files_max": max(backlog, default=0.0),
        "streaming.sink.write_ms": median(tracer.values("streaming.sink", "wall_ms")),
        "trace.overhead_ms": tracer.bookkeeping_s * 1e3 / max(len(tracer.spans), 1),
    }
