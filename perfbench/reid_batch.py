"""reid-batch: closed loop, one client. Each request is one
``track-attrrecog-reid`` command over a fresh seeded batch of videos,
ranked against a seeded gallery holding every tracklet of the catalog
plus distractors, with all three sinks written as parquet.

Traced runs (``--trace 1``) run every request twice on the same batch:
once fused, exactly as untraced runs do, and once staged, calling each
layer's public function separately and materialising its output before
the next (tracker -> recognizer+A1 -> ranking -> sinks), so each span
covers only its layer's own execution. Both runs' sinks must be equal.
"""

from __future__ import annotations

import time

import numpy as np

from harness import Outcome, SessionProbe, median, percentile, process_age_s
from inputs import (
    RANK_K, Gallery, attribute_vector, make_videos, read_dir, recognized, rng_for, track,
    videos_table, write_table,
)

VIDEOS_PER_REQUEST = 16
# distinct request batches; the closed loop cycles through them
CATALOG_BATCHES = 16
# untimed requests on their own batches: the first pays codegen and
# Python-worker start-up, and latency keeps falling for tens of seconds
# of requests while the JVM JIT-compiles
WARM_UP_REQUESTS = 4
GALLERY_ROWS = 10_000
CHECK_PROBES = 4
CHECK_ATTRIBUTE_ROWS = 2
SINKS = ("tracklets", "attributes", "id_ranks")


def run(ctx) -> Outcome:
    from las_vpe_platform_spark import scoped_persists
    from las_vpe_platform_spark.plans.pipeline import BatchExecutor, compile_command
    from las_vpe_platform_spark.sources.tables import load_table

    out = Outcome()
    spark = ctx.spark
    inp = ctx.work / "input"
    n = VIDEOS_PER_REQUEST
    videos = make_videos(ctx.seed, (CATALOG_BATCHES + WARM_UP_REQUESTS) * n)
    # the last batches are the warm-up requests'
    batches = [videos[i * n:(i + 1) * n] for i in range(CATALOG_BATCHES + WARM_UP_REQUESTS)]
    tracklets = track(videos)
    gallery = Gallery(
        ctx.seed, [t["tracklet_key"] for rows in tracklets.values() for t in rows], GALLERY_ROWS
    )
    gallery.write(inp / "gallery.parquet", ctx.cpus)
    for b, rows in enumerate(batches):
        write_table(videos_table(rows), inp / f"batch-{b:03d}.parquet")
    gallery_df = load_table(spark, str(inp), "gallery")

    def fused(b: int, dest) -> None:
        with scoped_persists():
            BatchExecutor(spark, output_dir=str(dest), gallery=gallery_df).run(
                compile_command("track-attrrecog-reid"),
                load_table(spark, str(inp), f"batch-{b:03d}"),
            )

    for w in range(WARM_UP_REQUESTS):
        fused(CATALOG_BATCHES + w, ctx.work / "out" / f"warm-up-{w}")
    setup_s = process_age_s()

    probe = SessionProbe(spark)
    tracer = ctx.tracer
    lat_ms: list[float] = []
    done: list[tuple[int, int, object]] = []
    fused_cpu: list[float] = []
    fused_jobs: list[int] = []
    overhead_ms: list[float] = []
    t_begin = time.perf_counter()
    i = 0
    while True:
        b = i % CATALOG_BATCHES
        dest = ctx.work / "out" / f"req-{i:04d}"
        group = f"fused-{i}"
        if ctx.trace:
            spark.sparkContext.setJobGroup(group, "fused request")
            cpu0 = ctx.cpu()
        t0 = time.perf_counter()
        try:
            fused(b, dest)
            done.append((i, b, dest))
        except Exception as e:  # a failed request is counted, the loop goes on
            out.fail(f"request {i}: {type(e).__name__}: {e}")
        t1 = time.perf_counter()
        lat_ms.append((t1 - t0) * 1e3)
        if ctx.trace:
            fused_cpu.append((ctx.cpu() - cpu0) * 1e3)
            fused_jobs.append(len(spark.sparkContext.statusTracker().getJobIdsForGroup(group)))
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            s0 = time.perf_counter()
            staged = ctx.work / "out" / f"req-{i:04d}-staged"
            _staged_request(ctx, tracer, f"req-{i}", b, len(batches[b]), inp, gallery_df,
                            len(gallery.keys), staged)
            overhead_ms.append((time.perf_counter() - s0) * 1e3 - lat_ms[-1])
            if (i, b, dest) in done and not _same_outputs(dest, staged):
                out.fail(f"request {i}: staged sinks differ from fused sinks")
        i += 1
        if t1 - t_begin >= ctx.seconds:
            break
    elapsed = time.perf_counter() - t_begin
    session = probe.finish()
    out.attempted = i

    for j, b, dest in done:
        _check(out, ctx.seed, j, dest, batches[b], tracklets, gallery)

    out.metrics = {
        "setup_s": setup_s,
        "latency_p50_ms": percentile(lat_ms, 50),
        "throughput_per_s": len(done) * n / elapsed,
    }
    out.extra.update({"videos_per_s": len(done) * n / elapsed, "requests": i,
                      "latency_p90_ms": percentile(lat_ms, 90),
                      "peak_rss_mb": session["session.peak_rss_mb"],
                      "latencies_ms": [round(x, 1) for x in lat_ms],
                      "tracklets": [sum(len(tracklets[v["video_id"]]) for v in batches[b])
                                    for _, b, _ in done],
                      "videos_per_request": n, "gallery_rows": len(gallery.keys)})
    if ctx.trace:
        tracer.finish()
        out.layers = dict(session)
        out.layers.update(_layer_metrics(tracer, fused_cpu, fused_jobs))
        out.layers["trace.overhead_ms"] = median(overhead_ms)
    return out


def _staged_request(ctx, tracer, rid, b, n_videos, inp, gallery_df, n_gallery, dest) -> None:
    from pyspark.sql import functions as F

    from las_vpe_platform_spark import scoped_persists
    from las_vpe_platform_spark.operators.joins import pairwise_similarity_topk
    from las_vpe_platform_spark.operators.staging import persist_disk
    from las_vpe_platform_spark.plans.pipeline import BatchExecutor, compile_command
    from las_vpe_platform_spark.providers import (
        fake_recognizer_sql_avg, fake_tracker, recognizer_drop_filter,
    )
    from las_vpe_platform_spark.sources.tables import load_table

    spark = ctx.spark
    with tracer.span("request", rid), scoped_persists():
        with tracer.span("plans.compile_command", rid):
            plan = compile_command("track-attrrecog-reid")
        with tracer.span("sources.load_table", rid):
            src = load_table(spark, str(inp), f"batch-{b:03d}")
        with tracer.span("plans.executor_run", rid):
            BatchExecutor(spark, gallery=gallery_df).run(plan, src)
        with tracer.span("providers.tracker", rid, videos=n_videos) as s:
            tr = persist_disk(fake_tracker(src))
            s["tracklets"] = tr.count()
        with tracer.span("providers.recognizer", rid) as s:
            samples = (
                tr.select("tracklet_key",
                          F.posexplode("location_sequence").alias("sample_idx", "box"))
                .filter(F.col("box.patch_data").isNotNull())
                .select("tracklet_key", "sample_idx")
            )
            samples = persist_disk(samples.filter(recognizer_drop_filter(samples)))
            s["samples"] = samples.count()
            attrs = persist_disk(fake_recognizer_sql_avg(samples))
            attrs.count()
        with tracer.span("operators.joins.topk", rid, gallery=n_gallery) as s:
            probes = attrs.select("tracklet_key").join(gallery_df, on="tracklet_key")
            ranked = pairwise_similarity_topk(
                probes, gallery_df, probe_key="tracklet_key", gallery_key="tracklet_key",
                vector_col="feature", k=RANK_K,
            )
            id_ranks = persist_disk(ranked.groupBy("probe_key").agg(
                F.array_sort(F.collect_list(F.struct("rank", "gallery_key")))
                .getField("gallery_key").alias("id_rank")
            ))
            s["probes"] = id_ranks.count()
        with tracer.span("plans.sink", rid) as s:
            for name, df in zip(SINKS, (tr, attrs, id_ranks)):
                df.write.mode("overwrite").parquet(str(dest / name))
            s["bytes"] = sum(p.stat().st_size for p in dest.rglob("*") if p.is_file())


def _same_outputs(a, b) -> bool:
    keys = {"tracklets": "tracklet_key", "attributes": "tracklet_key", "id_ranks": "probe_key"}
    for name, key in keys.items():
        ta, tb = read_dir(a / name), read_dir(b / name)
        tb = tb.select(ta.column_names)
        if not ta.sort_by(key).equals(tb.sort_by(key)):
            return False
    return True


def _check(out: Outcome, seed: int, i: int, dest, batch, tracklets, gallery) -> None:
    """Sinks against the oracle: tracklet and attribute key sets, sampled
    A1 attribute vectors, and sampled probes' id_rank against a NumPy
    float64 brute-force top-k."""
    from las_vpe_platform_spark.schemas import ATTRIBUTE_NAMES

    out.checked += 1
    rows = {t["tracklet_key"]: t for v in batch for t in tracklets[v["video_id"]]}
    got = read_dir(dest / "tracklets", ["tracklet_key"]).column(0).to_pylist()
    if len(got) != len(rows) or set(got) != set(rows):
        return out.fail(f"request {i}: tracklets sink has {len(got)} rows, expected {len(rows)}")
    want = sorted(k for k in rows if recognized(k))
    attrs = read_dir(dest / "attributes").to_pydict()
    if sorted(attrs["tracklet_key"]) != want:
        return out.fail(f"request {i}: attributes sink keys differ")
    ranks = dict(zip(*read_dir(dest / "id_ranks").select(["probe_key", "id_rank"]).to_pydict().values()))
    if sorted(ranks) != want:
        return out.fail(f"request {i}: id_ranks probe keys differ")
    rng = rng_for(seed, f"check-{i}")
    pos = {k: j for j, k in enumerate(attrs["tracklet_key"])}
    for key in rng.choice(want, size=min(CHECK_ATTRIBUTE_ROWS, len(want)), replace=False):
        got_vec = np.asarray([attrs[a][pos[key]] for a in ATTRIBUTE_NAMES], dtype=np.float64)
        if not np.allclose(got_vec, attribute_vector(rows[key]), rtol=0, atol=1e-12):
            return out.fail(f"request {i}: attributes of {key} differ from the oracle")
    for key in rng.choice(want, size=min(CHECK_PROBES, len(want)), replace=False):
        if list(ranks[key]) != gallery.topk(str(key)):
            return out.fail(f"request {i}: id_rank of {key} differs from the NumPy top-k")


def _layer_metrics(tracer, fused_cpu: list[float], fused_jobs: list[int]) -> dict[str, float]:
    def med(name: str, field: str) -> float:
        return median(tracer.values(name, field))

    by_req: dict[str, dict[str, dict]] = {}
    for rec in tracer.spans:
        by_req.setdefault(rec["request"], {})[rec["name"]] = rec
    scan, ratio, per_video, pairs = [], [], [], []
    for j, (rid, spans) in enumerate(sorted(by_req.items(), key=lambda kv: int(kv[0][4:]))):
        scan.append(sum(r.get("scan_bytes", 0) for r in tracer.spans if r["request"] == rid))
        staged = sum(spans[n]["self_cpu_ms"] for n in (
            "providers.tracker", "providers.recognizer", "operators.joins.topk", "plans.sink"))
        ratio.append(fused_cpu[j] / staged)
        per_video.append(spans["providers.tracker"]["tracklets"] / spans["providers.tracker"]["videos"])
        topk = spans["operators.joins.topk"]
        pairs.append(topk["probes"] * topk["gallery"])
    return {
        "sources.load_table.self_ms": med("sources.load_table", "self_ms"),
        "sources.scan_bytes": median(scan),
        "plans.compile_command.self_ms": med("plans.compile_command", "self_ms"),
        "plans.executor_run.self_ms": med("plans.executor_run", "self_ms"),
        "plans.spark_jobs_per_request": median(fused_jobs),
        "plans.fused_over_staged_cpu": median(ratio),
        "providers.tracker.exec_cpu_ms": med("providers.tracker", "self_cpu_ms"),
        "providers.tracker.tracklets_per_video": median(per_video),
        "providers.recognizer.exec_cpu_ms": med("providers.recognizer", "self_cpu_ms"),
        "providers.recognizer.samples": med("providers.recognizer", "samples"),
        "operators.joins.topk.exec_cpu_ms": med("operators.joins.topk", "self_cpu_ms"),
        "operators.joins.topk.probes": med("operators.joins.topk", "probes"),
        "operators.joins.topk.pairs_scored": median(pairs),
        "plans.sink.write_ms": med("plans.sink", "self_ms"),
        "plans.sink.bytes": med("plans.sink", "bytes"),
    }
