"""metadata-lookup: closed loop, one client, a seeded mix of small
parameterised reads against a parquet metadata store that setup writes
once with the engine's fixture generators over seeded videos.

Read types, issued in shuffled blocks holding one of each, so every run
has the same mix:

- ``similar``: ranked similar persons in one camera-hour (d12 shape,
  ``operators.windows.topk_per_group``)
- ``two_hop``: two-hop similarity neighbours of one tracklet (d13 shape)
- ``attr_search``: attribute-conditioned search in a time range, top-k
  per camera (d20 shape)
- ``reid``: the ``reid`` command for one stored tracklet (d16 shape:
  ``compile_command("reid", {"tracklet_serial_num": ...})`` over that
  tracklet's video, so the ranking kernel sees one probe)

A seeded quarter of the answers (and at least one of each type) is
compared with DuckDB over the same parquet files. Traced runs issue
each read twice, plainly and staged with spans; both answers must match.
"""

from __future__ import annotations

import math
import time
from datetime import datetime, timedelta

from harness import Outcome, SessionProbe, median, percentile, process_age_s
from inputs import RANK_K, make_videos, rng_for, videos_table, write_table

STORE_VIDEOS = 64
KINDS = ("similar", "two_hop", "attr_search", "reid")
CHECK_SHARE = 0.25
SIMILAR_K = 5
SEARCH_K = 5
SEARCH_WINDOW = timedelta(minutes=30)
ATTRIBUTE_PAIRS = (
    ("gender_male", "accessory_backpack"),
    ("upper_black", "lower_jean"),
    ("age_30", "shoes_sport"),
    ("gender_female", "accessory_handbag"),
)
TABLES = ("videos", "tracklets", "attributes", "features", "similarity_edges")
WARM_UP_ROUNDS = 2
# far more than a run issues; the loop stops early if it ever gets here
MAX_LOOKUPS = 20_000


def _build_store(seed: int, store) -> dict:
    from las_vpe_platform_spark import fixtures as fx

    videos = videos_table(make_videos(seed, STORE_VIDEOS))
    tracklets = fx.gen_tracklets(videos)
    attributes = fx.gen_attributes(fx.gen_attribute_samples(tracklets))
    features = fx.gen_features(tracklets)
    edges = fx.gen_similarity_edges(features)
    for name, table in zip(TABLES, (videos, tracklets, attributes, features, edges)):
        write_table(table, store / f"{name}.parquet")
    return {
        "tracklets": tracklets.select(["tracklet_key", "video_id", "serial_number", "start_ts"]).to_pylist(),
        "attributed": set(attributes.column("tracklet_key").to_pylist()),
    }


def _params(seed: int, store: dict, count: int) -> list[tuple[str, dict]]:
    rng = rng_for(seed, "lookups")
    rows = store["tracklets"]
    attributed = [r for r in rows if r["tracklet_key"] in store["attributed"]]
    out = []
    while len(out) < count:
        for kind in rng.permutation(KINDS):
            r = rows[int(rng.integers(len(rows)))]
            if kind == "similar":
                hour = r["start_ts"].replace(minute=0, second=0, microsecond=0)
                p = {"camera": r["video_id"].split("_", 1)[0], "hour": hour}
            elif kind == "two_hop":
                p = {"key": r["tracklet_key"]}
            elif kind == "attr_search":
                a, b = ATTRIBUTE_PAIRS[int(rng.integers(len(ATTRIBUTE_PAIRS)))]
                t0 = r["start_ts"].replace(second=0, microsecond=0)
                p = {"a": a, "b": b, "t0": t0, "t1": t0 + SEARCH_WINDOW}
            else:
                r = attributed[int(rng.integers(len(attributed)))]
                p = {"video_id": r["video_id"], "serial": int(r["serial_number"])}
            out.append((str(kind), p))
    return out


def _ts(t: datetime) -> str:
    return t.strftime("%Y-%m-%d %H:%M:%S")


# --- the reads, through the engine ---------------------------------------------


class Reads:
    """Builds each read as a DataFrame. ``stage(label, df)`` is called on
    the intermediate a layer consumes; the plain reads pass it through,
    the traced reads materialise it inside a span."""

    def __init__(self, spark, store_dir: str, tracer=None, rid: str = "") -> None:
        self.spark = spark
        self.store = store_dir
        self.tracer = tracer
        self.rid = rid

    def span(self, name: str, **attrs):
        from contextlib import nullcontext

        return self.tracer.span(name, self.rid, **attrs) if self.tracer else nullcontext({})

    def stage(self, name: str, df, **attrs):
        if not self.tracer:
            return df
        from las_vpe_platform_spark.operators.staging import persist_disk

        with self.span(name, **attrs) as s:
            df = persist_disk(df)
            s["rows"] = df.count()
        return df

    def table(self, name: str):
        from las_vpe_platform_spark.sources.tables import load_table

        with self.span("sources.load_table"):
            return load_table(self.spark, self.store, name)

    def similar(self, camera: str, hour: datetime):
        from pyspark.sql import functions as F

        from las_vpe_platform_spark.operators.windows import topk_per_group

        tr = self.table("tracklets").select("tracklet_key", "video_id", "start_ts")
        persons = tr.join(self.table("attributes").select("tracklet_key", "gender_male"),
                          "tracklet_key")
        lo = F.lit(_ts(hour)).cast("timestamp")
        hi = F.lit(_ts(hour + timedelta(hours=1))).cast("timestamp")
        probes = persons.filter(
            F.col("video_id").startswith(f"{camera}_")
            & (F.col("start_ts") >= lo) & (F.col("start_ts") < hi)
        ).select(F.col("tracklet_key").alias("node_a"))
        edges = self.stage("lookup.inputs", self.table("similarity_edges").join(probes, "node_a"))
        with self.span("operators.windows.topk_per_group"):
            ranked = self.stage_inline(topk_per_group(
                edges, ["node_a"], "similarity", k=SIMILAR_K, tiebreak_cols=["node_b"]))
        nb = persons.select(
            F.col("tracklet_key").alias("node_b"),
            F.col("gender_male").alias("nb_attr0"),
            F.date_format(F.date_trunc("minute", "start_ts"), "yyyy-MM-dd HH:mm").alias("nb_minute"),
        )
        return ranked.join(nb, "node_b", "left").select(
            "node_a", "node_b", F.col("rank").cast("bigint").alias("rank"),
            F.col("similarity").cast("double").alias("similarity"), "nb_attr0", "nb_minute",
        )

    def stage_inline(self, df):
        """Materialise ``df`` inside the enclosing span (traced reads)."""
        if not self.tracer:
            return df
        from las_vpe_platform_spark.operators.staging import persist_disk

        df = persist_disk(df)
        df.count()
        return df

    def two_hop(self, key: str):
        from pyspark.sql import functions as F

        edges = self.table("similarity_edges").select(
            "node_a", "node_b", F.col("similarity").cast("double").alias("sim"))
        hop1 = edges.filter(F.col("node_a") == key)
        hop2 = hop1.alias("h1").join(
            edges.alias("h2"), F.col("h1.node_b") == F.col("h2.node_a")
        ).select(
            F.col("h2.node_b").alias("two_hop"), F.least("h1.sim", "h2.sim").alias("path_sim")
        ).filter(F.col("two_hop") != key)
        direct = hop1.select(F.col("node_b").alias("two_hop"))
        return (
            hop2.join(direct, "two_hop", "left_anti")
            .groupBy("two_hop")
            .agg(F.max("path_sim").alias("best_path_sim"), F.count(F.lit(1)).alias("n_paths"))
        )

    def attr_search(self, a: str, b: str, t0: datetime, t1: datetime):
        from pyspark.sql import functions as F

        from las_vpe_platform_spark.operators.windows import topk_per_group

        lo, hi = F.lit(_ts(t0)).cast("timestamp"), F.lit(_ts(t1)).cast("timestamp")
        hits = (
            self.table("attributes").select("tracklet_key", a, b)
            .filter((F.col(a) > 0.0) & (F.col(b) > 0.0))
            .join(self.table("tracklets").select("tracklet_key", "video_id", "start_ts")
                  .filter((F.col("start_ts") >= lo) & (F.col("start_ts") < hi)), "tracklet_key")
            .join(F.broadcast(self.table("videos").select("video_id", "camera_id")), "video_id")
            .select("camera_id", "tracklet_key", (F.col(a) + F.col(b)).alias("score"), "start_ts")
        )
        hits = self.stage("lookup.inputs", hits)
        with self.span("operators.windows.topk_per_group"):
            ranked = self.stage_inline(topk_per_group(
                hits, ["camera_id"], "score", SEARCH_K, tiebreak_cols=["tracklet_key"]))
        return ranked.select(
            "camera_id", F.col("rank").cast("bigint").alias("rank"), "tracklet_key", "score",
            F.date_format(F.date_trunc("minute", "start_ts"), "yyyy-MM-dd HH:mm").alias("minute"),
        )

    def reid(self, video_id: str, serial: int):
        from pyspark.sql import functions as F

        from las_vpe_platform_spark.operators.joins import pairwise_similarity_topk
        from las_vpe_platform_spark.plans.pipeline import BatchExecutor, compile_command

        with self.span("plans.compile_command"):
            plan = compile_command("reid", {"tracklet_serial_num": serial})
        source = self.table("tracklets").filter(F.col("video_id") == video_id)
        attrs, gallery = self.table("attributes"), self.table("features")
        with self.span("plans.executor_run"):
            ranks = BatchExecutor(self.spark, gallery=gallery).run(
                plan, source, ATTR_TABLE=attrs)["reid"]
        if not self.tracer:
            return ranks
        # staged: the same ranking, with the probe side materialised first
        probes = self.stage("lookup.inputs", source.filter(F.col("serial_number") == serial)
                            .join(attrs, "tracklet_key").select("tracklet_key")
                            .join(gallery, "tracklet_key"))
        with self.span("operators.joins.topk", gallery=gallery.count()) as s:
            ranked = pairwise_similarity_topk(
                probes, gallery, probe_key="tracklet_key", gallery_key="tracklet_key",
                vector_col="feature", k=RANK_K)
            ranks = self.stage_inline(ranked.groupBy("probe_key").agg(
                F.array_sort(F.collect_list(F.struct("rank", "gallery_key")))
                .getField("gallery_key").alias("id_rank")))
            s["probes"] = probes.count()
        return ranks

    def run(self, kind: str, params: dict) -> list[tuple]:
        return _canon(getattr(self, kind)(**params).collect())


# --- the DuckDB oracle ---------------------------------------------------------


def _duck_sql(kind: str, p: dict) -> str:
    if kind == "similar":
        return f"""
WITH persons AS (
  SELECT t.tracklet_key, t.video_id, t.start_ts, a.gender_male
  FROM tracklets t JOIN attributes a USING (tracklet_key)
), probes AS (
  SELECT tracklet_key AS node_a FROM persons
  WHERE starts_with(video_id, '{p["camera"]}_')
    AND start_ts >= TIMESTAMP '{_ts(p["hour"])}'
    AND start_ts < TIMESTAMP '{_ts(p["hour"] + timedelta(hours=1))}'
), ranked AS (
  SELECT e.node_a, e.node_b, e.similarity,
         row_number() OVER (PARTITION BY e.node_a ORDER BY e.similarity DESC, e.node_b) AS rank
  FROM similarity_edges e JOIN probes USING (node_a)
  QUALIFY rank <= {SIMILAR_K}
)
SELECT r.node_a, r.node_b, r.rank, r.similarity::DOUBLE, p.gender_male,
       strftime(date_trunc('minute', p.start_ts), '%Y-%m-%d %H:%M')
FROM ranked r LEFT JOIN persons p ON p.tracklet_key = r.node_b"""
    if kind == "two_hop":
        return f"""
WITH edges AS (SELECT node_a, node_b, similarity::DOUBLE AS sim FROM similarity_edges),
hop1 AS (SELECT * FROM edges WHERE node_a = '{p["key"]}'),
hop2 AS (
  SELECT h2.node_b AS two_hop, least(h1.sim, h2.sim) AS path_sim
  FROM hop1 h1 JOIN edges h2 ON h1.node_b = h2.node_a
  WHERE h2.node_b <> '{p["key"]}'
)
SELECT two_hop, max(path_sim), count(*) FROM hop2
WHERE two_hop NOT IN (SELECT node_b FROM hop1)
GROUP BY two_hop"""
    if kind == "attr_search":
        a, b = p["a"], p["b"]
        return f"""
WITH hits AS (
  SELECT v.camera_id, x.tracklet_key, x.{a} + x.{b} AS score, t.start_ts
  FROM attributes x JOIN tracklets t USING (tracklet_key) JOIN videos v USING (video_id)
  WHERE x.{a} > 0.0 AND x.{b} > 0.0
    AND t.start_ts >= TIMESTAMP '{_ts(p["t0"])}' AND t.start_ts < TIMESTAMP '{_ts(p["t1"])}'
), rk AS (
  SELECT *, row_number() OVER (PARTITION BY camera_id ORDER BY score DESC, tracklet_key) AS rank
  FROM hits
)
SELECT camera_id, rank, tracklet_key, score, strftime(date_trunc('minute', start_ts), '%Y-%m-%d %H:%M')
FROM rk WHERE rank <= {SEARCH_K}"""
    return f"""
WITH pr AS (
  SELECT f.tracklet_key AS probe_key, f.feature::DOUBLE[] AS pvec
  FROM tracklets t JOIN attributes a USING (tracklet_key) JOIN features f USING (tracklet_key)
  WHERE t.video_id = '{p["video_id"]}' AND t.serial_number = {p["serial"]}
), scored AS (
  SELECT probe_key, g.tracklet_key AS gallery_key,
         list_dot_product(pvec, g.feature::DOUBLE[])
           / (sqrt(list_dot_product(pvec, pvec))
              * sqrt(list_dot_product(g.feature::DOUBLE[], g.feature::DOUBLE[]))) AS sim
  FROM pr CROSS JOIN features g
)
SELECT probe_key, list(gallery_key ORDER BY sim DESC, gallery_key)[1:{RANK_K}]
FROM scored GROUP BY probe_key"""


def _canon(rows) -> list[tuple]:
    """Rows as plain tuples (lists become tuples), sorted on their
    non-float fields; floats are compared with a tolerance later."""
    out = [tuple(tuple(v) if isinstance(v, list) else v for v in r) for r in rows]
    return sorted(out, key=lambda r: tuple("" if isinstance(v, float) else str(v) for v in r))


def _same(a: list[tuple], b: list[tuple]) -> bool:
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for va, vb in zip(ra, rb):
            if isinstance(va, float) or isinstance(vb, float):
                if va is None or vb is None or not math.isclose(va, vb, rel_tol=1e-9, abs_tol=1e-12):
                    return False
            elif va != vb:
                return False
    return True


# --- the workload ----------------------------------------------------------------


def run(ctx) -> Outcome:
    import duckdb

    from las_vpe_platform_spark import scoped_persists

    out = Outcome()
    spark = ctx.spark
    store_dir = ctx.work / "store"
    store = _build_store(ctx.seed, store_dir)
    plain = Reads(spark, str(store_dir))
    for kind, p in _params(ctx.seed + 1_000_003, store, WARM_UP_ROUNDS * len(KINDS)):
        with scoped_persists():
            plain.run(kind, p)
    lookups = _params(ctx.seed, store, MAX_LOOKUPS)
    setup_s = process_age_s()

    sc = spark.sparkContext
    probe = SessionProbe(spark)
    lat_ms: list[float] = []
    by_kind: dict[str, list[float]] = {k: [] for k in KINDS}
    answers: list[tuple[int, list[tuple]]] = []
    jobs: list[int] = []
    overhead_ms: list[float] = []
    t_begin = time.perf_counter()
    i = 0
    while True:
        kind, p = lookups[i]
        if ctx.trace:
            sc.setJobGroup(f"plain-{i}", kind)
        t0 = time.perf_counter()
        try:
            with scoped_persists():
                answers.append((i, plain.run(kind, p)))
        except Exception as e:  # a failed read is counted, the loop goes on
            out.fail(f"lookup {i} ({kind}): {type(e).__name__}: {e}")
        t1 = time.perf_counter()
        lat_ms.append((t1 - t0) * 1e3)
        by_kind[kind].append(lat_ms[-1])
        if ctx.trace:
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(f"plain-{i}")))
            sc.setLocalProperty("spark.jobGroup.id", None)
            s0 = time.perf_counter()
            with ctx.tracer.span(f"lookup.{kind}", f"q-{i}"), scoped_persists():
                traced = Reads(spark, str(store_dir), ctx.tracer, f"q-{i}").run(kind, p)
            overhead_ms.append((time.perf_counter() - s0) * 1e3 - lat_ms[-1])
            if answers and answers[-1][0] == i and not _same(answers[-1][1], traced):
                out.fail(f"lookup {i} ({kind}): traced answer differs from the plain one")
        i += 1
        # whole blocks only, so every run issues the same mix
        if i % len(KINDS) == 0 and (t1 - t_begin >= ctx.seconds or i == len(lookups)):
            break
    elapsed = time.perf_counter() - t_begin
    session = probe.finish()
    out.attempted = i

    rng = rng_for(ctx.seed, "check")
    seen: set[str] = set()
    con = duckdb.connect()
    con.execute("SET threads = 1")
    for name in TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{store_dir / name}.parquet')")
    for j, got in answers:
        kind, p = lookups[j]
        if kind in seen and rng.random() >= CHECK_SHARE:
            continue
        seen.add(kind)
        out.checked += 1
        want = _canon(con.execute(_duck_sql(kind, p)).fetchall())
        if not _same(got, want):
            out.fail(f"lookup {j} ({kind} {p}): {len(got)} rows differ from DuckDB's {len(want)}")
    con.close()

    out.metrics = {
        "setup_s": setup_s,
        "latency_p50_ms": percentile(lat_ms, 50),
        "throughput_per_s": len(answers) / elapsed,
    }
    out.extra.update({"queries_per_s": len(answers) / elapsed, "lookups": i,
                      "latency_p90_ms": percentile(lat_ms, 90),
                      "peak_rss_mb": session["session.peak_rss_mb"]})
    out.extra.update({f"latency_p50_ms.{k}": percentile(v, 50) for k, v in by_kind.items() if v})
    if ctx.trace:
        tr = ctx.tracer
        tr.finish()
        scan: dict[str, float] = {}
        for rec in tr.spans:
            scan[rec["request"]] = scan.get(rec["request"], 0) + rec.get("scan_bytes", 0)
        topk = [r for r in tr.spans if r["name"] == "operators.joins.topk"]
        out.layers = dict(session)
        out.layers.update({
            "sources.load_table.self_ms": median(tr.values("sources.load_table", "self_ms")),
            "sources.scan_bytes": median(list(scan.values())),
            "plans.compile_command.self_ms": median(tr.values("plans.compile_command", "self_ms")),
            "plans.executor_run.self_ms": median(tr.values("plans.executor_run", "self_ms")),
            "plans.spark_jobs_per_request": median(jobs),
            "operators.joins.topk.exec_cpu_ms": median([r["self_cpu_ms"] for r in topk]),
            "operators.joins.topk.probes": median([r["probes"] for r in topk]),
            "operators.joins.topk.pairs_scored": median([r["probes"] * r["gallery"] for r in topk]),
            "operators.windows.topk_per_group.exec_cpu_ms":
                median(tr.values("operators.windows.topk_per_group", "self_cpu_ms")),
            "operators.windows.topk_per_group.shuffle_bytes":
                median(tr.values("operators.windows.topk_per_group", "shuffle_bytes")),
            "trace.overhead_ms": median(overhead_ms),
        })
    return out
