"""Algorithm providers (SURVEY §2.10).

The reference selects tracker/recognizer/comparer implementations at
deployment time via an Algorithm enum + per-executor Singleton pool
(PedestrianAttrRecogApp.java:61-66, 150-183; util/Singleton.java:33-96).
Here each algorithm is a *provider*: a function returning either a
column expression set (JVM-side, fast path) or an Arrow-batched UDF
(mapInPandas / pandas_udf) for model-backed implementations.

There is no registry: the batch pipeline calls ``fake_tracker`` and
``fake_recognizer_sql_avg`` directly. The pandas variants
(``fake_recognizer_pandas``, ``fake_cross_encoder_pandas``) are the
Arrow-batched shape a real model plugs into (schema, batching,
worker-local model slot) and are parity-tested against the SQL fakes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from las_vpe_platform_spark.fixtures import SEED
from las_vpe_platform_spark.schemas import ATTRIBUTE_NAMES, TRACKLET

# ---------------------------------------------------------------------------
# Trackers: video rows -> tracklet rows (UDTF shape; Tracker.track parity)
# ---------------------------------------------------------------------------


def fake_tracker(videos: DataFrame) -> DataFrame:
    """Deterministic fake tracker as a mapInPandas UDTF.

    One video row fans out to 3-32 tracklet rows with nested
    bounding-box sequences and binary patches — the Arrow-batched
    re-expression of Tracker.track(InputStream) -> Tracklet[]
    (alg/pedestrian/tracking/Tracker.java). Pure function of
    (SEED, video_id): output is partitioning-invariant.
    """

    from las_vpe_platform_spark.session import ensure_package_on_workers

    ensure_package_on_workers(videos.sparkSession)

    def track_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from las_vpe_platform_spark.fixtures import fake_track_video as track

        for pdf in batches:
            out = []
            for video_id, start_ts in zip(pdf["video_id"], pdf["start_ts"]):
                out.extend(track(video_id, start_ts.to_pydatetime()))
            yield pd.DataFrame(
                out,
                columns=[f.name for f in TRACKLET.fields],
            )

    # partition by unit of work: a model stage must parallelize even
    # when the input is one small file (1 parquet row-group = 1
    # partition otherwise — a serial GPU/tracker stage)
    par = videos.sparkSession.sparkContext.defaultParallelism
    return (
        videos.select("video_id", "start_ts")
        .repartition(par, "video_id")
        .mapInPandas(track_batches, TRACKLET)
    )


# ---------------------------------------------------------------------------
# Recognizers: tracklet samples -> 125 attribute columns
# (Recognizer.recognize / BatchRecognizer parity)
# ---------------------------------------------------------------------------


def _hash_unit(parts: list[Column]) -> Column:
    """conv(first 8 md5 hex chars) / 2^32 in [0,1) — the JVM-side mirror
    of fixtures._h32; bit-identical to the generator and to DuckDB."""
    joined = F.concat_ws(":", *parts)
    return F.conv(F.substring(F.md5(joined), 1, 8), 16, 10).cast("double") / F.lit(
        float(2**32)
    )


def fake_recognizer_sql(samples: DataFrame, key_col: str = "tracklet_key",
                        sample_col: str = "sample_idx") -> DataFrame:
    """Deterministic fake CNN as pure column expressions (fast path).

    Per-sample attribute value = hash(seed, key, sample_idx, name) in
    [-0.5, 0.5) — the FC8-range fake of FakeRecognizer.java:27-36, but
    computed JVM-side inside codegen instead of a 200 ms sleep.

    Built via ONE selectExpr call: constructing 125 Column trees
    node-by-node costs hundreds of py4j round trips (~2 s of driver
    time, measured); parsing 125 SQL strings JVM-side costs ~none.
    """
    exprs = [
        f"CAST(conv(substring(md5(concat_ws(':', '{SEED}', {key_col}, "
        f"CAST({sample_col} AS STRING), '{name}')), 1, 8), 16, 10) AS DOUBLE) "
        f"/ 4294967296.0D - 0.5D AS {name}"
        for name in ATTRIBUTE_NAMES
    ]
    return samples.selectExpr(key_col, sample_col, *exprs)


def fake_recognizer_pandas(samples: DataFrame, key_col: str = "tracklet_key",
                           sample_col: str = "sample_idx") -> DataFrame:
    """Same fake CNN as an Arrow-batched pandas UDF path.

    Exists to exercise (and test parity of) the model-backed provider
    shape: iterator-of-batches, worker-local state, wide output.
    """
    import hashlib

    from las_vpe_platform_spark.session import ensure_package_on_workers

    ensure_package_on_workers(samples.sparkSession)

    out_schema = ", ".join(
        [f"{key_col} string", f"{sample_col} int"]
        + [f"{name} double" for name in ATTRIBUTE_NAMES]
    )

    def recog(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # worker-local "model" would be loaded once here (Singleton
        # parity: util/Singleton.java:33-96)
        def val(key: str, s: int, name: str) -> float:
            h = hashlib.md5(f"{SEED}:{key}:{s}:{name}".encode()).digest()
            return int.from_bytes(h[:4], "big") / 2**32 - 0.5

        for pdf in batches:
            data = {key_col: pdf[key_col], sample_col: pdf[sample_col]}
            for name in ATTRIBUTE_NAMES:
                data[name] = [
                    val(k, s, name) for k, s in zip(pdf[key_col], pdf[sample_col])
                ]
            yield pd.DataFrame(data)

    return samples.select(key_col, sample_col).mapInPandas(recog, out_schema)


def fake_recognizer_sql_avg(samples: DataFrame, key_col: str = "tracklet_key",
                            sample_col: str = "sample_idx") -> DataFrame:
    """Fused recognize+average (A1) for the SQL fake: same values as
    ``wide_avg(fake_recognizer_sql(samples))``, ~2x less plan-compile.

    A 125-column md5 projection generates one huge whole-stage-codegen
    method (~3.5 s of Janino compile, measured); exploding the attribute
    NAMES to rows instead means ONE md5 expression evaluated over 125x
    rows, a (key, name) grouped avg, and a map rebuild back to the wide
    schema. Bit-exact: every fake value is a multiple of 2^-32 with
    magnitude < 0.5, so partial sums are exact in double no matter the
    aggregation order or formulation.

    Scale note: this trades a 125-wide shuffle row for 125 narrow rows
    (~same bytes) plus one extra tiny shuffle on (key); the real-CNN
    pandas provider keeps the wide path — a forward pass emits all 125
    outputs at once, so the explode trick only fits expression-defined
    recognizers.
    """
    names_sql = ", ".join(f"'{n}'" for n in ATTRIBUTE_NAMES)
    exploded = samples.selectExpr(
        key_col, sample_col, f"explode(array({names_sql})) AS _attr"
    )
    per_name = exploded.selectExpr(
        key_col,
        "_attr",
        f"CAST(conv(substring(md5(concat_ws(':', '{SEED}', {key_col}, "
        f"CAST({sample_col} AS STRING), _attr)), 1, 8), 16, 10) AS DOUBLE) "
        f"/ 4294967296.0D - 0.5D AS _v",
    ).groupBy(key_col, "_attr").agg(F.avg("_v").alias("_a"))
    return (
        per_name.groupBy(key_col)
        .agg(F.map_from_entries(F.collect_list(F.struct("_attr", "_a"))).alias("_m"))
        .selectExpr(key_col, *[f"_m['{n}'] AS {n}" for n in ATTRIBUTE_NAMES])
    )


def recognizer_drop_filter(df: DataFrame, key_col: str = "tracklet_key") -> Column:
    """Which tracklets the recognizer never answers for (~10% — the
    fixture's late/missing-attribute simulation)."""
    return _hash_unit([F.lit(str(SEED)), F.lit("attr_drop"), F.col(key_col)]) >= 0.1


def fake_cross_encoder_sql(
    pairs: DataFrame, query_col: str = "query", id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic fake cross-encoder as a pure column expression:
    relevance(query, doc) = md5-unit(seed, 'ce', query, doc) in [0, 1).

    The reranking plug point of the retrieval path — the reference's
    pattern of model-behind-an-interface (PedestrianReIDerWithAttr,
    `FakePedestrianReIDerWithAttr.java:43-49`) applied to the q113
    fused list: a real cross-encoder replaces this function without
    touching the plan around it.
    """
    return pairs.withColumn(
        "ce_score",
        _hash_unit(
            [F.lit(str(SEED)), F.lit("ce"), F.col(query_col),
             F.col(id_col).cast("string")]
        ),
    )


def fake_cross_encoder_pandas(
    pairs: DataFrame, query_col: str = "query", id_col: str = "doc_id"
) -> DataFrame:
    """Same fake cross-encoder through the Arrow-batched model-provider
    shape (iterator-of-batches, worker-local model slot) — the path a
    real ONNX/torch cross-encoder takes; parity-tested against the SQL
    fake so swapping execution paths can never change results.
    """
    import hashlib

    from las_vpe_platform_spark.session import ensure_package_on_workers

    ensure_package_on_workers(pairs.sparkSession)
    cols = pairs.columns
    out_schema = ", ".join(
        [f"`{c}` {pairs.schema[c].dataType.simpleString()}" for c in cols]
        + ["ce_score double"]
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # worker-local model would be loaded once here (Singleton
        # parity: util/Singleton.java:33-96)
        def val(q: str, d) -> float:
            h = hashlib.md5(f"{SEED}:ce:{q}:{d}".encode()).hexdigest()
            return int(h[:8], 16) / 2**32

        for pdf in batches:
            pdf = pdf.copy()
            pdf["ce_score"] = [
                val(q, d) for q, d in zip(pdf[query_col], pdf[id_col])
            ]
            yield pdf

    return pairs.mapInPandas(score, out_schema)

