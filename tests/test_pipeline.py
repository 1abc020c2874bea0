"""Pipeline DSL + command compiler + batch executor tests.

The golden check: running the compiled `track-attrrecog-reid` pipeline
on the videos fixture must reproduce the tracklets/attributes fixture
tables exactly (same seeded fakes, distributed execution) — the
Spark-native equivalent of the reference's golden-output strategy
(SURVEY §5, BasicTrackerTest.java:28-50).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from conftest import outside_cached_plans
from las_vpe_platform_spark import scoped_persists
from las_vpe_platform_spark.fixtures import FIXTURES_DIR
from las_vpe_platform_spark.operators import staging
from las_vpe_platform_spark.plans.pipeline import (
    COMMANDS,
    BatchExecutor,
    compile_command,
)
from las_vpe_platform_spark.schemas import ATTRIBUTE_NAMES


def _fx(spark, name):
    return spark.read.parquet(str(FIXTURES_DIR / f"{name}.parquet"))


def test_compile_all_commands():
    for cmd in COMMANDS:
        plan = compile_command(cmd)
        order = plan.topo_order()
        assert len(order) >= 2
        # every non-root node is reachable from a root
        roots = [n for n in order if not plan.parents_of(n.node_id)]
        assert len(roots) == 1


def test_compile_track_attrrecog_reid_topology():
    plan = compile_command("track-attrrecog-reid")
    streams = {n.stream for n in plan.nodes.values()}
    assert streams == {
        "tracking", "attr_recog", "reid",
        "tracklet_saving", "attr_saving", "idrank_saving",
    }
    tracking = next(n for n in plan.nodes.values() if n.stream == "tracking")
    succ = {plan.nodes[d].stream for d, _ in tracking.out_edges}
    assert succ == {"attr_recog", "reid", "tracklet_saving"}


def test_reid_attributes_derive_from_its_tracklets():
    """The reid stage ranks the ATTRIBUTES keys without joining them
    back to the TRACKLET input. That is an identity only because, in
    every command whose reid node has both ports, the ATTRIBUTES parent
    is an attr_recog node fed by the reid node's own TRACKLET parent."""
    checked = 0
    for cmd in COMMANDS:
        plan = compile_command(cmd)
        for node in plan.nodes.values():
            if node.stream != "reid":
                continue
            edges = plan.parents_of(node.node_id)
            parents = {port: pid for pid, port in edges}
            if not {"TRACKLET", "ATTRIBUTES"} <= parents.keys():
                continue
            assert len(parents) == len(edges), cmd  # one parent per port
            attrs = plan.nodes[parents["ATTRIBUTES"]]
            assert attrs.stream == "attr_recog", cmd
            attr_parents = plan.parents_of(attrs.node_id)
            assert attr_parents == [(parents["TRACKLET"], "TRACKLET")], cmd
            checked += 1
    assert checked == 2  # attrrecog-reid and track-attrrecog-reid


def test_pipeline_track_reproduces_fixture_tracklets(spark, tmp_path):
    videos = _fx(spark, "videos")
    ex = BatchExecutor(spark, output_dir=str(tmp_path))
    out = ex.run(compile_command("track"), videos)
    got = out["tracking"].select(
        "tracklet_key", "num_tracklets", "start_frame_index", "stored_url",
        F.size("location_sequence").alias("n_boxes"),
    ).orderBy("tracklet_key").collect()
    want = _fx(spark, "tracklets").select(
        "tracklet_key", "num_tracklets", "start_frame_index", "stored_url",
        F.size("location_sequence").alias("n_boxes"),
    ).orderBy("tracklet_key").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # sink wrote parquet
    assert (tmp_path / "tracklets").exists()


def test_pipeline_attr_recog_reproduces_fixture_attributes(spark):
    videos = _fx(spark, "videos")
    ex = BatchExecutor(spark)
    out = ex.run(compile_command("track-attrrecog"), videos)
    got = {r["tracklet_key"]: r for r in out["attr_recog"].collect()}
    want = {r["tracklet_key"]: r for r in _fx(spark, "attributes").collect()}
    assert set(got) == set(want)
    some = list(got)[:50]
    for key in some:
        for name in ATTRIBUTE_NAMES[:10]:
            assert math.isclose(got[key][name], want[key][name], abs_tol=1e-9), (
                key, name, got[key][name], want[key][name]
            )


def test_pipeline_reid_ranks(spark):
    videos = _fx(spark, "videos").limit(4)
    features = _fx(spark, "features")
    ex = BatchExecutor(spark, gallery=features)
    # k defaults to 10 and, when given, reaches the reid node
    for params, k in ((None, 10), ({"k": 3}, 3)):
        with scoped_persists():
            out = ex.run(compile_command("track-attrrecog-reid", params), videos)
            ranks = out["reid"].collect()
        assert len(ranks) > 0
        assert max(len(r["id_rank"]) for r in ranks) == k
        for r in ranks:
            assert 1 <= len(r["id_rank"]) <= k
            # rank-1 hit is the probe itself (cosine 1.0 with itself)
            assert r["id_rank"][0] == r["probe_key"]


def test_compile_reid_node_gets_params():
    for cmd in ("reid", "attrrecog-reid", "track-attrrecog-reid"):
        plan = compile_command(cmd, {"k": 3})
        reid = next(n for n in plan.nodes.values() if n.stream == "reid")
        assert reid.exec_data.get("k") == 3, cmd


def _cached_build_plan(df) -> str:
    cached = df.sparkSession._jsparkSession.sharedState().cacheManager().lookupCachedData(df._jdf)
    return cached.get().cachedRepresentation().cacheBuilder().cachedPlan().toString()


def test_pipeline_shared_stages_materialized_once(spark, tmp_path):
    """track-attrrecog-reid: tracking feeds three nodes and attr_recog
    two, so both are persisted and every sink reads the caches instead
    of re-running the tracker and the recognizer; the sinks hold exactly
    the rows of a run without sinks, and the scope releases the caches."""
    videos = _fx(spark, "videos").limit(4)
    features = _fx(spark, "features")
    plan = compile_command("track-attrrecog-reid")
    mark = len(staging._PERSISTED)
    with scoped_persists():
        out = BatchExecutor(spark, output_dir=str(tmp_path), gallery=features).run(plan, videos)
        assert out["tracking"].storageLevel.useDisk
        assert out["attr_recog"].storageLevel.useDisk
        assert not out["reid"].storageLevel.useDisk  # one consumer
        attrs_plan = out["attr_saving"]._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" not in outside_cached_plans(attrs_plan)
        # the recognizer's cache was built from the tracker's cache
        build = outside_cached_plans(_cached_build_plan(out["attr_recog"]))
        assert "InMemoryTableScan" in build and "MapInPandas" not in build
    assert len(staging._PERSISTED) == mark

    with scoped_persists():
        dry = BatchExecutor(spark, gallery=features).run(plan, videos)
        keys = {"tracking": "tracklet_key", "attr_recog": "tracklet_key", "reid": "probe_key"}
        want = {s: dry[s].orderBy(k).collect() for s, k in keys.items()}
    sinks = {"tracking": "tracklets", "attr_recog": "attributes", "reid": "id_ranks"}
    for stream, table in sinks.items():
        rows = spark.read.parquet(str(tmp_path / table)).orderBy(keys[stream]).collect()
        assert len(rows) > 0, table
        assert rows == want[stream], table


def test_pipeline_term_sig_cancellation(spark):
    videos = _fx(spark, "videos")
    kills = _fx(spark, "term_sigs")
    ex = BatchExecutor(spark, term_sigs=kills)
    out = ex.run(compile_command("track"), videos)
    alive_tasks = {r["task_id"] for r in out["tracking"].select("task_id").distinct().collect()}
    killed = {r["task_id"] for r in kills.collect()}
    assert not (alive_tasks & killed)
    assert len(alive_tasks) > 0


def test_recognizer_pandas_matches_sql(spark):
    """The Arrow-batched provider and the JVM-expression provider are
    the same function (Algorithm-provider parity, SURVEY §2.10)."""
    from las_vpe_platform_spark.providers import (
        fake_recognizer_pandas,
        fake_recognizer_sql,
    )

    tracklets = _fx(spark, "tracklets").limit(20)
    samples = (
        tracklets.select(
            "tracklet_key", F.posexplode("location_sequence").alias("sample_idx", "box")
        )
        .filter(F.col("box.patch_data").isNotNull())
        .select("tracklet_key", "sample_idx")
    )
    a = fake_recognizer_sql(samples).orderBy("tracklet_key", "sample_idx").collect()
    b = fake_recognizer_pandas(samples).orderBy("tracklet_key", "sample_idx").collect()
    assert len(a) == len(b) > 0
    for ra, rb in zip(a, b):
        for name in ATTRIBUTE_NAMES[:20]:
            assert math.isclose(ra[name], rb[name], abs_tol=1e-12)


def test_fused_recognizer_avg_matches_unfused(spark):
    """The fused recognize+average provider (explode-names formulation)
    is bit-identical to wide_avg(fake_recognizer_sql(...)): every fake
    value is a multiple of 2^-32, so grouped sums are exact in double
    regardless of formulation."""
    from las_vpe_platform_spark.operators.aggregates import wide_avg
    from las_vpe_platform_spark.providers import (
        fake_recognizer_sql,
        fake_recognizer_sql_avg,
    )

    tracklets = _fx(spark, "tracklets").limit(20)
    samples = (
        tracklets.select(
            "tracklet_key", F.posexplode("location_sequence").alias("sample_idx", "box")
        )
        .filter(F.col("box.patch_data").isNotNull())
        .select("tracklet_key", "sample_idx")
    )
    a = (
        wide_avg(fake_recognizer_sql(samples), ["tracklet_key"], ATTRIBUTE_NAMES)
        .orderBy("tracklet_key")
        .collect()
    )
    b = fake_recognizer_sql_avg(samples).orderBy("tracklet_key").collect()
    assert len(a) == len(b) > 0
    for ra, rb in zip(a, b):
        assert ra["tracklet_key"] == rb["tracklet_key"]
        for name in ATTRIBUTE_NAMES:
            assert ra[name] == rb[name]  # exact, not approx


def test_unknown_command_rejected():
    with pytest.raises(ValueError):
        compile_command("no-such-command")


def test_port_filter_routing(spark):
    """P3: dest_ports array routing (Stream.filter parity)."""
    from las_vpe_platform_spark.operators.routing import port_filter

    rows = [
        ("t1", ["TRACKLET", "ATTR"]),
        ("t2", ["ATTR"]),
        ("t3", []),
        ("t4", ["TRACKLET"]),
    ]
    df = spark.createDataFrame(rows, "task_id string, dest_ports array<string>")
    got = {r["task_id"] for r in port_filter(df, "TRACKLET").collect()}
    assert got == {"t1", "t4"}


def test_fixture_generation_deterministic(tmp_path):
    """Regenerating fixtures yields byte-identical parquet content
    (row-level) — the 'deterministic, seed=42' claim, verified."""
    import pyarrow.parquet as pq

    from las_vpe_platform_spark.fixtures import FIXTURES_DIR, generate_all

    counts = generate_all(tmp_path)
    for name in ("videos", "tracklets", "attributes", "features"):
        fresh = pq.read_table(tmp_path / f"{name}.parquet")
        committed = pq.read_table(FIXTURES_DIR / f"{name}.parquet")
        assert fresh.num_rows == committed.num_rows == counts[name]
        assert fresh.equals(committed), f"{name} regeneration differs"


def test_cross_encoder_provider_parity(spark):
    """The mapInPandas cross-encoder path (what a real ONNX/torch
    model rides) must score bit-identically to the SQL fake — swapping
    execution paths can never change results."""
    from las_vpe_platform_spark.providers import (
        fake_cross_encoder_pandas,
        fake_cross_encoder_sql,
    )

    pairs = spark.createDataFrame(
        [(i, "spark join vector stream") for i in range(40)],
        "doc_id long, query string",
    )
    a = fake_cross_encoder_sql(pairs).orderBy("doc_id").collect()
    b = fake_cross_encoder_pandas(pairs).orderBy("doc_id").collect()
    assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b]
    assert all(abs(x["ce_score"] - y["ce_score"]) == 0.0 for x, y in zip(a, b))
