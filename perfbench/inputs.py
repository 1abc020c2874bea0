"""Seeded inputs and NumPy/hashlib oracles for the perfbench workloads.

Every input is a pure function of the ``--seed`` argument: video
catalogs (the engine's fake tracker is a pure function of ``video_id``,
so seeded ids give seeded tracklets), 1024-d feature galleries, lookup
parameters and arrival schedules. The oracles recompute the engine's
fake recognizer and the ranking from first principles, independently of
the engine's code paths.
"""

from __future__ import annotations

import hashlib
import zlib
from datetime import datetime, timedelta
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from las_vpe_platform_spark.fixtures import SEED as ENGINE_SEED
from las_vpe_platform_spark.fixtures import FEATURE_DIM, fake_track_video
from las_vpe_platform_spark.schemas import ATTRIBUTE_NAMES

CAMERAS = tuple(f"CAM{i:02d}" for i in range(1, 9))
RANK_K = 10  # the reid stage's default top-k


def rng_for(seed: int, tag: str) -> np.random.Generator:
    return np.random.default_rng([seed, zlib.crc32(tag.encode())])


def make_videos(seed: int, n: int, spacing_s: int = 75) -> list[dict]:
    """``n`` distinct videos: starts strictly increase by at least
    ``spacing_s - 60`` seconds, so every (camera, start) id is unique."""
    rng = rng_for(seed, "videos")
    base = datetime(2016, 1, 1) + timedelta(days=int(rng.integers(0, 3000)))
    rows = []
    for i in range(n):
        cam = CAMERAS[int(rng.integers(0, len(CAMERAS)))]
        start = base + timedelta(seconds=i * spacing_s + int(rng.integers(0, 60)))
        dur = int(rng.integers(300, 601))
        end = start + timedelta(seconds=dur)
        vid = f"{cam}_{start:%Y%m%d%H%M%S}-{end:%Y%m%d%H%M%S}"
        rows.append({
            "video_id": vid, "camera_id": cam,
            "url": f"hdfs://videos/{cam}/{start:%Y%m%d}/{vid}.h264",
            "start_ts": start, "duration_s": dur, "width": 1920, "height": 1080,
            "fps_num": 25, "fps_den": 2,
        })
    return rows


VIDEO_SCHEMA = pa.schema([
    ("video_id", pa.string()), ("camera_id", pa.string()), ("url", pa.string()),
    ("start_ts", pa.timestamp("us")), ("duration_s", pa.int64()),
    ("width", pa.int64()), ("height", pa.int64()),
    ("fps_num", pa.int64()), ("fps_den", pa.int64()),
])


def videos_table(rows: list[dict]) -> pa.Table:
    return pa.Table.from_pylist(rows, schema=VIDEO_SCHEMA)


def track(videos: list[dict]) -> dict[str, list[dict]]:
    """video_id -> the fake tracker's tracklet rows (the engine's own
    pure function, evaluated in this process)."""
    return {v["video_id"]: fake_track_video(v["video_id"], v["start_ts"]) for v in videos}


def _unit(*parts) -> float:
    """First 8 md5 hex digits of the ':'-joined parts / 2^32, in [0, 1)."""
    h = hashlib.md5(":".join(str(p) for p in parts).encode()).hexdigest()
    return int(h[:8], 16) / 2**32


def recognized(key: str) -> bool:
    """The recognizer answers for ~90% of tracklets (its drop rule)."""
    return _unit(ENGINE_SEED, "attr_drop", key) >= 0.1


def attribute_vector(tracklet: dict) -> np.ndarray:
    """A1 mean over the patch-bearing samples of the fake recognizer's
    per-sample values, in ATTRIBUTE_NAMES order."""
    key = tracklet["tracklet_key"]
    idx = [i for i, b in enumerate(tracklet["location_sequence"]) if b["patch_data"] is not None]
    vals = [[_unit(ENGINE_SEED, key, s, name) - 0.5 for name in ATTRIBUTE_NAMES] for s in idx]
    return np.mean(np.asarray(vals, dtype=np.float64), axis=0)


class Gallery:
    """Seeded unit-norm float32 features for ``keys`` plus distractors up
    to ``size`` rows, written as ``n_files`` parquet files under
    ``<dir>/<name>.parquet/``."""

    def __init__(self, seed: int, keys: list[str], size: int) -> None:
        n_extra = max(0, size - len(keys))
        self.keys = np.asarray(
            list(keys) + [f"distractor-{seed}-{i:06d}" for i in range(n_extra)], dtype=object
        )
        rng = rng_for(seed, "gallery")
        feats = rng.standard_normal((len(self.keys), FEATURE_DIM)).astype(np.float32)
        feats /= np.linalg.norm(feats, axis=1, keepdims=True)
        self.features = feats
        self._f64 = feats.astype(np.float64)
        self._norm = np.sqrt((self._f64 * self._f64).sum(axis=1))
        self._row = {k: i for i, k in enumerate(self.keys)}

    def write(self, path: Path, n_files: int) -> None:
        path.mkdir(parents=True, exist_ok=True)
        n = len(self.keys)
        for f in range(n_files):
            lo, hi = f * n // n_files, (f + 1) * n // n_files
            flat = pa.array(self.features[lo:hi].ravel())
            vecs = pa.FixedSizeListArray.from_arrays(flat, FEATURE_DIM).cast(pa.list_(pa.float32()))
            pq.write_table(
                pa.table({"tracklet_key": pa.array(self.keys[lo:hi], pa.string()), "feature": vecs}),
                path / f"part-{f:03d}.parquet",
            )

    def topk(self, probe_key: str, k: int = RANK_K) -> list[str]:
        """Brute-force float64 cosine top-k of a gallery member against
        the whole gallery: similarity DESC, then gallery key ASC."""
        p = self._f64[self._row[probe_key]]
        sims = (self._f64 @ p) / (self._norm * np.sqrt(p @ p))
        order = np.lexsort((self.keys, -sims))
        return [str(self.keys[i]) for i in order[:k]]


def write_table(rows_or_table, path: Path) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(rows_or_table, path)


def read_dir(path: Path, columns: list[str] | None = None) -> pa.Table:
    """Read every parquet file under ``path`` (a Spark output directory)."""
    files = sorted(p for p in path.rglob("*.parquet") if not p.name.startswith((".", "_")))
    if not files:
        return pa.table({c: pa.array([], pa.string()) for c in (columns or [])})
    return pa.concat_tables(
        [pq.read_table(f, columns=columns) for f in files], promote_options="default"
    )
