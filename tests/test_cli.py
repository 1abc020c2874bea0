"""CLI launcher tests: parser contract + an end-to-end pipeline run
through the same entry a deployer uses."""

from __future__ import annotations

import pytest

from las_vpe_platform_spark.__main__ import build_parser, main
from las_vpe_platform_spark.fixtures import FIXTURES_DIR


def test_parser_vocabulary():
    p = build_parser()
    args = p.parse_args(
        ["run", "track-attrrecog", "--videos", "v.parquet", "--output", "/tmp/o"]
    )
    assert args.command == "track-attrrecog"
    assert args.output == "/tmp/o"
    with pytest.raises(SystemExit):
        p.parse_args(["nope"])
    # one fixed tracker and recognizer: no provider-selection flags
    for flag in ("--tracker", "--recognizer"):
        with pytest.raises(SystemExit):
            p.parse_args(["run", "track", "--videos", "v.parquet", flag, "fake"])


def test_run_unknown_command_exits_2(capsys):
    rc = main(["run", "no-such", "--videos", str(FIXTURES_DIR / "videos.parquet")])
    assert rc == 2
    assert "unknown command" in capsys.readouterr().err


def test_run_track_end_to_end(spark, tmp_path, capsys):
    out = str(tmp_path / "out")
    rc = main(
        ["run", "track", "--videos", str(FIXTURES_DIR / "videos.parquet"), "--output", out]
    )
    assert rc == 0
    assert "tracking:" in capsys.readouterr().out
    written = spark.read.parquet(f"{out}/tracklets")
    fixture = spark.read.parquet(str(FIXTURES_DIR / "tracklets.parquet"))
    assert written.count() == fixture.count()


def test_query_writes_parquet(spark, tmp_path, capsys):
    out = str(tmp_path / "q01")
    rc = main(
        ["query", "q01_pricing_summary", "--sf-dir", "/root/testdata/sf0.001", "--output", out]
    )
    assert rc == 0
    assert spark.read.parquet(out).count() > 0
