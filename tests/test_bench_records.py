"""bench.py record hygiene: a run never overwrites a record made with a
different core count or fixture dir, and every record names its lane."""

from __future__ import annotations

import json

import bench


def test_record_clash_only_on_other_cpus_or_sf_dir(tmp_path):
    path = tmp_path / "BENCH_FULL_r13.json"
    assert bench._record_clash(str(path), 8, "/data/sf0.1") is None
    path.write_text(json.dumps({"cpus": 8, "sf_dir": "/data/sf0.1"}))
    assert bench._record_clash(str(path), 8, "/data/sf0.1") is None
    assert "cpus=8" in bench._record_clash(str(path), 4, "/data/sf0.1")
    assert "sf_dir=" in bench._record_clash(str(path), 8, "/data/sf0.1-split")
    path.write_text("{truncated")
    assert "unparsable" in bench._record_clash(str(path), 8, "/data/sf0.1")


def test_lane_is_raw_only_when_every_table_is_one_file(tmp_path):
    from arc_cassandra_pipeline_plugin_spark.sources import TABLES

    for t in TABLES:
        (tmp_path / f"{t}.parquet").write_bytes(b"")
    assert bench._lane(str(tmp_path)) == "raw"
    (tmp_path / "lineitem.parquet").unlink()
    (tmp_path / "lineitem.parquet").mkdir()
    assert bench._lane(str(tmp_path)) == "split"
