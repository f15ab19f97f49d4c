"""bench.py environment parsing: bad values fall back before any timing."""

from __future__ import annotations

import bench


def test_env_cpus_falls_back_on_bad_values(monkeypatch, capsys):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert bench.env_cpus() == 32
    for raw in ("abc", "0", "-4", "4.5"):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
        assert bench.env_cpus(default=8) == 8
        assert "ignoring SPARK_GRAFT_CPUS" in capsys.readouterr().err
    monkeypatch.setenv("SPARK_GRAFT_CPUS", " 6 ")
    assert bench.env_cpus() == 6


def test_file_tag_is_a_plain_file_name():
    assert bench.file_tag(8, "0.1") == "c8_sf0.1"
    tag = bench.file_tag(4, "0.1/../../etc x")
    assert "/" not in tag and " " not in tag and tag.startswith("c4_sf0.1")
