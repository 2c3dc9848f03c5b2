"""EngineConfig defaults: the engine sizes itself to the local cores."""

from __future__ import annotations

from edu_online_spark.config import EngineConfig


def test_shuffle_partitions_follow_cpus(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raising=False)
    cfg = EngineConfig()
    assert (cfg.cpus, cfg.shuffle_partitions) == (4, 4)
    assert EngineConfig(cpus=6).shuffle_partitions == 6


def test_shuffle_partitions_override_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "12")
    assert EngineConfig().shuffle_partitions == 12
    assert EngineConfig(shuffle_partitions=3).shuffle_partitions == 3
