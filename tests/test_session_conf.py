"""SPARK_GRAFT_EXTRA_CONF env override (round 5).

Fresh-JVM subprocesses (a spark-submit job, a benchmark level run in
its own process) and real deployments both need to override arbitrary
Spark confs without code changes; ``get_spark(extra_conf=...)`` cannot
reach a subprocess. The env var carries a JSON dict; explicit
``extra_conf`` still wins over it.

Captures the builder's config map without starting a JVM.
"""

from __future__ import annotations

import json

import pytest

from clinvar_ingest_spark import session as sess_mod


class _CaptureBuilder:
    def __init__(self):
        self.confs = {}

    def master(self, m):
        self.confs["__master__"] = m
        return self

    def appName(self, n):
        return self

    def config(self, k, v):
        self.confs[k] = v
        return self

    def getOrCreate(self):
        raise _Stop(self.confs)


class _Stop(Exception):
    def __init__(self, confs):
        self.confs = confs


def _captured_confs(monkeypatch, env_conf=None, extra_conf=None):
    cap = _CaptureBuilder()
    monkeypatch.setattr(sess_mod.SparkSession, "builder", cap)
    if env_conf is None:
        monkeypatch.delenv("SPARK_GRAFT_EXTRA_CONF", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONF", json.dumps(env_conf))
    with pytest.raises(_Stop) as ei:
        sess_mod.get_spark(master="local[1]", extra_conf=extra_conf)
    return ei.value.confs


def test_env_conf_applied(monkeypatch):
    confs = _captured_confs(
        monkeypatch,
        env_conf={"spark.sql.adaptive.coalescePartitions.enabled": "false"},
    )
    assert confs["spark.sql.adaptive.coalescePartitions.enabled"] == "false"


def test_env_conf_values_coerced_to_str(monkeypatch):
    confs = _captured_confs(monkeypatch, env_conf={"spark.foo.bar": 128})
    assert confs["spark.foo.bar"] == "128"


def test_explicit_extra_conf_wins_over_env(monkeypatch):
    confs = _captured_confs(
        monkeypatch,
        env_conf={"spark.sql.shuffle.partitions": "999"},
        extra_conf={"spark.sql.shuffle.partitions": "7"},
    )
    assert confs["spark.sql.shuffle.partitions"] == "7"


def test_no_env_no_crash(monkeypatch):
    confs = _captured_confs(monkeypatch)
    assert confs["__master__"] == "local[1]"


LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def test_table_reads_list_on_the_driver(monkeypatch):
    """Table reads name manifest-known files; statting them must not
    launch a parallel listing job, however many a read names."""
    confs = _captured_confs(monkeypatch)
    assert confs[LISTING_THRESHOLD] == "100000"


def test_env_conf_overrides_listing_threshold(monkeypatch):
    confs = _captured_confs(monkeypatch, env_conf={LISTING_THRESHOLD: 32})
    assert confs[LISTING_THRESHOLD] == "32"
