"""``$SPARK_GRAFT_CPUS`` is read through one helper, shared by the
session factory's ``local[...]`` master and the bench's per-core-count
artifact tag."""

from __future__ import annotations

import os

import pytest

from trx_spark.session import local_cpus


@pytest.mark.parametrize("raw, expected", [("6", 6), (" 2 ", 2), ("1", 1)])
def test_local_cpus_reads_positive_integers(monkeypatch, raw, expected):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    assert local_cpus() == expected


def test_local_cpus_default_when_unset(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert local_cpus() == 32


@pytest.mark.parametrize("raw", ["four", "", "0", "-2", "2.5", "*"])
def test_local_cpus_falls_back_to_host_cores(monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    with pytest.warns(UserWarning, match="SPARK_GRAFT_CPUS"):
        assert local_cpus() == (os.cpu_count() or 1)


def test_session_master_uses_the_helper(spark):
    assert spark.sparkContext.master == f"local[{local_cpus()}]"
