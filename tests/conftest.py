from __future__ import annotations

import os

import pytest

from nbi_oedi_etl_v2_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="nbi-oedi-etl-v2-spark-tests",
                      extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def sf_dir_oracle() -> str:
    return SF_DIR_ORACLE


@pytest.fixture
def graph_rounds(monkeypatch):
    """One ``(n, plan)`` per ``graph.checkpoint`` call, in call order:
    the state's row count as the checkpoint job observed it, and the
    executed plan of the state before the checkpoint erased it. Every
    round of the graph loops ends in that step."""
    from nbi_oedi_etl_v2_spark.operators import graph

    rounds: list[tuple[int, str]] = []
    real = graph.checkpoint

    def spy(df, *metrics):
        plan = df._jdf.queryExecution().executedPlan().toString()
        out, m = real(df, *metrics)
        rounds.append((m["n"], plan))
        return out, m

    monkeypatch.setattr(graph, "checkpoint", spy)
    return rounds
