from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import SparkSession

from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.session import (
    get_spark,
)

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    s = get_spark("shflow-tests", cpus=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


@pytest.fixture
def setsim_handoff(monkeypatch):
    """Move the exact→LSH handoff of choose_set_similarity_path — the
    one decision point of the set-similarity and tf-cosine routers —
    to ``(budget, min_keys)`` by patching the module constants it
    reads. Returns the list of verdicts handed out afterwards, so a
    test can prove the router it forced consulted it."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators import (
        similarity,
    )

    real = similarity.choose_set_similarity_path

    def move(budget: int, min_keys: int) -> list[str]:
        verdicts: list[str] = []
        monkeypatch.setattr(similarity, "PAIRS_PER_KEY_BUDGET", budget)
        monkeypatch.setattr(similarity, "MIN_LSH_KEYS", min_keys)

        def choose(stats):
            verdicts.append(real(stats))
            return verdicts[-1]

        monkeypatch.setattr(similarity, "choose_set_similarity_path", choose)
        return verdicts

    return move


@pytest.fixture
def exact_route(monkeypatch):
    """Force choose_exact_path — the exact join's single-join vs
    prefix decision — to ``route``. Returns the list of the stats
    dicts it was consulted with, so a test can prove the join it
    forced asked."""
    from analyzing_the_characteristics_of_shanghai_s_pedestrian_flow_based_on_mobile_big_data_spark.operators import (
        similarity,
    )

    def force(route: str) -> list[dict]:
        asked: list[dict] = []

        def choose(stats):
            asked.append(stats)
            return route

        monkeypatch.setattr(similarity, "choose_exact_path", choose)
        return asked

    return force
