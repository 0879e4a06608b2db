from __future__ import annotations

import pytest

from crocodile_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="croco-spark-tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def corpus():
    from crocodile_spark.datagen import make_corpus

    return make_corpus(n_entities=40, pages_per_entity=6, seed=42)


@pytest.fixture(scope="session")
def corpus_dfs(spark, corpus):
    from crocodile_spark.datagen import corpus_to_spark

    wp, kb, gold = corpus_to_spark(spark, corpus)
    return wp.cache(), kb.cache(), gold.cache()


@pytest.fixture
def cc_both_paths(monkeypatch):
    """Run a connected-components check in both regimes: ``check()`` runs
    once as is (small graphs take the driver finish), then again with the
    driver byte budget below any graph, which forces the star loop. Each
    run must take its regime and both must return the same result."""
    from crocodile_spark.operators import clustering

    loops = []
    real_loop = clustering._cc_loop

    def spy_loop(*args, **kwargs):
        loops.append(1)
        return real_loop(*args, **kwargs)

    def run(check):
        monkeypatch.setattr(clustering, "_cc_loop", spy_loop)
        loops.clear()
        driver = check()
        assert not loops, "small graph did not take the driver finish"
        with monkeypatch.context() as m:
            m.setattr(clustering, "CC_DRIVER_MAX_BYTES", -1)
            star = check()
        assert loops, "forced star loop did not run"
        assert driver == star
        return driver

    return run
