"""Pin the engine's compile-mode defaults: checkpoint cuts and codegen.

The interleaved full-loop A/B (BENCH/ab_r4_ckpt.json: AQE-compiled won 4/4
pairs, median B/A = 0.80) fixed the default at AQE-compiled lazy
localCheckpoints, so the default cut must NOT touch the session's AQE conf.
exec_mode() plans waves with wave_budget <= INTERPRETED_MAX_WAVE_BUDGET in
interpreted mode and must restore the session's codegen confs on exit.
"""

import pytest

from crawlspark import synth
from crawlspark.engine import INTERPRETED_MAX_WAVE_BUDGET, CrawlConfig, CrawlEngine


def _engine(spark, world, wave_budget):
    return CrawlEngine(
        spark,
        pages=synth.pages_df(spark, world),
        robots=synth.robots_df(spark, world),
        budgets=synth.politeness_df(spark, world),
        images=None,
        config=CrawlConfig(validate_images=False, wave_budget=wave_budget),
    )


@pytest.fixture(scope="module")
def world():
    return synth.make_world(n_hosts=4, total_pages=60)


def test_default_materialize_keeps_aqe_untouched(spark, world):
    eng = _engine(spark, world, wave_budget=30)
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    df = synth.seeds_df(spark, world)
    cut = eng._materialize(df, "pending", 0)
    assert spark.conf.get("spark.sql.adaptive.enabled") == prev
    assert cut.count() == df.count()


@pytest.mark.parametrize(
    "wave_budget, interpreted",
    [(INTERPRETED_MAX_WAVE_BUDGET, True), (INTERPRETED_MAX_WAVE_BUDGET + 1, False)],
)
def test_exec_mode_crossover_sets_and_restores_codegen(spark, world, wave_budget, interpreted):
    assert INTERPRETED_MAX_WAVE_BUDGET == 200_000
    conf = spark.conf
    prev_ws = conf.get("spark.sql.codegen.wholeStage")
    prev_fm = conf.get("spark.sql.codegen.factoryMode")
    eng = _engine(spark, world, wave_budget)
    with eng.exec_mode():
        if interpreted:
            assert conf.get("spark.sql.codegen.wholeStage") == "false"
            assert conf.get("spark.sql.codegen.factoryMode") == "NO_CODEGEN"
        else:
            assert conf.get("spark.sql.codegen.wholeStage") == prev_ws
            assert conf.get("spark.sql.codegen.factoryMode") == prev_fm
    assert conf.get("spark.sql.codegen.wholeStage") == prev_ws
    assert conf.get("spark.sql.codegen.factoryMode") == prev_fm
