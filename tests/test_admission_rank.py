"""Every public distributed rank equals its plain single-window twin.

`frontier._offset_rank` (rank within a partition + prefix-summed partition
offsets) is the one algorithm behind with_inspark_rank,
with_inspark_rank_bucketed, ranked_within and datapipe.sampling.scan_cumsum.
A window over the whole frame is trivially correct on small data, so each
entry point must agree with it row for row."""

import random

from pyspark.sql import Window
from pyspark.sql import functions as F

from crawlspark import frontier
from crawlspark.datapipe.sampling import scan_cumsum

N_PARTS = 8


def test_inspark_rank_matches_global_rank_on_unique_key(spark):
    rows = [(i, f"u{i % 7}") for i in (5, 3, 11, 0, 8, 2, 9, 1, 7, 4, 10, 6)]
    df = spark.createDataFrame(rows, "seed_order long, payload string")

    ranked_lazy = frontier.with_inspark_rank(df, ("seed_order",), "rank")
    reference = df.withColumn(
        "rank", F.row_number().over(Window.orderBy("seed_order"))
    )

    got = {(r["seed_order"], r["rank"]) for r in ranked_lazy.collect()}
    want = {(r["seed_order"], r["rank"]) for r in reference.collect()}
    assert got == want
    # rank is dense 1..N in seed_order order
    by_order = sorted(got)
    assert [r for _, r in by_order] == list(range(1, len(rows) + 1))


def _frontier_like(spark, n=500):
    """~500 rows, 3 priorities, heavily duplicated ts; `id` breaks ts ties
    and `seq` is a unique shuffled FIFO position."""
    rnd = random.Random(7)
    seqs = list(range(1000, 1000 + n))
    rnd.shuffle(seqs)
    rows = [(i, rnd.randrange(3), rnd.randrange(40), seqs[i]) for i in range(n)]
    rnd.shuffle(rows)
    return spark.createDataFrame(rows, "id long, priority int, ts long, seq long")


def _pairs(df, key, col):
    return {(r[key], r[col]) for r in df.select(key, col).collect()}


def test_each_rank_entry_point_matches_its_plain_window(spark):
    df = _frontier_like(spark)
    n = df.count()

    # with_inspark_rank: global row_number over a composite order
    order = ("priority", "ts", "id")
    got = _pairs(frontier.with_inspark_rank(df, order, "r", N_PARTS), "id", "r")
    want = _pairs(df.withColumn("r", F.row_number().over(Window.orderBy(*order))), "id", "r")
    assert got == want and len(got) == n

    # with_inspark_rank_bucketed: a clamped linear map of seq whose low
    # watermark sits above the smallest seqs, so those stragglers crowd
    # into bucket 0 (the engine's shape) — order must still be exact
    lo, span = 1150, 300
    bucket = F.greatest(
        F.least(
            ((F.col("seq") - F.lit(lo)) * F.lit(N_PARTS) / F.lit(span)).cast("int"),
            F.lit(N_PARTS - 1),
        ),
        F.lit(0),
    )
    assert df.filter(F.col("seq") < lo).count() > 0
    got = _pairs(
        frontier.with_inspark_rank_bucketed(df, bucket, "r", N_PARTS), "id", "r"
    )
    want = _pairs(
        df.withColumn("r", F.row_number().over(Window.orderBy(*frontier.ORDER_COLS))),
        "id", "r",
    )
    assert got == want and len(got) == n

    # ranked_within: row_number inside each priority
    got = _pairs(
        frontier.ranked_within(df, ["priority"], ["ts", "id"], "r", N_PARTS), "id", "r"
    )
    w = Window.partitionBy("priority").orderBy("ts", "id")
    want = _pairs(df.withColumn("r", F.row_number().over(w)), "id", "r")
    assert got == want and len(got) == n

    # scan_cumsum: inclusive running sum of the duplicated ts values
    got = _pairs(scan_cumsum(df, "id", "ts", "cum", N_PARTS), "id", "cum")
    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want = _pairs(df.withColumn("cum", F.sum("ts").over(w)), "id", "cum")
    assert got == want and len(got) == n


def test_bucketed_rank_plan_has_one_pid_exchange(spark):
    """The docstring's "ONE explicit hash exchange": the frame the rank
    shares (window included) is one hashpartitioning(_pid) exchange over the
    input scan — no range sampling, no second exchange for the window."""
    df = _frontier_like(spark)
    bucket = (F.col("seq") % F.lit(N_PARTS)).cast("int")
    cut = []
    frontier.with_inspark_rank_bucketed(
        df, bucket, "r", N_PARTS, materialize=lambda d: cut.append(d) or d
    )
    plan = cut[0]._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Exchange hashpartitioning(_pid") == 1, plan


def test_seed_admission_persists_nothing(spark, monkeypatch):
    """The seed rank shares its frame through the engine's RDD-leaf cut, as
    every wave's rank does, so admission leaves no persisted frame behind
    for the session's lifetime."""
    from crawlspark import synth
    from crawlspark.engine import CrawlConfig, CrawlEngine

    world = synth.make_world(n_hosts=4, total_pages=80)
    eng = CrawlEngine(
        spark,
        pages=synth.pages_df(spark, world),
        robots=synth.robots_df(spark, world),
        budgets=synth.politeness_df(spark, world),
        config=CrawlConfig(validate_images=False),
    )
    # the session's concrete DataFrame class (pyspark.sql.DataFrame is only
    # its interface, whose persist the concrete class overrides)
    df_cls = type(spark.range(1))
    calls = []
    real_persist = df_cls.persist

    def recording_persist(self, *args, **kwargs):
        calls.append(self)
        return real_persist(self, *args, **kwargs)

    monkeypatch.setattr(df_cls, "persist", recording_persist)
    pending, _seen, _blocked = eng._admit_seeds(synth.seeds_df(spark, world))
    seqs = sorted(r["seq"] for r in pending.select("seq").collect())
    assert calls == []
    assert seqs == list(range(len(seqs))) and seqs
