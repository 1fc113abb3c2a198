"""Streaming end-to-end composition (SURVEY.md §7.6, VERDICT r2 item 7):

    dedup_stream → robots gate → politeness_stream_windowed → fetch-sim

as ONE availableNow pipeline (one parquet file per wave, micro-batch ==
wave), pinned against the batch operators computing the identical admission
over the same two-wave candidate feed from the same synthetic world:

  * wave-1 candidates = the world's seeds;
  * wave-2 candidates = children exploded from wave-1's fetched pages
    (so the fetch join participates in producing the feed, not just
    decorating it);
  * seen-set semantics: first occurrence EVER wins (cross-batch stateful
    dropDuplicates == cumulative batch anti-join);
  * politeness: per-host budget that RESETS each wave (the engine's
    max_per_wave), exercised by the hot host exceeding its budget.

Scope note (documented divergence): politeness-deferred rows are dropped,
not re-queued — re-feeding deferred rows is the BSP loop's job; this test
pins the admission semantics of the three composed streaming operators.
"""

import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from crawlspark import fetch as FT
from crawlspark import politeness, synth, urlnorm
from crawlspark.streaming import dedup_stream, politeness_stream_windowed

CAND_COLS = [
    "job_id", "url_canon", "url_hash", "cache_key", "host",
    "priority", "seq", "wave", "retry_count", "accept_lo", "accept_hi",
    "timeout_us", "max_retries",
]
CAND_SCHEMA = (
    "job_id string, url_canon string, url_hash bigint, cache_key string, "
    "host string, priority int, seq bigint, wave int, retry_count int, "
    "accept_lo int, accept_hi int, timeout_us bigint, max_retries int"
)
HOST_BUDGET = 3  # tight so the hot host's backlog actually exceeds it


def _dedup_within_wave(df):
    # deterministic within-wave first occurrence (by seq) so the streaming
    # dropDuplicates' within-batch pick cannot differ from the batch twin
    w = Window.partitionBy("cache_key").orderBy("seq")
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def _wave1_candidates(spark, world):
    seeds = urlnorm.with_url_columns(synth.seeds_df(spark, world))
    c = (
        seeds.select(
            "job_id", "url_canon", "url_hash", "cache_key", "host",
            F.col("priority").cast("int").alias("priority"),
            F.col("seed_order").cast("bigint").alias("seq"),
            F.lit(1).cast("int").alias("wave"),
            F.lit(0).cast("int").alias("retry_count"),
            F.lit(200).cast("int").alias("accept_lo"),
            F.lit(299).cast("int").alias("accept_hi"),
            F.lit(None).cast("bigint").alias("timeout_us"),
            F.lit(2).cast("int").alias("max_retries"),
        )
    )
    return _dedup_within_wave(c)


def _batch_admit(cands, seen, budgets_df):
    """The batch twin of dedup_stream → robots gate → per-host budget."""
    fresh = cands.join(seen, "cache_key", "left_anti")
    allowed, _blocked = politeness.robots_gate(fresh, budgets_df.robots)
    return politeness.per_host_topk(allowed, budgets_df.budgets, HOST_BUDGET)


def _children_of(done, wave):
    w_rank = Window.orderBy("priority", "seq")
    parents = (
        done.withColumn("parent_rank", F.row_number().over(w_rank))
        .filter(F.col("out_links").isNotNull() & (F.size("out_links") > 0))
        .select(
            F.col("job_id").alias("parent_id"), "parent_rank",
            "priority", F.posexplode("out_links").alias("link_pos", "url"),
        )
    )
    cand = urlnorm.with_url_columns(
        parents.withColumn("url_params", F.lit(None).cast("map<string,string>"))
        .withColumn("method", F.lit("GET"))
        .withColumn("body", F.lit(None).cast("binary"))
    )
    w_seq = Window.orderBy("parent_rank", "link_pos")
    c = cand.select(
        F.substring(
            F.md5(F.concat_ws("|", "parent_id", "link_pos", "url_canon")), 1, 16
        ).alias("job_id"),
        "url_canon", "url_hash", "cache_key", "host",
        F.col("priority").cast("int").alias("priority"),
        (F.row_number().over(w_seq) + 1000).cast("bigint").alias("seq"),
        F.lit(wave).cast("int").alias("wave"),
        F.lit(0).cast("int").alias("retry_count"),
        F.lit(200).cast("int").alias("accept_lo"),
        F.lit(299).cast("int").alias("accept_hi"),
        F.lit(None).cast("bigint").alias("timeout_us"),
        F.lit(2).cast("int").alias("max_retries"),
    )
    return _dedup_within_wave(c)


class _World:
    pass


@pytest.fixture(scope="module")
def pipeline_world(spark):
    w = _World()
    world = synth.make_world(n_hosts=4, total_pages=60)
    w.robots = synth.robots_df(spark, world).persist()
    w.budgets = (
        synth.politeness_df(spark, world)
        .withColumn("max_per_wave", F.lit(HOST_BUDGET))  # uniform == stream budget
        .persist()
    )
    w.pages = FT.resolve_redirects(synth.pages_df(spark, world)).persist()
    w.world = world
    return w


def _fetch_cols(df):
    return df.select(
        "wave", "job_id", "url_canon", "host", "priority",
        F.col("status").cast("int").alias("status"),
    )


def test_streaming_pipeline_matches_batch_admission(spark, pipeline_world, tmp_path):
    pw = pipeline_world

    # ---- batch twin: two waves of admission + fetch ----------------------
    c1 = _wave1_candidates(spark, pw.world).persist()
    adm1 = _batch_admit(c1, spark.createDataFrame([], "cache_key string"), pw).persist()
    f1 = FT.fetch_simulate(adm1, pw.pages).persist()
    seen1 = c1.select("cache_key")  # every candidate becomes seen, admitted or not

    c2 = _children_of(f1.filter(F.col("ok")), wave=2).persist()
    adm2 = _batch_admit(c2, seen1, pw).persist()
    f2 = FT.fetch_simulate(adm2, pw.pages)

    expected = sorted(
        map(tuple, _fetch_cols(f1).unionByName(_fetch_cols(f2)).collect())
    )
    assert len(expected) > 0
    # the tight budget must actually bite somewhere, or this test is trivial
    n_c1, n_adm1 = c1.count(), adm1.count()
    n_c2, n_adm2 = c2.count(), adm2.count()
    assert n_adm2 < n_c2, "politeness/dedup never gated wave 2"

    # ---- streaming: one file per wave, micro-batch == wave ---------------
    src = str(tmp_path / "cands")
    os.makedirs(src)
    c1.select(*CAND_COLS).coalesce(1).write.parquet(os.path.join(src, "w1"))
    c2.select(*CAND_COLS).coalesce(1).write.parquet(os.path.join(src, "w2"))

    stream = (
        spark.readStream.schema(CAND_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "*"))
    )
    dd = dedup_stream(stream, keys=("cache_key",))
    gated = politeness.with_robots_flag(dd, pw.robots).filter(~F.col("_blocked")).drop("_blocked")
    adm = politeness_stream_windowed(gated, HOST_BUDGET, window_col="wave")
    fetched = FT.fetch_simulate(adm.filter(F.col("admitted")).drop("admitted"), pw.pages)

    q = (
        _fetch_cols(fetched)
        .writeStream.format("memory")
        .queryName("stream_admitted")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination(300)

    got = sorted(map(tuple, spark.sql("SELECT * FROM stream_admitted").collect()))
    assert got == expected, (
        f"streaming admission diverged: {len(got)} vs {len(expected)} rows\n"
        f" stream-only={[r for r in got if r not in expected][:5]}\n"
        f" batch-only={[r for r in expected if r not in got][:5]}"
    )
    # per-wave split also identical (micro-batch boundaries == waves)
    got_w1 = [r for r in got if r[0] == 1]
    assert len(got_w1) == n_adm1


def test_windowed_budget_resets_per_wave(spark, tmp_path):
    # one host, budget 2, three jobs per wave: waves must each admit 2
    # (reset), not 2-then-0 (the cumulative politeness_stream semantics)
    rows = [
        (f"j{w}{i}", f"http://a.test/{w}/{i}", i, f"k{w}{i}", "a.test", 0, i, w, 0, 200, 299, None, 2)
        for w in (1, 2)
        for i in range(3)
    ]
    cols = [
        "job_id", "url_canon", "url_hash", "cache_key", "host",
        "priority", "seq", "wave", "retry_count", "accept_lo", "accept_hi",
        "timeout_us", "max_retries",
    ]
    df = spark.createDataFrame([dict(zip(cols, r)) for r in rows], CAND_SCHEMA)
    src = str(tmp_path / "src")
    os.makedirs(src)
    for w in (1, 2):
        df.filter(F.col("wave") == w).coalesce(1).write.parquet(os.path.join(src, f"w{w}"))
    stream = (
        spark.readStream.schema(CAND_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "*"))
    )
    adm = politeness_stream_windowed(stream, 2, window_col="wave")
    q = (
        adm.writeStream.format("memory").queryName("t_window_reset")
        .outputMode("append").trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck2")).start()
    )
    q.awaitTermination(300)
    out = spark.sql(
        "SELECT wave, count(*) FILTER (WHERE admitted) AS n FROM t_window_reset GROUP BY wave"
    ).collect()
    assert {r["wave"]: r["n"] for r in out} == {1: 2, 2: 2}


# ---------------------------------------------------------------------------
# Late data / watermark semantics (round 4): the 10^10-key streaming seen-set
# is only bounded because the watermark evicts state past the late-data
# horizon — pin BOTH sides of that trade: duplicates inside the horizon are
# dropped, keys re-arriving after eviction are re-admitted (at-most-once-per-
# horizon, the reference's LRU-response-cache trade), and rows older than the
# watermark are discarded as late.
# ---------------------------------------------------------------------------

def _write_batches(spark, src, schema, batches):
    """One parquet file per micro-batch, mtimes strictly increasing so the
    file source (maxFilesPerTrigger=1) triggers them in order."""
    os.makedirs(src, exist_ok=True)
    t0 = 1_700_000_000
    for i, rows in enumerate(batches):
        d = os.path.join(src, f"b{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(d)
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (t0 + i * 10, t0 + i * 10))


def test_dedup_stream_watermark_horizon(spark, tmp_path):
    from crawlspark.streaming import dedup_stream

    from datetime import datetime

    schema = "cache_key string, ts timestamp"
    ts = lambda m: datetime(2024, 1, 1, 10, m, 0)  # noqa: E731
    # Watermark timing (pinned by the probe run this test was built from):
    # wm(batch N) = max event time through batch N-1, minus delay; state
    # eviction runs at batch COMMIT with that wm — so a key re-arriving in
    # the same batch whose wm passed its expiry still hits live state and
    # dedups; re-admission is only guaranteed one batch later.
    _write_batches(
        spark, str(tmp_path / "src"), schema,
        [
            # b0: first occurrences — both emitted (wm for b1 -> 09:50)
            [("A", ts(0)), ("B", ts(0))],
            # b1: A inside the 10-min horizon -> deduped; C new -> emitted;
            # max ts 10:30 -> wm for b2 = 10:20
            [("A", ts(5)), ("C", ts(30))],
            # b2 (wm 10:20): B@10:05 older than wm -> dropped late; D new ->
            # emitted; commit evicts A/B state (expired 10:10 < 10:20)
            [("B", ts(5)), ("D", ts(40))],
            # b3: A after eviction -> re-emitted (at-most-once-per-horizon,
            # the LRU-cache trade)
            [("A", ts(45))],
        ],
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "src" / "*"))
    )
    out = dedup_stream(stream, keys=("cache_key",), ts_col="ts", delay="10 minutes")
    q = (
        out.writeStream.format("memory").queryName("t_wm_dedup")
        .outputMode("append").trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck")).start()
    )
    q.awaitTermination(300)
    got = sorted(
        (r["cache_key"], r["ts"].minute)
        for r in spark.sql("SELECT * FROM t_wm_dedup").collect()
    )
    assert got == [("A", 0), ("A", 45), ("B", 0), ("C", 30), ("D", 40)]


def test_admission_rate_watermark_closes_windows(spark, tmp_path):
    from crawlspark.streaming import admission_rate_stream

    from datetime import datetime

    schema = "host string, seq long, ts timestamp"
    t = lambda m, s=0: datetime(2024, 1, 1, 10, m, s)  # noqa: E731
    _write_batches(
        spark, str(tmp_path / "src"), schema,
        [
            # b0: 3 events in window 10:00, one at 10:05 (wm for b1 -> 10:03)
            [("h1", 1, t(0)), ("h1", 2, t(0, 20)), ("h1", 3, t(0, 40)),
             ("h1", 4, t(5))],
            # b1 (wm 10:03): commit emits+evicts the 10:00 window at count 3;
            # the 10:10 event sets wm for b2 = 10:08
            [("h1", 6, t(10))],
            # b2 (wm 10:08): straggler for the already-evicted 10:00 window
            # -> dropped late, never double-counted; the far-future event
            # closes 10:05 and (via the final wm 10:57) 10:10; its own
            # 10:59 window never closes and must NOT be emitted
            [("h1", 5, t(0, 30)), ("h1", 7, t(59))],
        ],
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "src" / "*"))
    )
    out = admission_rate_stream(stream, window="1 minute")
    q = (
        out.writeStream.format("memory").queryName("t_wm_rate")
        .outputMode("append").trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck")).start()
    )
    q.awaitTermination(300)
    got = {
        r["window"].start.minute: (r["n_jobs"], r["first_seq"])
        for r in spark.sql("SELECT * FROM t_wm_rate").collect()
    }
    # 10:00 counts 3 (late seq=5 excluded), first_seq pins FIFO provenance
    assert got == {0: (3, 1), 5: (1, 4), 10: (1, 6)}


# ---------------------------------------------------------------------------
# round 5 (verdict item 7): the politeness buffer bound, unit-tested against
# the factored admission core — no streaming query needed, so the failure
# mode (and that the bound trips BEFORE the buffer materializes) is pinned
# directly.
# ---------------------------------------------------------------------------


def _mk_chunk(rows):
    import pandas as pd

    return pd.DataFrame(rows, columns=["host", "wave", "priority", "seq"])


def test_admit_host_group_multichunk_matches_single_concat():
    import pandas as pd

    from crawlspark.streaming import _admit_host_group

    # unsorted across chunks: the later chunk carries a smaller (priority,
    # seq) that must displace earlier rows inside the budget
    c1 = _mk_chunk([("h", 1, 1, 10), ("h", 1, 0, 9), ("h", 2, 0, 20)])
    c2 = _mk_chunk([("h", 1, 0, 1), ("h", 2, 0, 2), ("h", 1, 0, 2)])
    out_split, st_split = _admit_host_group(
        iter([c1, c2]), -1, 0, 2, "wave", 10_000, host_key=("h",)
    )
    out_one, st_one = _admit_host_group(
        iter([pd.concat([c1, c2], ignore_index=True)]), -1, 0, 2, "wave",
        10_000, host_key=("h",),
    )
    assert st_split == st_one
    assert out_split.values.tolist() == out_one.values.tolist()
    got = {(r.wave, r.seq): r.admitted for r in out_split.itertuples()}
    # wave 1 budget 2 -> seq 1 and 2 admitted, 9 and 10 rejected
    assert got == {
        (1, 1): True, (1, 2): True, (1, 9): False, (1, 10): False,
        (2, 2): True, (2, 20): True,
    }
    # state carries (last_window, used) forward
    assert st_split == (2, 2)


def test_admit_host_group_used_carry_across_microbatches():
    from crawlspark.streaming import _admit_host_group

    # same window split across micro-batches: `used` continues the count
    out, st = _admit_host_group(
        iter([_mk_chunk([("h", 3, 0, 1)])]), 3, 1, 2, "wave", 100, host_key=("h",)
    )
    assert out.admitted.tolist() == [True] and st == (3, 2)
    out2, st2 = _admit_host_group(
        iter([_mk_chunk([("h", 3, 0, 2)])]), *st, 2, "wave", 100, host_key=("h",)
    )
    assert out2.admitted.tolist() == [False] and st2 == (3, 2)


def test_admit_host_group_buffer_bound_trips_early():
    import pytest

    from crawlspark.streaming import _admit_host_group

    drained = []

    def chunks():
        for i in range(10):
            drained.append(i)
            yield _mk_chunk([("h", 1, 0, 10 * i + j) for j in range(5)])

    with pytest.raises(RuntimeError, match="max_buffer_rows"):
        _admit_host_group(chunks(), -1, 0, 2, "wave", 12, host_key=("h",))
    # 5 + 5 rows pass, the 3rd chunk (15 > 12) trips the bound and the
    # remaining 7 chunks are never pulled off the Arrow iterator
    assert drained == [0, 1, 2]


def test_admit_host_group_empty_iterator_keeps_state():
    from crawlspark.streaming import _admit_host_group

    out, st = _admit_host_group(iter([]), 7, 1, 2, "wave", 10, host_key=("h",))
    assert out is None and st == (7, 1)
