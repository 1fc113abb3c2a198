"""The benchmark's workloads: inputs, timed operations and output checks.

Each workload is a function ``run_<name>(bench)`` that builds its inputs and
then repeats its timed operation ("op"), checking every op's output against
an oracle outside the timed region. The first op of a run is a warm-up on a
small input: it is checked and counted, but not reported, so the reported ops
run on a JIT-warm driver and a started python-worker pool.

Inputs come from ``--seed`` only. ``synth.make_world`` ignores its own seed
argument (every page decision is hash-derived), so the crawl keeps the world
shape fixed and draws the seed list -- which pages, their priorities and
their push order -- from a PCG64 generator keyed by the run seed. The same
``World`` object is handed to the engine and to the oracle. curate reads
fixed tables; its seed permutes the query order.
"""

from __future__ import annotations

import os
import re
import shutil
import statistics
import time

import numpy as np

from crawlspark import synth

HERE = os.path.dirname(os.path.abspath(__file__))
CURATE_DATA = os.path.join(HERE, "data", "sf0.001")

# harvest's world: many seeds over few hosts, so every wave is capped by the
# per-host budgets (a BSP wave also has a floor of Spark jobs, so the number
# of waves sets the op time more than the number of pages does)
HARVEST = dict(
    world=dict(n_hosts=48, total_pages=8000, n_images=64, branching=4,
               image_sizes=(16, 32), host_budget=40, hot_host_budget=20),
    n_seeds=3000, wave_budget=4000, kill_after=1, max_waves=2,
)
# the warm-up op's world: small, it only pays the JIT and python-worker
# start-up that every code path needs once per process
WARM = dict(
    world=dict(n_hosts=8, total_pages=300, n_images=16, branching=4,
               image_sizes=(16,), host_budget=20, hot_host_budget=10),
    n_seeds=16, wave_budget=200, kill_after=1, max_waves=1,
)
# one or two queries per datapipe module (dedup, similarity, multimodal,
# text, relational, sampling), each with a DuckDB twin in oracle_sql()
CURATE_QUERIES = (
    "ngram_jaccard_pairs",
    "minhash_lsh_candidates",
    "embedding_neardup",
    "image_decode_validate",
    "tfidf_top_terms",
    "pii_scrub",
    "asof_join_events",
    "domain_mix_cap",
    "curation_pipeline",
)
CURATE_TABLES = ("documents", "embeddings", "customer", "events")
SETUP_REPEATS = 3


class CheckFailed(Exception):
    """An op's output differs from its oracle."""


def median(xs):
    return statistics.median(xs) if xs else 0.0


# --------------------------------------------------------------------------
# crawl inputs and checks
# --------------------------------------------------------------------------
def seeded_world(shape: dict, n_seeds: int, seed: int) -> synth.World:
    """The fixed world of `shape` with a seed list drawn from `seed`."""
    world = synth.make_world(n_seeds=1, **shape)
    rng = np.random.Generator(np.random.PCG64(seed))
    pool = [u for u in world.pages if "/private/" not in u and "/ajax/" not in u]
    picks = rng.choice(len(pool), size=min(n_seeds, len(pool)), replace=False)
    prios = rng.integers(0, 3, size=len(picks))
    order = rng.permutation(len(picks))
    template = world.seeds[0]
    world.seeds = [
        dict(template, job_id=f"seed{k:06d}", url=pool[int(p)],
             priority=int(prios[k]), seed_order=int(order[k]))
        for k, p in enumerate(picks)
    ]
    return world


class Case:
    """One crawl input: a seeded world, its app settings and its oracle."""

    def __init__(self, spec: dict, seed: int):
        self.spec = spec
        self.world = seeded_world(spec["world"], spec["n_seeds"], seed)
        self._gold = {}

    def app_config(self, workdir, out_dir, max_waves):
        from crawlspark.app import AppConfig

        return AppConfig(wave_budget=self.spec["wave_budget"], max_waves=max_waves,
                         validate_images=True, workdir=workdir,
                         writers=[("parquet", out_dir)] if out_dir else [])

    def gold(self, max_waves):
        """The oracle's crawl of this world, stopped after `max_waves`."""
        from crawlspark.oracle import run_oracle

        if max_waves not in self._gold:
            cfg = self.app_config(None, None, max_waves)
            self._gold[max_waves] = run_oracle(
                self.world, wave_budget=cfg.wave_budget,
                default_host_budget=cfg.default_host_budget, max_waves=max_waves)
        return self._gold[max_waves]


class Fixtures:
    """The world's Spark tables, persisted and counted."""

    def __init__(self, spark, world):
        self.pages = synth.pages_df(spark, world).persist()
        self.robots = synth.robots_df(spark, world).persist()
        self.budgets = synth.politeness_df(spark, world).persist()
        self.seeds = synth.seeds_df(spark, world).persist()
        self.images = synth.images_df(spark, world).persist()
        for df in self.frames():
            df.count()

    def frames(self):
        return [self.pages, self.robots, self.budgets, self.seeds, self.images]

    def release(self):
        for df in self.frames():
            df.unpersist()


def check_counters(metrics):
    for m in metrics:
        if m["scheduled"] != m["completed"] + m["failed"] + m["retried"]:
            raise CheckFailed(f"wave {m['wave']}: counter identity broken: {m}")


def check_crawl(order_df, seen_df, gold):
    got = [(r.wave, r.rank, r.job_id, r.url_canon)
           for r in order_df.orderBy("wave", "rank").collect()]
    want = [(g["wave"], g["rank"], g["job_id"], g["url_canon"]) for g in gold.crawl_order]
    if got != want:
        raise CheckFailed(f"crawl order differs from the oracle ({len(got)} vs {len(want)} rows)")
    keys = [r.cache_key for r in seen_df.select("cache_key").collect()]
    if len(keys) != len(set(keys)) or set(keys) != {g["cache_key"] for g in gold.seen}:
        raise CheckFailed(f"seen set differs from the oracle ({len(keys)} vs {len(gold.seen)} keys)")


def check_pairs(rows, gold):
    cols = ("wave", "rank", "job_id", "url_canon", "status", "attempts", "image_id")
    got = sorted(tuple(r[c] for c in cols) for r in rows)
    want = sorted(tuple(g[c] for c in cols) for g in gold.results)
    if got != want:
        raise CheckFailed(f"written pairs differ from the oracle ({len(got)} vs {len(want)} rows)")
    bad = [r for r in rows if r["pixels_ok"] is not True or r["caption"] is None]
    if bad:
        raise CheckFailed(f"{len(bad)} written pairs fail pixel/caption validation")


def url_ops(metrics) -> int:
    """BASELINE.md's unit of crawl work: scheduled + admitted + deduplicated."""
    return sum(m["scheduled"] + m["new_urls"] + m["deduped"] for m in metrics)


def dir_stats(path):
    n_bytes = n_files = 0
    for d, _, files in os.walk(path):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(d, f))
            n_files += 1
    return n_bytes, n_files


# --------------------------------------------------------------------------
# the op loop shared by the workloads
# --------------------------------------------------------------------------
def repeat_ops(bench, op, warm, main, counted=True):
    """One warm-up op on `warm`, then ops on `main` until `bench.seconds`
    have passed (at least one). Returns the main ops' records. With
    `counted`, a raised exception or failed check counts as one failed op
    (curate counts its queries itself)."""
    call = (lambda case: bench.attempt(op, case)) if counted else op
    bench.warmup = call(warm)
    t_end = time.monotonic() + bench.seconds
    records = []
    while True:
        rec = call(main)
        if rec is not None:
            records.append(rec)
        if time.monotonic() >= t_end or len(records) >= bench.max_ops:
            return records


def summarize(bench, recs, unit_items):
    steps = [s for r in recs for s in r["steps"]]
    return dict(
        op_s=median([r["op_s"] for r in recs]),
        step_p50_s=median(steps),
        items_per_s=median([r["items"] / r["op_s"] for r in recs]),
        detail=dict(
            items=unit_items,
            n_ops=len(recs),
            n_steps=len(steps),
            ops=[{k: v for k, v in r.items() if k not in ("waves", "per_query")}
                 for r in recs],
            warmup_op_s=(bench.warmup or {}).get("op_s"),
        ),
    )


# --------------------------------------------------------------------------
# harvest: a durable CrawlApp crawl, killed after wave 1 and resumed
# --------------------------------------------------------------------------
def harvest_op(bench, case, inspect=None, resume=True):
    """Set up (timed as set-up), then the op: CrawlApp.start to the kill
    wave, then a restarted CrawlApp.start(resume=True) to max_waves, each
    writing the validated pairs to parquet. With `resume` false the op is
    the kill leg alone. `inspect(app, fixtures, out_dir, record)` runs after
    the checks, before clean-up."""
    from crawlspark.app import CrawlApp

    spark, spec = bench.spark, case.spec
    tag = bench.next_id()
    workdir = os.path.join(bench.work, f"ckpt-{tag}")
    out_dir = os.path.join(bench.work, f"pairs-{tag}")

    def build(max_waves):
        app = CrawlApp(spark, fx.pages, fx.robots, fx.budgets, fx.images,
                       case.app_config(workdir, out_dir, max_waves))
        # the Bloom tier serves every wave from the first one, as it does
        # once a crawl's seen set passes the default 2M-row threshold
        app.engine.cfg.bloom_prefilter_min_seen = 0
        return app

    bench.set_group("setup")
    t0 = time.monotonic()
    fx = Fixtures(spark, case.world)
    app = first = build(spec["kill_after"])
    first.engine.pages.count()
    bench.setup_times.append(time.monotonic() - t0)
    try:
        with bench.phase("op"):
            t0 = time.monotonic()
            with bench.phase("crawl"):
                run = first.start(fx.seeds)
            t1 = time.monotonic()
            if resume:
                bench.set_group("resume")
                with bench.phase("resume"):
                    app = build(spec["max_waves"])
                    run = app.start(fx.seeds, resume=True)
            t2 = time.monotonic()
        bench.set_group("check")
        gold = case.gold(spec["max_waves"] if resume else spec["kill_after"])
        rows = spark.read.parquet(out_dir).collect()
        if resume and run.resumed_from_wave != spec["kill_after"]:
            raise CheckFailed(f"resumed from wave {run.resumed_from_wave}")
        check_counters(run.metrics)
        check_crawl(run.order, run.seen, gold)
        check_pairs(rows, gold)
        ckpt_bytes, ckpt_files = dir_stats(workdir)
        ops = url_ops(run.metrics)
        rec = dict(
            op_s=t2 - t0,
            steps=[m["wall_sec"] for m in run.metrics],
            items=ops,
            kill_leg_s=t1 - t0,
            resume_leg_s=t2 - t1,
            pairs=len(rows),
            pairs_per_s=len(rows) / (t2 - t0),
            pixels_ok=sum(1 for r in rows if r["pixels_ok"]),
            pairs_bytes=dir_stats(out_dir)[0],
            ckpt_bytes=ckpt_bytes,
            ckpt_files=ckpt_files,
            ckpt_bytes_per_url=ckpt_bytes / ops,
            seen_rows=len(gold.seen),
            seeds=len(case.world.seeds),
            waves=run.metrics,
        )
        if inspect is not None:
            inspect(app, fx, out_dir, rec)
        return rec
    finally:
        first.engine.pages.unpersist()
        fx.release()
        shutil.rmtree(workdir, ignore_errors=True)
        shutil.rmtree(out_dir, ignore_errors=True)


def harvest_setup_repeats(bench, case):
    """Extra set-ups of the main world, so setup_s is a median of several."""
    from crawlspark.app import CrawlApp

    main_builds = len(bench.setup_times) - 1  # the first is the warm-up's
    for _ in range(SETUP_REPEATS - main_builds):
        bench.set_group("setup")
        t0 = time.monotonic()
        fx = Fixtures(bench.spark, case.world)
        app = CrawlApp(bench.spark, fx.pages, fx.robots, fx.budgets, fx.images,
                       case.app_config(None, None, case.spec["max_waves"]))
        app.engine.pages.count()
        bench.setup_times.append(time.monotonic() - t0)
        app.engine.pages.unpersist()
        fx.release()


def run_harvest(bench):
    t0 = time.monotonic()
    main = Case(HARVEST, bench.seed)
    world_s = time.monotonic() - t0
    warm = Case(WARM, bench.seed)
    bench.untimed(lambda: (main.gold(HARVEST["max_waves"]), warm.gold(WARM["max_waves"])))
    recs = repeat_ops(bench, lambda case: harvest_op(bench, case), warm, main)
    harvest_setup_repeats(bench, main)
    out = summarize(bench, recs, unit_items="url_ops")
    out["setup_s"] = world_s + median(bench.setup_times[1:])
    for k in ("pairs_per_s", "ckpt_bytes_per_url", "resume_leg_s"):
        out["detail"][k] = median([r[k] for r in recs])
    return out


# --------------------------------------------------------------------------
# curate: datapipe queries checked against their DuckDB twins
# --------------------------------------------------------------------------
def _norm(v):
    if isinstance(v, float):
        return "nan" if v != v else round(v, 9)
    return v


def sorted_rows(cols, rows):
    """Order-insensitive, column-order-insensitive form of a result."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=repr)


def query_tables(sql: str):
    return sorted(set(re.findall(r"\b(?:FROM|JOIN)\s+(\w+)", sql, re.I)) & set(CURATE_TABLES))


def expected_results(names):
    import duckdb

    import __spark_entry__ as E

    con = duckdb.connect()
    try:
        for t in CURATE_TABLES:
            path = os.path.join(CURATE_DATA, f"{t}.parquet")
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        sql = E.oracle_sql()
        out = {}
        for n in names:
            rel = con.sql(sql[n])
            out[n] = sorted_rows(rel.columns, rel.fetchall())
        return out
    finally:
        con.close()


def one_query(bench, fn, name, want):
    bench.set_group(f"query-{name}")
    with bench.phase(f"datapipe.{name}"):
        t0 = time.monotonic()
        df = fn(bench.spark, CURATE_DATA)
        rows = df.collect()
        wall = time.monotonic() - t0
    bench.set_group("check")
    got = sorted_rows(df.columns, rows)
    if got != want:
        raise CheckFailed(f"{name}: differs from its DuckDB twin "
                          f"({len(got[1])} vs {len(want[1])} rows)")
    return wall


def curate_order(seed):
    rng = np.random.Generator(np.random.PCG64(seed))
    return [CURATE_QUERIES[i] for i in rng.permutation(len(CURATE_QUERIES))]


def run_curate(bench):
    import __spark_entry__ as E
    from crawlspark.datapipe import release_caches

    queries, sql = E.queries(), E.oracle_sql()
    names = curate_order(bench.seed)
    rows_in = {}
    for _ in range(SETUP_REPEATS):
        bench.set_group("setup")
        t0 = time.monotonic()
        rows_in = {t: bench.spark.read.parquet(os.path.join(CURATE_DATA, f"{t}.parquet")).count()
                   for t in CURATE_TABLES}
        bench.setup_times.append(time.monotonic() - t0)
    want = bench.untimed(lambda: expected_results(names))
    items = sum(rows_in[t] for n in names for t in query_tables(sql[n]))

    def op(pass_names):
        per_query = {}
        for n in pass_names:
            per_query[n] = bench.attempt(one_query, bench, queries[n], n, want[n])
            release_caches(bench.spark)
        if None in per_query.values():
            return None
        wall = sum(per_query.values())
        return dict(op_s=wall, steps=list(per_query.values()), items=items,
                    per_query=per_query)

    recs = repeat_ops(bench, op, names, names, counted=False)
    out = summarize(bench, recs, unit_items="input_rows")
    out["setup_s"] = median(bench.setup_times)
    out["detail"]["queries"] = names
    out["detail"]["per_query_s"] = {n: median([r["per_query"][n] for r in recs]) for n in names}
    return out


WORKLOADS = {
    "harvest": run_harvest,
    "curate": run_curate,
}
