"""The traced run: spans around calls into each layer, Spark's event log, and
a replay of one crawl wave stage by stage. Nothing inside ``crawlspark/``
changes; every span comes from a wrapper this module installs on a module
attribute or class method for the duration of one op, and is removed after.

Span kinds:
  * ``layer``  -- a call into a layer's public function (``politeness``,
    ``frontier``, ``fetch``, ``seen``, ``urlnorm``, ``checkpoint``, ``app``).
    The calls build lazy plans, so their self time is driver-side planning.
  * ``action`` -- a Spark action (collect, count, a writer's save/parquet,
    localCheckpoint): the driver blocks there while executors run.
  * ``wave``   -- opened and closed by the engine's own
    ``setJobGroup("wave-N")`` calls, so a wave span covers the engine's whole
    loop body for that wave.
  * ``phase``  -- the benchmark's own phases (op, crawl, resume, queries).

Executor-side figures (jobs, stages, tasks, task time, shuffle, spill) come
from the uncompressed event log, grouped by the job group each job ran in.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time

from perfbench.workloads import CURATE_QUERIES, HARVEST, WARM, Case, harvest_op, median

LAYER_TARGETS = {
    "politeness": ("crawlspark.politeness", ["per_host_topk", "robots_gate", "with_robots_flag"]),
    "frontier": ("crawlspark.frontier", ["select_wave", "with_inspark_rank",
                                         "with_inspark_rank_bucketed"]),
    "fetch": ("crawlspark.fetch", ["fetch_simulate", "apply_outcomes", "resolve_redirects"]),
    "seen": ("crawlspark.seen", ["mark_seen", "PartitionedBloom.add_from_df",
                                 "PartitionedBloom.merge_rows", "PartitionedBloom.delta_agg_df"]),
    "urlnorm": ("crawlspark.urlnorm", ["with_url_columns"]),
    "checkpoint": ("crawlspark.checkpoint", [
        "TableIO.read_manifest", "TableIO.commit_manifest", "TableIO.write_wave",
        "TableIO.read_wave", "TableIO.read_waves", "TableIO.wave_exists",
        "TableIO.write_blob", "TableIO.read_blob"]),
    "app": ("crawlspark.app", ["ParquetWriter.write"]),
    "engine": ("crawlspark.engine", ["CrawlEngine.run"]),
}
ACTION_TARGETS = [
    ("pyspark.sql.classic.dataframe", ["DataFrame.collect", "DataFrame.count",
                                       "DataFrame.toPandas", "DataFrame.localCheckpoint"]),
    ("pyspark.sql.readwriter", ["DataFrameWriter.save", "DataFrameWriter.parquet"]),
]
CHECKPOINT_WRITES = ("TableIO.write_wave", "TableIO.write_blob")
CHECKPOINT_READS = ("TableIO.read_manifest", "TableIO.read_wave", "TableIO.read_waves",
                    "TableIO.read_blob", "TableIO.wave_exists")
CRAWL_LAYERS = ("frontier", "politeness", "fetch", "seen", "urlnorm")

# every per-layer metric, with its unit; a layer a workload never calls
# reports 0 for its metrics on that workload
PER_LAYER = {
    "engine.admit_s": "s", "engine.wave_s": "s", "engine.plan_s": "s",
    "engine.action_s": "s", "engine.driver_gap_s": "s", "engine.unattributed_s": "s",
    "engine.jobs_per_wave": "count", "engine.stages_per_wave": "count",
    "engine.tasks_per_wave": "count", "engine.core_util": "ratio",
    "engine.teardown_s": "s", "engine.speedup_1_to_n": "ratio",
    "frontier.call_s": "s", "frontier.exec_s": "s", "frontier.budget_fill": "ratio",
    "politeness.call_s": "s", "politeness.exec_s": "s", "politeness.capped_share": "ratio",
    "fetch.call_s": "s", "fetch.exec_s": "s", "fetch.retry_share": "ratio",
    "seen.call_s": "s", "seen.exec_bloom_s": "s", "seen.exec_exact_s": "s",
    "seen.dedup_share": "ratio", "seen.rows": "count", "seen.bloom_mb": "MB",
    "urlnorm.call_s": "s", "urlnorm.exec_s": "s", "urlnorm.rows": "count",
    "checkpoint.write_s": "s", "checkpoint.commit_s": "s", "checkpoint.read_s": "s",
    "checkpoint.resume_s": "s", "checkpoint.bytes_per_wave": "B",
    "checkpoint.files_per_wave": "count", "checkpoint.bytes_per_url": "B/URL",
    "image.rows": "count", "image.rows_per_s": "1/s", "image.pixels_ok_share": "ratio",
    "app.write_s": "s", "app.bytes_written": "B", "app.pairs_per_s": "1/s",
    **{f"datapipe.{q}_s": "s" for q in CURATE_QUERIES},
    "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB",
    "trace.op_s": "s", "trace.spans": "count",
}


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------
class Span:
    __slots__ = ("name", "kind", "layer", "start", "end", "parent")

    def __init__(self, name, kind, layer, parent):
        self.name, self.kind, self.layer, self.parent = name, kind, layer, parent
        self.start, self.end = time.time(), None

    @property
    def dur(self):
        return self.end - self.start

    def as_dict(self):
        return dict(name=self.name, kind=self.kind, layer=self.layer,
                    start=self.start, end=self.end, parent=self.parent)


class Tracer:
    """In-memory spans with parent links; wrappers installed by `install`."""

    def __init__(self, bench):
        self.bench = bench
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self._restore = []

    def open(self, name, kind, layer=None):
        parent = self.stack[-1] if self.stack else None
        self.spans.append(Span(name, kind, layer, parent))
        self.stack.append(len(self.spans) - 1)

    def close(self, kind=None):
        """Close the innermost span (of `kind`, closing any still open
        inside it); a no-op if no such span is open."""
        if kind is not None and not any(self.spans[i].kind == kind for i in self.stack):
            return
        while self.stack:
            span = self.spans[self.stack.pop()]
            span.end = time.time()
            if kind is None or span.kind == kind:
                return

    @contextlib.contextmanager
    def span(self, name, kind, layer=None):
        self.open(name, kind, layer)
        try:
            yield
        finally:
            self.close(kind)

    # -- wrappers ----------------------------------------------------------
    def _wrap(self, owner, attr, name, kind, layer):
        orig = owner.__dict__[attr]
        tracer = self

        if name == "CrawlEngine.run":
            def wrapper(*a, **kw):
                with tracer.span(name, kind, layer):
                    try:
                        return orig(*a, **kw)
                    finally:
                        tracer.close("wave")  # the engine leaves its last group set
        elif name == "ParquetWriter.write":
            def wrapper(*a, **kw):
                tracer.bench.set_group("writer")
                with tracer.span(name, kind, layer):
                    return orig(*a, **kw)
        else:
            def wrapper(*a, **kw):
                with tracer.span(name, kind, layer):
                    return orig(*a, **kw)

        setattr(owner, attr, wrapper)
        self._restore.append((owner, attr, orig))

    def install(self):
        import importlib

        from pyspark import SparkContext

        for layer, (mod, names) in LAYER_TARGETS.items():
            m = importlib.import_module(mod)
            for n in names:
                owner, attr = (getattr(m, n.split(".")[0]), n.split(".")[1]) if "." in n else (m, n)
                self._wrap(owner, attr, n, "layer", layer)
        for mod, names in ACTION_TARGETS:
            m = importlib.import_module(mod)
            for n in names:
                cls, attr = n.split(".")
                self._wrap(getattr(m, cls), attr, n, "action", "spark")

        orig = SparkContext.__dict__["setJobGroup"]
        tracer = self

        def set_job_group(sc, group_id, *a, **kw):
            tracer.close("wave")
            if group_id.startswith("wave-"):
                tracer.open(group_id, "wave", "engine")
            return orig(sc, group_id, *a, **kw)

        SparkContext.setJobGroup = set_job_group
        self._restore.append((SparkContext, "setJobGroup", orig))

    def uninstall(self):
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()


# --------------------------------------------------------------------------
# span arithmetic
# --------------------------------------------------------------------------
def union_len(intervals, lo=None, hi=None):
    """Total length covered by `intervals`, clipped to [lo, hi]."""
    ivs = sorted((max(a, lo) if lo is not None else a, min(b, hi) if hi is not None else b)
                 for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in ivs:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def children(spans, idx):
    return [s for s in spans if s.parent == idx]


def self_time(spans, idx):
    s = spans[idx]
    return s.dur - union_len([(c.start, c.end) for c in children(spans, idx)], s.start, s.end)


def descendants(spans, idx):
    out, todo = [], [idx]
    while todo:
        p = todo.pop()
        kids = [i for i, s in enumerate(spans) if s.parent == p]
        out += kids
        todo += kids
    return out


def ancestors(spans, i, stop=None):
    out = []
    p = spans[i].parent
    while p is not None and p != stop:
        out.append(p)
        p = spans[p].parent
    return out


def layer_self_time(spans, within, layer):
    """Self time of `layer`'s spans among indices `within`: each span minus
    its children (other layers' calls and the actions it ran)."""
    return sum(self_time(spans, i) for i in within if spans[i].layer == layer
               and spans[i].kind == "layer")


def span_sum(spans, within, names):
    return sum(spans[i].dur for i in within if spans[i].name in names)


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------
def read_event_log(events_dir):
    """Jobs (group, submission time) and tasks (group, interval, metrics)."""
    jobs, tasks, stage_group = [], [], {}
    # Spark 4 writes each application's log as a directory of rolled
    # `events_<n>_<app>` files
    for path in sorted(glob.glob(os.path.join(events_dir, "**", "events_*"), recursive=True)):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "none"
                    jobs.append((group, ev.get("Submission Time", 0) / 1000))
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                    sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
                    tasks.append(dict(
                        group=stage_group.get(ev.get("Stage ID"), "none"),
                        stage=ev.get("Stage ID"),
                        start=info.get("Launch Time", 0) / 1000,
                        end=info.get("Finish Time", 0) / 1000,
                        run_s=m.get("Executor Run Time", 0) / 1000,
                        cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                        gc_s=m.get("JVM GC Time", 0) / 1000,
                        read_b=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        write_b=sw.get("Shuffle Bytes Written", 0),
                        spill_b=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    ))
    return jobs, tasks


def group_stats(log, groups, lo, hi):
    """Executor figures of the jobs in `groups` submitted, and the tasks
    launched, within [lo, hi] (wall-clock seconds)."""
    jobs, tasks = log
    sel = [t for t in tasks if t["group"] in groups and lo <= t["start"] <= hi]
    return dict(
        jobs=sum(1 for g, ts in jobs if g in groups and lo <= ts <= hi),
        stages=len({t["stage"] for t in sel}),
        tasks=len(sel),
        busy_s=union_len([(t["start"], t["end"]) for t in sel], lo, hi),
        **{k: sum(t[k] for t in sel) for k in ("run_s", "cpu_s", "gc_s", "read_b",
                                                "write_b", "spill_b")},
    )


def spark_totals(st):
    return {
        "spark.task_run_s": st["run_s"],
        "spark.task_cpu_s": st["cpu_s"],
        "spark.gc_s": st["gc_s"],
        "spark.shuffle_write_mb": st["write_b"] / 1e6,
        "spark.shuffle_read_mb": st["read_b"] / 1e6,
        "spark.spill_mb": st["spill_b"] / 1e6,
    }


# --------------------------------------------------------------------------
# replay: one crawl wave, one layer at a time
# --------------------------------------------------------------------------
def _noop(df):
    t0 = time.monotonic()
    df.write.format("noop").mode("overwrite").save()
    return time.monotonic() - t0


def _cut(df):
    """Materialize a stage's input so the next stage is timed on its own."""
    df = df.localCheckpoint(eager=True)
    return df, df.count()


def replay_wave(bench, app, fx, pair_images):
    """Re-run the last wave of a committed crawl from its checkpoint:
    politeness → frontier → fetch → urlnorm over the out-links → seen (exact
    and with the Bloom tier), each forced through a noop sink on its own."""
    from pyspark.sql import functions as F

    from crawlspark import fetch, frontier, politeness, urlnorm
    from crawlspark.image import validate_image_udf
    from crawlspark.seen import PartitionedBloom, mark_seen

    eng, spark = app.engine, bench.spark
    cfg, io = eng.cfg, eng.io
    k = io.read_manifest()["wave"] - 1  # replay wave k+1 from pending after wave k
    wave_ts = (k + 1) * cfg.wave_period_us
    bench.set_group("replay")
    out = {}

    eligible, n_elig = _cut(io.read_wave("pending", k).filter(F.col("not_before_us") <= wave_ts))
    polite_df = politeness.per_host_topk(eligible, eng.budgets, cfg.default_host_budget,
                                         cfg.salt_buckets)
    out["politeness.exec_s"] = _noop(polite_df)
    polite_df, n_polite = _cut(polite_df)
    sel = frontier.select_wave(polite_df, cfg.wave_budget)
    out["frontier.exec_s"] = _noop(sel)
    sel, n_sel = _cut(sel)
    fetched = fetch.apply_outcomes(fetch.fetch_simulate(sel, eng.pages, eng.response_cache),
                                   wave_ts)
    out["fetch.exec_s"] = _noop(fetched)
    fetched, _ = _cut(fetched)
    links = fetched.filter((F.col("outcome") == "done") & (F.size("out_links") > 0)).select(
        "job_id", "rank", F.posexplode("out_links").alias("link_pos", "url"),
    ).withColumns({
        "url_params": F.lit(None).cast("map<string,string>"),
        "method": F.lit("GET"),
        "body": F.lit(None).cast("binary"),
    })
    cand = urlnorm.with_url_columns(links, cfg.host_buckets)
    out["urlnorm.exec_s"] = _noop(cand)
    cand, n_cand = _cut(cand)
    seen_tbl, _ = _cut(io.read_waves("seen", list(range(k + 1))))
    out["seen.exec_exact_s"] = _noop(mark_seen(cand, seen_tbl))
    bloom = PartitionedBloom(cfg.bloom_partitions, cfg.bloom_bits)
    bloom.add_from_df(seen_tbl)
    marked = mark_seen(cand, seen_tbl, bloom)
    out["seen.exec_bloom_s"] = _noop(marked)
    n_seen = marked.filter("_seen").count()

    imgs, n_img = _cut(pair_images.join(fx.images, "image_id"))
    t_img = _noop(imgs.select(validate_image_udf(F.col("image_id"), F.col("bytes"), F.col("fmt"))))
    out["image.rows_per_s"] = n_img / t_img
    out["replay"] = dict(wave=k + 1, eligible=n_elig, polite=n_polite, selected=n_sel,
                         candidates=n_cand, candidates_seen=n_seen, image_rows=n_img)
    out["politeness.capped_share"] = 1 - n_polite / n_elig if n_elig else 0.0
    return out


# --------------------------------------------------------------------------
# per-layer metrics from one traced op
# --------------------------------------------------------------------------
def crawl_layer_metrics(bench, tracer, rec, log):
    spans = tracer.spans
    op_idx = next(i for i, s in enumerate(spans) if s.name == "op")
    in_op = sorted(descendants(spans, op_idx), key=lambda i: spans[i].start)
    waves = [i for i in in_op if spans[i].kind == "wave"]
    runs = [i for i in in_op if spans[i].name == "CrawlEngine.run"]
    resume_idx = next(i for i in in_op if spans[i].name == "resume")
    m = {}
    per_wave = []
    for w in waves:
        ws = spans[w]
        inner = descendants(spans, w)
        actions = [i for i in inner if spans[i].kind == "action"
                   and not any(spans[p].kind == "action" for p in ancestors(spans, i, w))]
        action_s = union_len([(spans[i].start, spans[i].end) for i in actions])
        g = group_stats(log, {ws.name}, ws.start, ws.end)
        per_wave.append(dict(
            wave=ws.name, wave_s=ws.dur, action_s=action_s, plan_s=ws.dur - action_s,
            driver_gap_s=ws.dur - g["busy_s"], jobs=g["jobs"], stages=g["stages"],
            tasks=g["tasks"], core_util=g["run_s"] / (ws.dur * bench.nproc),
            unattributed_s=self_time(spans, w),
            **{f"{layer}.call_s": layer_self_time(spans, inner, layer) for layer in CRAWL_LAYERS},
            **{"checkpoint.write_s": span_sum(spans, inner, CHECKPOINT_WRITES),
               "checkpoint.commit_s": span_sum(spans, inner, ("TableIO.commit_manifest",))},
        ))
    for key in ("wave_s", "action_s", "plan_s", "driver_gap_s", "core_util", "unattributed_s"):
        m[f"engine.{key}"] = median([p[key] for p in per_wave])
    for key in ("jobs", "stages", "tasks"):
        m[f"engine.{key}_per_wave"] = median([p[key] for p in per_wave])
    for key in [f"{layer}.call_s" for layer in CRAWL_LAYERS] + ["checkpoint.write_s",
                                                                 "checkpoint.commit_s"]:
        m[key] = median([p[key] for p in per_wave])

    first_run = spans[runs[0]]
    first_wave = spans[waves[0]] if waves else first_run
    m["engine.admit_s"] = first_wave.start - first_run.start
    # teardown: from each leg's last wave to the end of its CrawlApp.start
    # (the writer's materialization of the results), summed over both legs
    legs = [i for i in in_op if spans[i].name in ("crawl", "resume")]
    teardown = 0.0
    for leg in legs:
        leg_waves = [spans[i] for i in descendants(spans, leg) if spans[i].kind == "wave"]
        if leg_waves:
            teardown += spans[leg].end - max(w.end for w in leg_waves)
    m["engine.teardown_s"] = teardown
    resume_in = descendants(spans, resume_idx)
    resume_waves = [i for i in resume_in if spans[i].kind == "wave"]
    outside = [i for i in resume_in if not any(p in resume_waves for p in ancestors(spans, i))]
    m["checkpoint.read_s"] = span_sum(spans, outside, CHECKPOINT_READS)
    rs = spans[resume_idx]
    resume_teardown = rs.end - max((spans[i].end for i in resume_waves), default=rs.end)
    m["checkpoint.resume_s"] = rs.dur - sum(spans[i].dur for i in resume_waves) - resume_teardown
    n_waves = max(1, len(rec["waves"]))
    m["checkpoint.bytes_per_wave"] = rec["ckpt_bytes"] / n_waves
    m["checkpoint.files_per_wave"] = rec["ckpt_files"] / n_waves
    m["checkpoint.bytes_per_url"] = rec["ckpt_bytes_per_url"]

    wm = rec["waves"]
    sched = sum(x["scheduled"] for x in wm)
    cands = sum(x["new_urls"] + x["deduped"] for x in wm)
    m["frontier.budget_fill"] = median([x["scheduled"] / HARVEST["wave_budget"] for x in wm])
    m["fetch.retry_share"] = sum(x["retried"] for x in wm) / sched if sched else 0.0
    m["seen.dedup_share"] = sum(x["deduped"] for x in wm) / cands if cands else 0.0
    m["seen.rows"] = rec["seen_rows"]
    m["seen.bloom_mb"] = rec.get("bloom_mb", 0.0)
    m["urlnorm.rows"] = cands + rec["seeds"]
    m["image.rows"] = rec["pairs"]
    m["image.pixels_ok_share"] = rec["pixels_ok"] / rec["pairs"] if rec["pairs"] else 0.0
    m["app.write_s"] = span_sum(spans, in_op, ("ParquetWriter.write",))
    m["app.bytes_written"] = rec["pairs_bytes"]
    m["app.pairs_per_s"] = rec["pairs_per_s"]
    op = spans[op_idx]
    op_groups = {spans[i].name for i in waves} | {"resume", "writer"}
    m.update(spark_totals(group_stats(log, op_groups, op.start, op.end)))
    return m, per_wave


# --------------------------------------------------------------------------
# traced runs
# --------------------------------------------------------------------------
def run_traced(bench, workloads):
    if bench.workload == "harvest":
        m, detail = _traced_harvest(bench)
    else:
        m, detail = _traced_curate(bench, workloads)
    metrics = {k: {"value": float(m.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    return metrics, detail


def _write_spans(bench, tracer, extra):
    out_dir = os.path.join(os.path.dirname(bench.work), "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{bench.workload}-seed{bench.seed}.json")
    with open(path, "w") as f:
        json.dump(dict(spans=[s.as_dict() for s in tracer.spans], **extra), f, default=str)
    return path


def _restart_local1(bench):
    """Stop the local[n] context (which flushes its event log) and start a
    local[1] one in the same JVM, so the JIT stays warm."""
    bench.spark.stop()
    log = read_event_log(os.path.join(bench.work, "events"))
    spark = bench.start_session(master="local[1]")
    # a second SparkContext in one PySpark 4.1 process cannot deliver python
    # accumulator updates and logs one error per python task; crawlspark
    # uses no accumulators, so silence that logger for the local[1] op
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.scheduler.DAGScheduler", jvm.org.apache.logging.log4j.Level.FATAL)
    return log


def _traced(bench, fn):
    tracer = Tracer(bench)
    bench.tracer = tracer
    tracer.install()
    try:
        return tracer, fn()
    finally:
        tracer.uninstall()
        bench.tracer = None


def _traced_harvest(bench):
    """Warm-up, then the main op traced (with the replay), then its kill leg
    traced on local[1]."""
    main, warm = Case(HARVEST, bench.seed), Case(WARM, bench.seed)
    bench.untimed(lambda: (main.gold(HARVEST["max_waves"]), main.gold(HARVEST["kill_after"]),
                           warm.gold(WARM["max_waves"])))
    bench.warmup = bench.attempt(harvest_op, bench, warm)
    replay = {}

    def inspect(app, fx, out_dir, rec):
        pairs = bench.spark.read.parquet(out_dir).select("image_id")
        replay.update(replay_wave(bench, app, fx, pairs))
        bloom = app.engine.bloom
        rec["bloom_mb"] = sum(b.nbytes for b in bloom.bitsets.values()) / 1e6 if bloom else 0.0

    tracer, traced = _traced(bench, lambda: bench.attempt(harvest_op, bench, main, inspect))
    log = _restart_local1(bench)
    # the kill leg alone keeps the single-core op short
    _, one = _traced(bench, lambda: bench.attempt(harvest_op, bench, main, None, False))

    m, per_wave = {}, []
    if traced is not None:
        m, per_wave = crawl_layer_metrics(bench, tracer, traced, log)
        m.update({k: v for k, v in replay.items() if k != "replay"})
        m["trace.op_s"] = traced["op_s"]
        if one is not None:
            m["engine.speedup_1_to_n"] = one["kill_leg_s"] / traced["kill_leg_s"]
    m["trace.spans"] = len(tracer.spans)
    detail = dict(per_wave=per_wave, replay=replay.get("replay"),
                  traced_op_s=(traced or {}).get("op_s"), local1_op_s=(one or {}).get("op_s"))
    detail["spans_file"] = _write_spans(bench, tracer, detail)
    return m, detail


def _traced_curate(bench, workloads):
    """Warm-up pass, then a traced pass, then a traced pass on local[1]."""
    import __spark_entry__ as E
    from crawlspark.datapipe import release_caches

    names = workloads.curate_order(bench.seed)
    want = bench.untimed(lambda: workloads.expected_results(names))
    queries = E.queries()

    def one_pass():
        per_query = {}
        with bench.phase("op"):
            for n in names:
                per_query[n] = bench.attempt(workloads.one_query, bench, queries[n], n, want[n])
                release_caches(bench.spark)
        return per_query if None not in per_query.values() else None

    one_pass()  # warm-up
    tracer, traced = _traced(bench, one_pass)
    log = _restart_local1(bench)
    _, one = _traced(bench, one_pass)

    m = {}
    if traced is not None:
        m = {f"datapipe.{n}_s": v for n, v in traced.items()}
        op = next(s for s in tracer.spans if s.name == "op")
        m.update(spark_totals(group_stats(log, {f"query-{n}" for n in names},
                                          op.start, op.end)))
        m["trace.op_s"] = sum(traced.values())
        if one is not None:
            m["engine.speedup_1_to_n"] = sum(one.values()) / sum(traced.values())
    m["trace.spans"] = len(tracer.spans)
    detail = dict(traced_s=traced, local1_s=one)
    detail["spans_file"] = _write_spans(bench, tracer, detail)
    return m, detail
