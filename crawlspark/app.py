"""CrawlApp — the high-level facade (reference analog: scrapemateapp).

Mirrors the reference's Config surface (scrapemateapp/config.go:17-213):
concurrency, fetch mode (plain/js/stealth — here fetch-sim flavors), writers,
init/seed jobs, proxies. Writers are true fan-out: every sink sees every result —
a documented upgrade over the reference, whose writers *compete* on one Go
channel so each result reaches exactly one writer
(scrapemateapp.go:56-67; SURVEY.md §2.1 O-4).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crawlspark import constants as C
from crawlspark.engine import CrawlConfig, CrawlEngine, CrawlRun


@dataclass
class AppConfig:
    """Mirrors the scrapemateapp.Config options (config.go:17-213) that
    change a crawl here. The reference's cache toggle, provider choice and
    exit-on-inactivity have no field: seen-set dedup always runs, the
    table-backed frontier is the only provider, and the BSP loop always
    exits at the pending-empty fixpoint (scrapemate.go:247-276)."""

    concurrency: int = 1          # → wave budget multiplier (worker-pool analog)
    fetch_mode: str = "http"      # "http" | "js" | "stealth" (fetch-sim flavors)
    n_proxies: int = 0            # F-18 round-robin column when > 0
    max_waves: int = C.DEFAULT_MAX_WAVES
    wave_budget: int = C.DEFAULT_WAVE_BUDGET
    default_host_budget: int = C.DEFAULT_HOST_BUDGET
    validate_images: bool = True
    job_types: dict | None = None  # P-2 registry (name → jobtypes.JobTypeSpec)
    enable_hooks: bool = False     # F-29 hooks side-output column
    decode_gzip_body: bool = False  # F-11 transparent gzip body decode
    screenshots: bool = False      # O-5 binary payload on results
    workdir: str | None = None
    writers: list = field(default_factory=list)  # [(kind, path)] kind ∈ csv|json|parquet


class CsvWriter:
    """O-2 parity (adapters/writers/csvwriter/csvwriter.go:26-85):
    headers once, every result row — as a partitioned CSV directory."""

    def __init__(self, path: str):
        self.path = path

    def write(self, results: DataFrame) -> None:
        flat = results.drop("phash") if "phash" in results.columns else results
        flat.write.mode("overwrite").option("header", True).csv(self.path)


class JsonWriter:
    """O-3 parity (adapters/writers/jsonwriter/jsonwriter.go:22-47): NDJSON."""

    def __init__(self, path: str):
        self.path = path

    def write(self, results: DataFrame) -> None:
        results.write.mode("overwrite").json(self.path)


class ParquetWriter:
    def __init__(self, path: str):
        self.path = path

    def write(self, results: DataFrame) -> None:
        results.write.mode("overwrite").parquet(self.path)


class BinaryWriter:
    """O-5 screenshot/binary sink (examples/books-to-scrape-simple/
    main.go:169-186: one screenshots/{UPC}.png per result): writes each
    result's `screenshot` bytes to {path}/{job_id}.bin via foreachPartition —
    executor-side file writes, no driver collect."""

    def __init__(self, path: str):
        self.path = path

    def write(self, results: DataFrame) -> None:
        if "screenshot" not in results.columns:
            raise ValueError("binary writer needs a `screenshot` column (CrawlConfig.screenshots)")
        path = self.path
        os.makedirs(path, exist_ok=True)

        def dump(rows):
            for r in rows:
                if r["screenshot"] is not None:
                    with open(os.path.join(path, f"{r['job_id']}.bin"), "wb") as f:
                        f.write(bytes(r["screenshot"]))

        results.select("job_id", "screenshot").foreachPartition(dump)


_WRITERS = {"csv": CsvWriter, "json": JsonWriter, "parquet": ParquetWriter, "binary": BinaryWriter}


class CrawlApp:
    """NewScrapeMateApp + Start analog (scrapemateapp.go:33-84): wire the
    engine from config, run seeds through it, fan results out to writers."""

    def __init__(
        self,
        spark,
        pages: DataFrame,
        robots: DataFrame | None = None,
        budgets: DataFrame | None = None,
        images: DataFrame | None = None,
        config: AppConfig | None = None,
    ):
        self.spark = spark
        self.cfg = config or AppConfig()
        if robots is None:
            robots = spark.createDataFrame(
                [], "host string, disallow_prefixes array<string>, crawl_delay_us long"
            )
        if budgets is None:
            budgets = spark.createDataFrame([], "host string, max_per_wave int")
        engine_cfg = CrawlConfig(
            wave_budget=self.cfg.wave_budget * max(1, self.cfg.concurrency),
            default_host_budget=self.cfg.default_host_budget,
            # the BSP loop always exits at the pending-empty fixpoint (the
            # batch analog of inactivity-exit); max_waves is the safety guard
            max_waves=self.cfg.max_waves,
            validate_images=self.cfg.validate_images and images is not None,
            job_types=self.cfg.job_types,
            # F-24: js mode renders — observes client-side-injected links
            fetcher="js" if self.cfg.fetch_mode == "js" else "http",
            # F-23: the stealth fetch mode attaches a browser header profile
            fetch_profile="chrome" if self.cfg.fetch_mode == "stealth" else None,
            enable_hooks=self.cfg.enable_hooks,
            decode_gzip_body=self.cfg.decode_gzip_body,
            screenshots=self.cfg.screenshots and images is not None,
            workdir=self.cfg.workdir,
        )
        self.engine = CrawlEngine(spark, pages, robots, budgets, images, engine_cfg)

    def start(self, seeds: DataFrame, resume: bool = False) -> CrawlRun:
        """app.Start(ctx, seeds...) analog — runs the crawl, then every
        configured writer consumes the FULL results stream (true fan-out)."""
        run = self.engine.run(seeds, resume=resume)
        results = run.results
        if self.cfg.n_proxies > 0:
            # F-18: Next() = counter % len(proxies) (adapters/proxy/proxy.go:54-60)
            from crawlspark.proxy import round_robin_expr

            results = results.withColumn(
                "proxy_id", round_robin_expr(F.col("rank") - 1, self.cfg.n_proxies)
            )
        for kind, path in self.cfg.writers:
            _WRITERS[kind](os.fspath(path)).write(results)
        return run
