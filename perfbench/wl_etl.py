"""etl_nightly: the nightly run from a directory of daily access logs to
committed gold facts, then clearCache.

A nightly run is a batch job in a fresh process, so each pass is cold:
there is no warm-up, and the first pass pays plan compilation and Python
worker start as a cron-started run does. Input: D daily TSV files of R
lines each (gen.generate_access_logs), 190 distinct UAs and 2080 distinct
IPs.
"""

from __future__ import annotations

import os
import shutil
import time

import duckdb

import gen
from spans import SpanStats, duration, p50

DAYS = 8
LINES_PER_DAY = 5000
ETL_FACTS = ("downloads", "views", "doc_downloads", "browsers", "referrer",
             "search_terms", "cache_downloads", "cache_views")


class EtlNightly:
    unit_span = "etl.nightly"
    name = "etl_nightly"
    cold_units = True  # a pass is the first of its process

    def __init__(self, ctx):
        self.ctx = ctx
        self.logs = os.path.join(ctx.work, "logs")
        self.gold = os.path.join(ctx.work, "gold")

    def generate(self) -> None:
        shutil.rmtree(self.logs, ignore_errors=True)
        self.truth = gen.generate_access_logs(self.ctx.seed, self.logs, DAYS, LINES_PER_DAY)

    def _nightly(self) -> tuple[float, list[float], int]:
        """One nightly run: its wall seconds without the untimed silver-row
        count, the seconds of each engine call, and that count."""
        from irstats2_spark.etl.pipeline import build_silver_events, build_store
        from irstats2_spark.sources.access_log import read_access_logs
        from irstats2_spark.sources.storage import write_fact

        spark, tr = self.ctx.spark, self.ctx.tracer
        calls = []
        t0 = time.perf_counter()
        with tr.span("etl.nightly"):
            with tr.span("etl.pipeline.build_store"):
                raw = read_access_logs(spark, self.logs)
                silver = build_silver_events(raw)
                store = build_store(silver)
            calls.append(time.perf_counter() - t0)
            for fact in ETL_FACTS:
                with tr.span("sources.storage.write_fact", fact=fact):
                    s = time.perf_counter()
                    write_fact(store.facts[fact], self.gold, fact)
                    calls.append(time.perf_counter() - s)
            s = time.perf_counter()
            silver_rows = silver.count()  # cached by build_store
            paused = time.perf_counter() - s
            spark.catalog.clearCache()
        return time.perf_counter() - t0 - paused, calls, silver_rows

    def run(self) -> dict:
        """One cold nightly run, whatever ``--seconds`` says: a second
        pass in the same process would be warm, which a nightly job
        never is."""
        unit, calls, silver_rows = self._nightly()
        problems = self.check(silver_rows)
        return {"units": [unit], "calls": calls, "attempted": 1,
                "failed": int(bool(problems)), "problems": problems,
                "extra": {"etl_records_per_s": self.truth["lines"] / unit,
                          "input": self.truth}}

    def check(self, silver_rows: int) -> list[str]:
        """Untimed: the silver count and the committed gold against the
        planted truth, and the lifetime caches against the daily facts."""
        t = self.truth
        con = duckdb.connect()
        total = {f: con.execute(
            f"SELECT coalesce(sum(count), 0) FROM read_parquet('{self.gold}/fact_{f}/*/*.parquet')"
        ).fetchone()[0] for f in ("downloads", "views", "cache_downloads", "cache_views")}
        con.close()
        bad = []
        if silver_rows != t["survivors"]:
            bad.append(f"silver rows {silver_rows} != planted survivors {t['survivors']}")
        if total["downloads"] + total["views"] != silver_rows:
            bad.append(f"downloads+views {total['downloads'] + total['views']} != silver {silver_rows}")
        if total["downloads"] != t["downloads"]:
            bad.append(f"downloads {total['downloads']} != planted {t['downloads']}")
        for f in ("downloads", "views"):
            if total[f"cache_{f}"] != total[f]:
                bad.append(f"cache_{f} {total[f'cache_{f}']} != {f} {total[f]}")
        return bad

    def probe(self) -> dict:
        """Traced run only: the lazy layers timed alone on the same input.
        The filters run over one cached copy of the parsed events, so each
        count measures the filter and a scan of memory."""
        from pyspark.sql import functions as F

        from irstats2_spark.operators.filters import repeat_filter, robots_filter
        from irstats2_spark.sources.access_log import read_access_logs, with_event_columns

        spark, tr = self.ctx.spark, self.ctx.tracer
        out: dict[str, float] = {}
        with tr.span("sources.access_log"):
            s = time.perf_counter()
            parsed = read_access_logs(spark, self.logs)
            out["sources.access_log.rows_out"] = parsed.count()
            out["sources.access_log.s"] = time.perf_counter() - s
        events = with_event_columns(parsed).filter(F.col("datestamp").isNotNull()).cache()
        n_events = events.count()
        for name, fn in (("robots_filter", robots_filter), ("repeat_filter", repeat_filter)):
            with tr.span(f"operators.filters.{name}"):
                s = time.perf_counter()
                kept = fn(events).count()
                out[f"operators.filters.{name}.s"] = time.perf_counter() - s
            out[f"operators.filters.{name}.rows_in"] = n_events
            out[f"operators.filters.{name}.rows_out"] = kept
        events.unpersist()
        return out

    def layers(self, stats: SpanStats, probe: dict) -> dict:
        t = self.truth
        out = dict(probe)
        out["sources.access_log.lines_in"] = t["lines"]
        out["sources.access_log.malformed_dropped"] = t["lines"] - probe["sources.access_log.rows_out"]
        out["operators.filters.repeat_filter.shuffle_write_bytes"] = stats.spark_total(
            stats.named("operators.filters.repeat_filter"), "shuffle_write_bytes")
        builds = stats.named("etl.pipeline.build_store")
        out["etl.pipeline.build_store.construction_s"] = p50(duration(s) for s in builds)
        out["etl.pipeline.build_store.construction_jobs"] = p50(stats.jobs(s) for s in builds)
        writes = stats.named("sources.storage.write_fact")
        passes = max(len(builds), 1)
        out["sources.storage.write_fact.s"] = sum(duration(s) for s in writes) / passes
        for f in ("jobs", "tasks", "bytes_written"):
            out[f"sources.storage.write_fact.{f}"] = stats.spark_total(writes, f) / passes
        out["sources.storage.write_fact.files_written"] = count_files(self.gold)
        for fact in ETL_FACTS:
            out[f"sources.storage.write_fact.{fact}.s"] = p50(
                duration(s) for s in writes if s["attrs"]["fact"] == fact)
        return out


def count_files(root: str) -> int:
    """Parquet part files under the last pass's gold directory."""
    n = 0
    for _dirpath, _dirs, files in os.walk(root):
        n += sum(f.endswith(".parquet") for f in files)
    return n
