"""report_page: report pages replayed in a closed loop through the HTTP
shells, one page after another, each page's panels concurrently.

A page is the panels of ``DEFAULT_REPORTS["main"]``: KeyFigures goes to
``handle_fp_stats``, every other panel to ``handle_get`` with the panel's
view, datatype and options. Pages are the repository, a single eprint
and divisions, authors and subjects set pages with the ranges _ALL_, 1y
and 6m, visited with a Zipf visit profile (see ``block``). The
ResultCache starts empty, so first visits miss and repeat visits hit.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb
import numpy as np

import catalog_layer
import gen
from spans import SpanStats, duration, p50

SET_KINDS = ("divisions", "authors", "subjects")
VISITS = (8, 4, 2, 2)


class TimedCache:
    """Delegates to a ResultCache; counts hits and misses and times each
    lookup and store. Passed to ``handle_get`` as ``cache=``."""

    def __init__(self, inner, tracer):
        self.inner, self.tracer = inner, tracer
        self.hits = self.misses = 0
        self._lock = threading.Lock()  # a page's panels call in parallel
        self.get_s: list[float] = []
        self.put_s: list[float] = []

    def get(self, params):
        with self.tracer.span("plans.report.ResultCache.get"):
            s = time.perf_counter()
            hit = self.inner.get(params)
            self.get_s.append(time.perf_counter() - s)
        with self._lock:
            if hit is None:
                self.misses += 1
            else:
                self.hits += 1
        req = self.tracer.current()  # the handle_get span, when traced
        if req is not None:
            req["attrs"]["hit"] = hit is not None
        return hit

    def put(self, params, rows):
        with self.tracer.span("plans.report.ResultCache.put"):
            s = time.perf_counter()
            self.inner.put(params, rows)
            self.put_s.append(time.perf_counter() - s)


def known_defect(req) -> str | None:
    """The kind of known engine defect a request falls under, if any;
    these requests are timed but their differences from the reference
    are reported apart from failures (NOTES.md, "Defects")."""
    kind, uri, params = req
    p = dict(params)
    parts = uri.split("/")[4:]
    if kind != "get" or p["view"] != "Table" or not parts:
        return None
    if parts[0] != "eprint":
        return "set page Table ignores top"
    if p["range"] == "_ALL_" and p["datatype"] == "downloads":
        return "eprint _ALL_ Table empty"
    return None


def _window(range_: str) -> tuple[int | None, int | None]:
    """(from, to) as YYYYMMDD for the fixed TODAY: to is yesterday, a
    range counts back whole years or months from it."""
    if range_ == "_ALL_":
        return None, None
    to = gen.TODAY - dt.timedelta(days=1)
    n, unit = int(range_[:-1]), range_[-1]
    months = to.year * 12 + to.month - 1 - (12 * n if unit == "y" else n)
    frm = dt.date(months // 12, months % 12 + 1, to.day)
    return int(frm.strftime("%Y%m%d")), int(to.strftime("%Y%m%d"))


class ReportPage:
    unit_span = "report.page"
    name = "report_page"
    cold_units = False  # pages are measured after warm-up pages

    def __init__(self, ctx):
        self.ctx = ctx
        self.gold = os.path.join(ctx.work, "gold")
        self.cache_dir = os.path.join(ctx.work, "result_cache")

    def generate(self) -> None:
        self.data = gen.generate_report_data(self.ctx.seed)

    def stage(self) -> None:
        """Gold facts written with ``write_fact``, the eprints table, and
        dimensions from ``build_dimensions`` over eprints and subjects."""
        from dataclasses import replace

        from irstats2_spark import schemas
        from irstats2_spark.etl.sets import DEFAULT_SETS, build_dimensions
        from irstats2_spark.sources.storage import write_fact

        spark = self.ctx.spark
        shutil.rmtree(self.gold, ignore_errors=True)
        for name, pdf in self.data["gold"].items():
            write_fact(spark.createDataFrame(pdf, schemas.FACT), self.gold, name)
        eprints = spark.createDataFrame(self.data["eprints"], schemas.EPRINT)
        subjects = spark.createDataFrame(self.data["subjects"], schemas.SUBJECT)
        # eprints and the dimensions stay in memory, materialized once
        self.eprints = eprints.cache()
        # only the sets the pages visit; no page asks for a grouping
        sets = tuple(replace(c, groupings=()) for c in DEFAULT_SETS if c.set_name in SET_KINDS)
        dims = build_dimensions(eprints, sets=sets, subjects=subjects)
        self.dims = {k: None if v is None else v.cache() for k, v in dims.items()}
        for df in (self.eprints, *self.dims.values()):
            if df is not None:
                df.count()
        self._population()

    def open_store(self):
        from irstats2_spark.plans.builder import StatsStore
        from irstats2_spark.sources.storage import read_fact

        facts = {name: read_fact(self.ctx.spark, self.gold, name) for name in self.data["gold"]}
        return StatsStore(facts=facts, eprints=self.eprints, **self.dims)

    def _population(self) -> None:
        """Seeded context values: eprints drawn Zipf by popularity, and
        set values of the divisions, authors and subjects sets."""
        rng = np.random.default_rng(self.ctx.seed + 1)
        sets = self.data["sets"]
        self.contexts = {"eprint": [("eprint", str(e)) for e in dict.fromkeys(
            gen.zipf_ids(rng, len(self.data["eprints"]), 400))]}
        for set_name in SET_KINDS:
            values = sorted(sets[sets.set_name == set_name].set_value.unique())
            self.contexts[set_name] = [(set_name, v) for v in rng.permutation(values)]
        self.warm_pages = [(self.contexts["eprint"].pop(), "1y"),
                           (self.contexts["divisions"].pop(0), "_ALL_")]
        self.pages = self.block()

    def block(self) -> list[tuple]:
        """The 16 page visits a run measures: the repository page 8 times, a set
        page 4 times, an eprint page and a second set page twice each, a
        Zipf profile over four pages in a seeded order. Every page is new
        to the run, so three of four cacheable panel requests hit: hits
        set p50 and misses set p90. The seed picks the eprint, the set
        kinds and values, and the order; each page's range is fixed."""
        rng = np.random.default_rng(self.ctx.seed + 2)
        kinds = rng.permutation(SET_KINDS)
        slots = (
            (("repository", None), "_ALL_"),
            (self.contexts[kinds[0]].pop(), "1y"),
            (self.contexts["eprint"].pop(0), "_ALL_"),
            (self.contexts[kinds[1]].pop(), "6m"),
        )
        block = [page for page, k in zip(slots, VISITS) for _ in range(k)]
        return [block[i] for i in rng.permutation(len(block))]

    @staticmethod
    def requests(page) -> list[tuple]:
        """The main report's panels for one (context, range)."""
        from irstats2_spark.plans.registry import DEFAULT_REPORTS

        (kind, value), range_ = page
        uri = "/cgi/stats/report" if kind == "repository" else \
            f"/cgi/stats/report/{kind}/{value}"
        out = []
        for item in DEFAULT_REPORTS["main"].items:
            if item.plugin == "KeyFigures":
                out.append(("fp_stats", "/cgi/stats/fp_stats", ()))
                continue
            params = {"view": item.plugin, "datatype": item.datatype, "range": range_,
                      **{k: str(v) for k, v in item.options.items()}}
            out.append(("get", uri, tuple(sorted(params.items()))))
        return out

    def warm_up(self) -> None:
        """Untimed pages against a throwaway cache, so the measured cache
        starts empty and the measured pages do not pay first compiles."""
        from irstats2_spark.plans.report import ResultCache

        self.store = self.open_store()
        warm = TimedCache(ResultCache(os.path.join(self.ctx.work, "warm_cache")), self.ctx.tracer)
        for page in self.warm_pages:
            self._page(page, warm, None, {})

    def _call(self, req, cache, page_span=None):
        from irstats2_spark.plans.http import handle_fp_stats, handle_get

        kind, uri, params = req
        with self.ctx.tracer.span("plans.http.handle_get" if kind == "get"
                                  else "plans.http.handle_fp_stats", parent=page_span) as sp:
            s = time.perf_counter()
            if kind == "get":
                status, _ctype, body = handle_get(self.ctx.spark, self.store, uri, dict(params),
                                                  cache=cache, today=gen.TODAY)
            else:
                status, _ctype, body = handle_fp_stats(self.ctx.spark, self.store,
                                                       today=gen.TODAY)
            took = time.perf_counter() - s
            if sp is not None:
                sp["attrs"]["body_bytes"] = len(body)
        return took, status, body

    def _page(self, page, cache, latencies, bodies) -> list[tuple]:
        """One page's panels, concurrently; returns (request, problem or
        None) per panel."""
        reqs = self.requests(page)
        with ThreadPoolExecutor(max_workers=min(6, self.ctx.cpus)) as pool:
            with self.ctx.tracer.span("report.page") as page_span:
                results = list(pool.map(lambda r: self._call(r, cache, page_span), reqs))
        out = []
        for req, (took, status, body) in zip(reqs, results):
            if latencies is not None:
                latencies.append(took)
            why = None
            if status != 200:
                why = f"status {status}"
            elif bodies.setdefault(req, body) != body:
                why = "repeat body differs from the first"
            out.append((req, why))
        return out

    def run(self) -> dict:
        """The block of pages from an empty cache, a fixed amount of work
        whatever it takes."""
        from irstats2_spark.plans.report import ResultCache

        shutil.rmtree(self.cache_dir, ignore_errors=True)
        self.cache = TimedCache(ResultCache(self.cache_dir), self.ctx.tracer)
        latencies: list[float] = []
        units: list[float] = []
        bodies: dict = {}
        visits: list[tuple] = []
        for page in self.pages:
            s = time.perf_counter()
            visits += self._page(page, self.cache, latencies, bodies)
            units.append(time.perf_counter() - s)
        wrong, known = self.check(bodies)
        problems = [f"{r}: {why}" for r, why in visits if why]
        problems += [f"{r}: {why}" for r, why in wrong.items()]
        hits, misses = self.cache.hits, self.cache.misses
        return {"units": units, "calls": latencies, "attempted": len(visits),
                "failed": sum(1 for r, why in visits if why or r in wrong),
                "problems": problems,
                "extra": {"pages_per_s": len(units) / sum(units),
                          "pages": len(units), "requests": len(visits),
                          "distinct_requests": len(bodies),
                          "cache_hit_ratio": hits / max(hits + misses, 1),
                          "known_defect_requests": len(known),
                          "known_defects": [f"{r}: {why}" for r, why in known.items()]}}

    # ------------------------------------------------------------------
    # independent answers: DuckDB over the generated gold
    # ------------------------------------------------------------------

    def check(self, bodies: dict) -> tuple[dict, dict]:
        """(wrong, known): bodies that differ from the reference answer.
        A difference in a request of a known defect's kind (see
        ``known_defect``) is reported in ``known``, not counted as wrong."""
        con = duckdb.connect()
        for name, pdf in self.data["gold"].items():
            con.register(name, pdf)
        con.register("members", self.data["sets"])
        wrong, known = {}, {}
        for req, body in bodies.items():
            want = self._oracle(con, req)
            got = json.loads(body)
            if isinstance(want, list):
                got = sorted(tuple(r.values()) for r in got)
                want = sorted(want)
            if got != want:
                defect = known_defect(req)
                (known if defect else wrong)[req] = \
                    f"{defect or 'wrong'}: body {str(got)[:200]} != reference {str(want)[:200]}"
        con.close()
        return wrong, known

    def _oracle(self, con, req):
        """The reference answer: a Graph counts daily downloads from the
        eprint's go-live date; a Table is the top 10 eprints or values
        within the page's context and window, read from the lifetime
        cache for an _ALL_ range where one exists."""
        kind, uri, params = req
        if kind == "fp_stats":
            return self._fp_stats(con)
        p = dict(params)
        parts = uri.split("/")[4:]
        window = _window(p["range"])
        frm, to = window
        dtype = p["datatype"]
        where, args = [], []
        if parts and parts[0] == "eprint":
            epid = int(parts[1])
            where.append("eprintid = ?")
            args.append(epid)
            if p["view"] == "Graph":
                # its calendar still spans the requested window
                frm = max(frm or 0, self.data["live"][epid])
        elif parts:
            where.append("eprintid IN (SELECT eprintid FROM members "
                         "WHERE set_name = ? AND set_value = ?)")
            args += parts[:2]
        if p["view"] == "Graph":
            return self._graph(con, where, args, window, frm, to)
        table = dtype
        if p["range"] == "_ALL_" and f"cache_{dtype}" in self.data["gold"]:
            table = f"cache_{dtype}"
        if frm is not None:
            where.append("datestamp BETWEEN ? AND ?")
            args += [frm, to]
        cond = " AND ".join(where) or "TRUE"
        key = "eprintid" if p["top"] == "eprint" else "value"
        rows = con.execute(
            f"SELECT {key}, sum(count) AS c FROM {table} WHERE {cond} GROUP BY {key} "
            f"ORDER BY c DESC, {key} ASC LIMIT 10", args).fetchall()
        return [(k, int(c)) for k, c in rows]

    @staticmethod
    def _graph(con, where, args, window, frm, to):
        """Daily downloads summed per month over every calendar day of the
        window; an _ALL_ window is the span of the selected data."""
        cond = " AND ".join(where) or "TRUE"
        daily = dict(con.execute(
            f"SELECT datestamp, sum(count) FROM downloads WHERE {cond}"
            + (" AND datestamp >= ?" if frm is not None else "")
            + (" AND datestamp <= ?" if to is not None else "")
            + " GROUP BY datestamp",
            args + [x for x in (frm, to) if x is not None]).fetchall())
        first, last = window
        if first is None:
            if not daily:
                return []
            first, last = min(daily), max(daily)
        day = dt.datetime.strptime(str(first), "%Y%m%d").date()
        end = dt.datetime.strptime(str(last), "%Y%m%d").date()
        months: dict[int, int] = {}
        while day <= end:
            k = int(day.strftime("%Y%m%d"))
            months[k // 100] = months.get(k // 100, 0) + int(daily.get(k, 0))
            day += dt.timedelta(days=1)
        return sorted(months.items())

    def _fp_stats(self, con):
        n_docs = sum(e["full_text_status"] in ("public", "restricted")
                     for e in self.data["eprints"])
        dl_all = con.execute("SELECT sum(count) FROM downloads").fetchone()[0]
        frm, to = _window("1y")
        dl_year = con.execute("SELECT coalesce(sum(count), 0) FROM downloads "
                              "WHERE datestamp BETWEEN ? AND ?", [frm, to]).fetchone()[0]
        return {"full_texts_all": f"{n_docs:,}",
                "full_text_downloads_all": f"{int(dl_all):,}",
                "full_text_downloads_year": f"{int(dl_year):,}"}

    def instrument(self) -> None:
        """Traced run only: wrap the lazy view and plan layers the HTTP
        shell calls, so their construction gets spans, and remember each
        distinct ``compile_context`` call for the timing probe."""
        from irstats2_spark.plans import builder, http, views

        tracer, self.compiled = self.ctx.tracer, {}

        def wrap(name, fn, record=False):
            def wrapper(*args, **kwargs):
                if record:
                    self.compiled.setdefault(repr((args[1:], sorted(kwargs.items()))),
                                             (args, kwargs))
                with tracer.span(name):
                    return fn(*args, **kwargs)
            return wrapper

        # the patched names stay patched for the rest of this process,
        # which ends with the run
        compile_ctx = wrap("plans.builder.compile_context", builder.compile_context, True)
        http.compile_context = views.compile_context = compile_ctx
        views.graph_series = wrap("plans.views.graph_series", views.graph_series)

    def probe(self) -> dict:
        """Each distinct compiled context timed alone: construction,
        Catalyst phases and collect. Then the catalog layer's queries,
        which no end-to-end metric times."""
        from irstats2_spark.plans import builder

        out = {"construction": [], "planning": [], "collect": []}
        for args, kwargs in list(self.compiled.values())[:20]:
            with self.ctx.tracer.span("plans.builder.compile_context.alone") as sp:
                s = time.perf_counter()
                df = builder.compile_context(*args, **kwargs)
                out["construction"].append(time.perf_counter() - s)
                qe = df._jdf.queryExecution()
                s = time.perf_counter()
                rows = df.collect()
                out["collect"].append(time.perf_counter() - s)
                phases = qe.tracker().phases()  # a Scala Map of PhaseSummary
                found = [phases.get(k) for k in ("analysis", "optimization", "planning")]
                out["planning"].append(
                    sum(p.get().durationMs() for p in found if p.isDefined()) / 1e3)
                sp["attrs"]["rows"] = len(rows)
        self.catalog = catalog_layer.run(self.ctx.spark, self.ctx.tracer, self.ctx.seed,
                                         self.ctx.work)
        out["attempted"] = self.catalog["attempted"]
        out["problems"] = self.catalog["problems"]
        return out

    def layers(self, stats: SpanStats, probe: dict) -> dict:
        out: dict[str, float] = {}
        c = self.cache
        out["plans.report.ResultCache.hits"] = c.hits
        out["plans.report.ResultCache.misses"] = c.misses
        out["plans.report.ResultCache.hit_ratio"] = c.hits / max(c.hits + c.misses, 1)
        out["plans.report.ResultCache.get_ms_p50"] = p50(c.get_s) * 1e3
        out["plans.report.ResultCache.put_ms_p50"] = p50(c.put_s) * 1e3
        gets = stats.named("plans.http.handle_get")
        out["plans.http.handle_get.self_ms_p50"] = p50(stats.self_s(s) for s in gets) * 1e3
        for label, flag in (("hit", True), ("miss", False)):
            sel = [s for s in gets if s["attrs"].get("hit") is flag]
            out[f"plans.http.handle_get.jobs_per_{label}"] = \
                stats.spark_total(sel, "jobs") / max(len(sel), 1)
        out["plans.http.handle_get.body_bytes"] = p50(s["attrs"]["body_bytes"] for s in gets)
        graphs = stats.named("plans.views.graph_series")
        out["plans.views.graph_series.construction_ms_p50"] = \
            p50(duration(s) for s in graphs) * 1e3
        out["plans.views.graph_series.construction_jobs"] = \
            stats.spark_total(graphs, "jobs") / max(len(graphs), 1)
        pre = "plans.builder.compile_context."
        out[pre + "construction_ms_p50"] = p50(probe["construction"]) * 1e3
        out[pre + "planning_ms_p50"] = p50(probe["planning"]) * 1e3
        out[pre + "collect_ms_p50"] = p50(probe["collect"]) * 1e3
        alone = stats.named("plans.builder.compile_context.alone")
        out[pre + "rows_read_per_row_returned"] = stats.spark_total(alone, "input_records") / max(
            sum(s["attrs"]["rows"] for s in alone), 1)
        out.update(catalog_layer.layers(stats, self.catalog))
        return out
