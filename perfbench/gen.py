"""Seeded input generators with ground truth computed in plain Python.

Nothing here imports the engine: robot classification uses the shipped
pattern files read as text, the repeat-click rule is re-implemented as a
per-key fold, and the report gold, eprints and subjects tables are built
as pandas frames that DuckDB queries directly. The same seed always gives
the same files and the same truth.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import re

import numpy as np
import pandas as pd

TODAY = dt.date(2026, 1, 15)  # fixed "today": yesterday is the last log day
REPEAT_TIMEOUT = 3600

_ROBOT_DATA = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "irstats2_spark", "operators", "data",
)


def _pattern_file(name: str) -> list[str]:
    out = []
    with open(os.path.join(_ROBOT_DATA, name)) as fh:
        for line in fh:
            line = "".join(line.split())
            if line and not line.startswith("#"):
                out.append(line)
    return out


def robot_patterns() -> tuple[re.Pattern, re.Pattern, list[str], list[str]]:
    """(UA regex, IP regex, literal UA fragments, IP prefixes) from the
    shipped lists; matching is unanchored, UAs lowercased, as documented
    for the reference's Robots filter."""
    ua = _pattern_file("default_robots_ua.txt")
    ips = _pattern_file("default_robots_ip.txt")
    ip_pats = []
    for p in ips:
        if p.count(".") < 3 and not p.endswith("."):
            p += "."
        ip_pats.append(re.escape(p))
    literal = [p for p in ua if re.fullmatch(r"[a-z][a-z0-9_]{3,}", p)]
    return re.compile("|".join(ua)), re.compile("|".join(ip_pats)), literal, ips


# --------------------------------------------------------------------------
# etl_nightly: access logs in the 7-field Logger.pm TSV format
# --------------------------------------------------------------------------

_BROWSERS = (
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
    "(KHTML, like Gecko) Chrome/{v}.0.{b}.0 Safari/537.36",
    "Mozilla/5.0 (X11; Linux x86_64; rv:{v}.0) Gecko/20100101 Firefox/{v}.0",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_{b}) AppleWebKit/605.1.15 "
    "(KHTML, like Gecko) Version/{v}.1 Safari/605.1.15",
    "Mozilla/5.0 (Linux; Android {b}; Pixel {v}) AppleWebKit/537.36 "
    "(KHTML, like Gecko) Chrome/{v}.0 Mobile Safari/537.36",
    "Opera/9.80 (Windows NT 6.{b}; U; en) Presto/2.{v}.1 Version/12.{b}",
)
_WORDS = (
    "open access repository citation metadata thesis journal archive "
    "statistics download usage analytics library research dataset "
    "preprint physics biology chemistry history economics"
).split()


def _human_uas(rng, n: int, ua_re) -> list[str]:
    out: list[str] = []
    while len(out) < n:
        tpl = _BROWSERS[int(rng.integers(len(_BROWSERS)))]
        ua = tpl.format(v=int(rng.integers(40, 130)), b=int(rng.integers(1, 9999)))
        if not ua_re.search(ua.lower()) and ua not in out:
            out.append(ua)
    return out


def _robot_uas(rng, n: int, literal: list[str], ua_re) -> list[str]:
    picks = rng.choice(len(literal), size=n, replace=False)
    out = [f"Mozilla/5.0 (compatible; {literal[i].capitalize()}/2.{i % 10}; "
           f"+http://example.net/bot)" for i in picks]
    assert all(ua_re.search(u.lower()) for u in out)
    return out


def _random_ip(rng) -> str:
    return ".".join(str(int(x)) for x in rng.integers(1, 255, size=4))


def _human_ips(rng, n: int, ip_re) -> list[str]:
    out: set[str] = set()
    while len(out) < n:
        ip = _random_ip(rng)
        if not ip_re.search(ip):
            out.add(ip)
    return sorted(out)


def _robot_ips(rng, n: int, prefixes: list[str], ip_re) -> list[str]:
    out = []
    for i in rng.choice(len(prefixes), size=n, replace=False):
        p = prefixes[i]
        parts = [x for x in p.split(".") if x]
        while len(parts) < 4:
            parts.append(str(int(rng.integers(1, 255))))
        ip = ".".join(parts)
        assert ip_re.search(ip)
        out.append(ip)
    return out


def _referrer(rng, epid: int) -> str:
    r = rng.random()
    q = "+".join(rng.choice(_WORDS, size=int(rng.integers(1, 4))))
    if r < 0.40:
        return ""
    if r < 0.50:
        return f"https://www.google.com/search?q={q}&hl=en"
    if r < 0.55:
        return f"https://search.yahoo.com/search?p={q}"
    if r < 0.60:
        return f"https://www.bing.com/search?q={q}&form=QBLH"
    if r < 0.70:
        return f"https://repo.example.org/cgi/search/simple?q={q}&_action_search=Search"
    if r < 0.80:
        return str(int(rng.integers(1, epid + 50)))  # bare eprintid: internal
    host = ("scholar.example.com", "blog.example.net", "news.example.org")[
        int(rng.integers(3))
    ]
    return f"https://{host}/post/{int(rng.integers(1, 999))}"


def zipf_ids(rng, n_items: int, size: int, a: float = 1.1) -> np.ndarray:
    """Zipf-distributed 1-based ids over a fixed item population."""
    w = 1.0 / np.arange(1, n_items + 1) ** a
    perm = rng.permutation(n_items) + 1
    return perm[rng.choice(n_items, size=size, p=w / w.sum())]


LOG_EPRINTS = 400
HUMAN_UAS, ROBOT_UAS = 150, 40
HUMAN_IPS, ROBOT_IPS = 2000, 80


def generate_access_logs(seed: int, out_dir: str, days: int, lines_per_day: int) -> dict:
    """Write ``days`` daily files of ``lines_per_day`` lines each under
    ``out_dir`` and return the ground truth counts.

    Mix per line: 1% malformed, ~9% robot UA, ~5% robot IP, ~18% repeat
    clicks of an earlier human event inside the repeat window, the rest
    fresh human hits; half are downloads. No two lines are identical, so
    the exact-line dedup drops nothing."""
    rng = np.random.default_rng(seed)
    ua_re, ip_re, literal, prefixes = robot_patterns()
    humans_ua = _human_uas(rng, HUMAN_UAS, ua_re)
    robots_ua = _robot_uas(rng, ROBOT_UAS, literal, ua_re)
    humans_ip = _human_ips(rng, HUMAN_IPS, ip_re)
    robots_ip = _robot_ips(rng, ROBOT_IPS, prefixes, ip_re)
    os.makedirs(out_dir, exist_ok=True)
    first = TODAY - dt.timedelta(days=days)
    epoch0 = int(dt.datetime(first.year, first.month, first.day,
                             tzinfo=dt.timezone.utc).timestamp())

    events = []  # (epoch, ip, ua, ref, epid, docid, robot)
    seen: set[tuple] = set()
    n = days * lines_per_day
    kinds = rng.random(n)
    fresh_epids = zipf_ids(rng, LOG_EPRINTS, n)
    malformed = 0
    human_pool: list[tuple] = []
    per_day: dict[int, list[str]] = {d: [] for d in range(days)}
    for i in range(n):
        day = i // lines_per_day
        t = epoch0 + day * 86400 + int(rng.integers(0, 86400 - REPEAT_TIMEOUT))
        k = kinds[i]
        if k < 0.01:
            bad = ("{}\t{}\t{}".format(
                dt.datetime.fromtimestamp(t, dt.timezone.utc).strftime(
                    "%Y-%m-%dT%H:%M:%SZ"), _random_ip(rng), "truncated")
                if rng.random() < 0.5 else
                "{}\t{}\tMozilla/5.0\t\t?abstract=yes\t7\t".format(
                    dt.datetime.fromtimestamp(t, dt.timezone.utc).strftime(
                        "%d/%m/%Y %H:%M:%S"), _random_ip(rng)))
            per_day[day].append(bad)
            malformed += 1
            continue
        if k < 0.19 and human_pool:  # repeat click inside the window
            pt, ip, ua, ref, epid, docid = human_pool[int(rng.integers(len(human_pool)))]
            t = pt + int(rng.integers(1, REPEAT_TIMEOUT))
            day = min((t - epoch0) // 86400, days - 1)
            robot = False
        else:
            epid = int(fresh_epids[i])
            docid = epid * 10 + int(rng.integers(1, 3)) if rng.random() < 0.5 else None
            ref = _referrer(rng, epid)
            robot = k > 0.86
            if robot and k > 0.95:
                ip, ua = robots_ip[int(rng.integers(len(robots_ip)))], \
                    humans_ua[int(rng.integers(len(humans_ua)))]
            elif robot:
                ip, ua = humans_ip[int(rng.integers(len(humans_ip)))], \
                    robots_ua[int(rng.integers(len(robots_ua)))]
            else:
                ip, ua = humans_ip[int(rng.integers(len(humans_ip)))], \
                    humans_ua[int(rng.integers(len(humans_ua)))]
        key = (t, ip, ua, ref, epid, docid)
        if key in seen:
            continue
        seen.add(key)
        if not robot:
            human_pool.append(key)
        events.append((t, ip, ua, ref, epid, docid, robot))
        stamp = dt.datetime.fromtimestamp(t, dt.timezone.utc).strftime(
            "%Y-%m-%dT%H:%M:%SZ")
        service = "?fulltext=yes" if docid is not None else "?abstract=yes"
        per_day[day].append("\t".join((
            stamp, ip, ua, ref, service, str(epid),
            "" if docid is None else str(docid))))

    for d, lines in per_day.items():
        name = (first + dt.timedelta(days=d)).strftime("%Y-%m-%d") + ".log"
        with open(os.path.join(out_dir, name), "w") as fh:
            fh.write("\n".join(lines) + "\n")

    # repeat fold over the non-robot events: per key, drop an event within
    # REPEAT_TIMEOUT (inclusive) of the last KEPT event of that key
    human = sorted(
        ((e[4], e[5], e[1], e[0]) for e in events if not e[6]),
        key=lambda x: (x[0], -1 if x[1] is None else x[1], x[2], x[3]))
    survivors = downloads = 0
    prev_key, anchor = None, None
    for epid, docid, ip, t in human:
        if (epid, docid, ip) != prev_key:
            prev_key, anchor = (epid, docid, ip), None
        if anchor is not None and t - anchor <= REPEAT_TIMEOUT:
            continue
        anchor = t
        survivors += 1
        downloads += docid is not None
    robots = int(sum(e[6] for e in events))
    lines_total = sum(len(v) for v in per_day.values())
    return {
        "days": days,
        "lines_per_day": lines_per_day,
        "lines": lines_total,
        "malformed": malformed,
        "parsed": lines_total - malformed,
        "robot_lines": robots,
        "repeat_drops": len(human) - survivors,
        "survivors": survivors,
        "downloads": downloads,
        "views": survivors - downloads,
        "distinct_uas": HUMAN_UAS + ROBOT_UAS,
        "distinct_ips": HUMAN_IPS + ROBOT_IPS,
    }


# --------------------------------------------------------------------------
# report_page: gold facts + eprints + subjects tables
# --------------------------------------------------------------------------

_REFERRER_LABELS = ("Internal (Abstract page)", "Internal (Search)", "Google",
                    "Google Scholar", "Bing", "Yahoo", "scholar.example.com",
                    "blog.example.net")


def subjects_table() -> pd.DataFrame:
    """A three-level subject tree: a non-postable root, 5 postable
    top-level subjects, 4 postable leaves under each."""
    rows = [("subjects", None, False, "Subjects")]
    for a in "ABCDE":
        rows.append((a, "subjects", True, f"Subject {a}"))
        for k in range(1, 5):
            rows.append((f"{a}{k}", a, True, f"Subject {a}{k}"))
    return pd.DataFrame(rows, columns=["subjectid", "parent", "can_post", "name"])


REPORT_EPRINTS = 300
REPORT_DAYS, REPORT_SPAN_DAYS, ROWS_PER_DAY = 16, 540, 150


def generate_report_data(seed: int) -> dict:
    """The gold facts the main report reads (downloads, its lifetime
    cache, referrer, search_terms) over REPORT_DAYS distinct days spread
    across the REPORT_SPAN_DAYS before TODAY, so 6m, 1y and _ALL_ select
    different slices; Zipf eprint popularity, no usage of an eprint before
    its go-live date; the eprints table and the set membership computed
    here from the generated metadata."""
    rng = np.random.default_rng(seed)
    last = TODAY - dt.timedelta(days=1)
    day_offsets = np.sort(rng.choice(REPORT_SPAN_DAYS, size=REPORT_DAYS, replace=False))
    dates = [int((last - dt.timedelta(days=int(o))).strftime("%Y%m%d"))
             for o in day_offsets]

    def fact(values: tuple[str, ...] | None, per_day: int) -> pd.DataFrame:
        ep = zipf_ids(rng, REPORT_EPRINTS, per_day * REPORT_DAYS)
        ds = np.repeat(dates, per_day)
        val = (np.array(values)[rng.integers(len(values), size=ep.size)]
               if values else None)
        df = pd.DataFrame({"eprintid": ep.astype("int32"), "datestamp": ds.astype("int32"),
                           "value": val, "count": rng.integers(1, 6, ep.size)})
        return (df.groupby(["eprintid", "datestamp", "value"], dropna=False)["count"]
                .sum().reset_index().astype({"count": "int64"}))

    subjects = subjects_table()
    leaves = [s for s in subjects.subjectid if len(s) == 2]
    parent = dict(zip(subjects.subjectid, subjects.parent))
    can_post = dict(zip(subjects.subjectid, subjects.can_post))
    divisions = [f"div{k:02d}" for k in range(12)]
    authors = [(f"Family{k}", f"Given{k}", f"author{k}@example.org") for k in range(60)]
    types = ("article", "book", "thesis", "conference_item")
    eprints, members = [], []
    first_day = last - dt.timedelta(days=REPORT_SPAN_DAYS)
    for epid in range(1, REPORT_EPRINTS + 1):
        divs = sorted({divisions[int(i)] for i in rng.integers(12, size=int(rng.integers(1, 3)))})
        subs = sorted({leaves[int(i)] for i in rng.integers(len(leaves), size=int(rng.integers(1, 3)))})
        creators = [authors[int(i)] for i in
                    rng.choice(len(authors), size=int(rng.integers(1, 4)), replace=False)]
        live = first_day + dt.timedelta(days=int(rng.integers(0, REPORT_SPAN_DAYS)))
        eprints.append({
            "eprintid": epid,
            "eprint_status": "archive",
            "datestamp": dt.datetime(live.year, live.month, live.day, 12),
            "lastmod": dt.datetime(live.year, live.month, live.day, 12),
            "type": types[int(rng.integers(len(types)))],
            "divisions": divs,
            "subjects": subs,
            "creators": [{"name": {"family": f, "given": g}, "id": i} for f, g, i in creators],
            "full_text_status": ("public", "restricted", "none")[int(rng.integers(3))],
        })
        for d in divs:
            members.append(("divisions", d, epid))
        expanded = set()
        for s in subs:
            expanded.add(s)
            a = parent[s]
            while a is not None:
                if can_post[a]:
                    expanded.add(a)
                a = parent[a]
        for s in expanded:
            members.append(("subjects", s, epid))
        for _f, _g, ident in creators:
            members.append(("authors", hashlib.md5(ident.lower().encode()).hexdigest(), epid))
    sets = pd.DataFrame(sorted(set(members)), columns=["set_name", "set_value", "eprintid"])
    live = {e["eprintid"]: int(e["datestamp"].strftime("%Y%m%d")) for e in eprints}
    # an eprint has no usage before it goes live
    gold = {}
    for name, values, per_day in (("downloads", ("downloads",), ROWS_PER_DAY),
                                  ("referrer", _REFERRER_LABELS, ROWS_PER_DAY // 2),
                                  ("search_terms", tuple(_WORDS), ROWS_PER_DAY // 2)):
        df = fact(values, per_day)
        gold[name] = df[df.datestamp >= df.eprintid.map(live)].reset_index(drop=True)
    life = gold["downloads"].groupby("eprintid")["count"].sum().reset_index()
    life.insert(1, "datestamp", np.int32(0))
    life.insert(2, "value", "downloads")
    gold["cache_downloads"] = life[["eprintid", "datestamp", "value", "count"]]
    return {"gold": gold, "eprints": eprints, "subjects": subjects, "sets": sets,
            "live": live}


# --------------------------------------------------------------------------
# catalog layer: a documents table in the shape of the catalog's testdata
# --------------------------------------------------------------------------

_DOC_WORDS = (
    "a the big small fast slow data row column table key value query join "
    "filter group agg sort merge hash scan stream batch window order line "
    "part customer vector spark"
).split()
DOCS, NEAR_DUPS = 500, 25


def generate_documents(seed: int, out_dir: str) -> None:
    """Write ``documents.parquet`` (doc_id, text, lang, source, n_chars)
    under ``out_dir``: DOCS texts of 10-99 words from a 30-word
    vocabulary, NEAR_DUPS of them near-duplicates of an earlier text (one
    word changed, " dup" appended), so dedup and repeated-substring
    queries find work. The catalog's own DuckDB oracle is the answer."""
    rng = np.random.default_rng(seed + 3)
    texts: list[str] = []
    dup_at = set(rng.choice(np.arange(50, DOCS), size=NEAR_DUPS, replace=False).tolist())
    for i in range(DOCS):
        if i in dup_at:
            words = texts[int(rng.integers(i))].split()
            word = _DOC_WORDS[int(rng.integers(len(_DOC_WORDS)))]
            words[int(rng.integers(len(words)))] = word
            texts.append(" ".join(words) + " dup")
        else:
            picks = rng.integers(len(_DOC_WORDS), size=int(rng.integers(10, 100)))
            texts.append(" ".join(_DOC_WORDS[int(k)] for k in picks))
    langs = np.array(["en", "fr", "es", "zh", "de"])[
        rng.choice(5, size=DOCS, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    os.makedirs(out_dir, exist_ok=True)
    pd.DataFrame({
        "doc_id": np.arange(DOCS, dtype="int64"),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }).to_parquet(os.path.join(out_dir, "documents.parquet"), index=False)
