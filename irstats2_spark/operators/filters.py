"""ETL record filters: Robots (P8) and Repeat/double-click (P9).

P8 (Filter/Robots.pm:13-150): drop a record when the lowercased UA
matches any UA regex fragment, or the IP matches any escaped prefix
(unanchored =~, like the reference). Pattern lists load from files (one
pattern per line, '#' comments, same format as the reference's
robots_ua.txt / robots_ip.txt) or fall back to a small built-in list.
Each list compiles once into one regex whose fragments share their
literal prefixes in a trie (``trie_regex``), so the filter is a single
codegen'd rlike per column: no Python, no shuffle, and each row pays for
the few fragments that start like it rather than for every fragment.

P9 (Filter/Repeat.pm:63-102): order-dependent stateful dedup. The anchor
is the time of the last KEPT event per key `epid-docid-ip` (downloads) /
`epid-X-ip` (views): an event within `timeout` seconds of the anchor is
dropped and does NOT refresh the anchor. A sliding `lag()` window is NOT
equivalent (it would refresh on dropped events) — the exact operator is a
per-key sequential fold via applyInPandas. Keys contain the client IP, so
group cardinality is huge and groups are tiny: the grouped shuffle is
balanced by construction, and state never leaves one partition.
"""

from __future__ import annotations

import functools
import itertools
import os

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Default robot lists: the full public UA/IP pattern files shipped with the
# reference (Filter/default_robots_ua.txt, ~825 fragments, and
# default_robots_ip.txt, ~610 prefixes) live in operators/data/ and load
# lazily below. MINIMAL_ROBOT_UA_PATTERNS is the in-code fallback if the
# data files are missing from an installation.
_DATA_DIR = os.path.join(os.path.dirname(__file__), "data")
DEFAULT_ROBOT_UA_FILE = os.path.join(_DATA_DIR, "default_robots_ua.txt")
DEFAULT_ROBOT_IP_FILE = os.path.join(_DATA_DIR, "default_robots_ip.txt")

MINIMAL_ROBOT_UA_PATTERNS = [
    "googlebot", "msnbot", "bingbot", "slurp", "crawler", "spider",
    "curl", "wget", "httrack", "libwww", "python-requests", "scrapy",
    "yandexbot", "baiduspider", "duckduckbot", "archive\\.org_bot",
    "semrushbot", "ahrefsbot", "mj12bot", "dotbot", "petalbot", "bot/",
    "robot", "nutch", "heritrix",
]


@functools.lru_cache(maxsize=None)
def default_ua_patterns() -> tuple[str, ...]:
    if os.path.exists(DEFAULT_ROBOT_UA_FILE):
        return tuple(load_pattern_file(DEFAULT_ROBOT_UA_FILE))
    return tuple(MINIMAL_ROBOT_UA_PATTERNS)


@functools.lru_cache(maxsize=None)
def default_ip_prefixes() -> tuple[str, ...]:
    if os.path.exists(DEFAULT_ROBOT_IP_FILE):
        return tuple(load_pattern_file(DEFAULT_ROBOT_IP_FILE))
    return ()


def load_pattern_file(path: str) -> list[str]:
    """One pattern per line; blank lines and '#' comments skipped;
    whitespace stripped (Robots.pm:43-48,73-81)."""
    out = []
    with open(path) as fh:
        for line in fh:
            line = "".join(line.split())
            if not line or line.startswith("#"):
                continue
            out.append(line)
    return out


# Characters that are not literals on their own. A backslash before any
# other non-alphanumeric character is a literal (java.util.regex and re).
_REGEX_META = frozenset("\\^$.|?*+()[]{}")
_QUANTIFIERS = frozenset("*+?{")


def _literal_prefix(frag: str) -> tuple[str, str]:
    """Split a fragment into its leading literal characters (unescaped)
    and the regex remainder. The prefix stops before any character a
    quantifier applies to, so ``sage\\+\\+`` is all literal but ``abc+``
    splits into ``ab`` and ``c+``."""
    lits, i = [], 0
    while i < len(frag):
        if frag[i] == "\\" and i + 1 < len(frag) and not frag[i + 1].isalnum():
            ch, n = frag[i + 1], 2
        elif frag[i] not in _REGEX_META:
            ch, n = frag[i], 1
        else:
            break
        if frag[i + n : i + n + 1] in _QUANTIFIERS:
            break
        lits.append(ch)
        i += n
    return "".join(lits), frag[i:]


def _has_top_level_alternation(frag: str) -> bool:
    """True when ``|`` splits the fragment outside any group or class.
    Raises ValueError on a backreference: reordering alternatives would
    renumber the groups it refers to."""
    depth = in_class = 0
    i, alternation = 0, False
    while i < len(frag):
        c = frag[i]
        if c == "\\":
            if frag[i + 1 : i + 2] in ("k", *"123456789"):
                raise ValueError(f"robot pattern {frag!r} has a backreference")
            i += 2
            continue
        if in_class:
            in_class += {"[": 1, "]": -1}.get(c, 0)
        elif c == "[":
            in_class = 1
        elif c in "()":
            depth += 1 if c == "(" else -1
        elif c == "|" and depth == 0:
            alternation = True
        i += 1
    return alternation


def _trie(pairs: list[tuple[str, str]]) -> str:
    """The regex for (literal, remainder) pairs after a shared prefix:
    one alternative per next character, single-child chains ungrouped."""
    if ("", "") in pairs:
        return ""  # a fragment ends here; the longer ones add no match
    alts = []
    for ch, group in itertools.groupby(sorted(set(pairs)), key=lambda p: p[0][:1]):
        if ch:
            tails = [(lit[1:], rem) for lit, rem in group]
            alts.append(("\\" + ch if ch in _REGEX_META else ch) + _trie(tails))
        else:
            alts += [f"(?:{rem})" for _, rem in group]
    return alts[0] if len(alts) == 1 else "(?:" + "|".join(alts) + ")"


@functools.lru_cache(maxsize=32)
def trie_regex(fragments: tuple[str, ...]) -> str | None:
    """One regex that finds a match exactly where ``"|".join(fragments)``
    does, with the fragments' literal prefixes factored into a trie:
    ``googlebot|google[_+]web|gigabot`` becomes
    ``g(?:igabot|oogle(?:(?:[_+]web)|bot))``. A flat alternation makes
    java.util.regex try every fragment at every character of the input;
    the trie rejects most positions on their first character.

    Fragments with no literal prefix or with a top-level ``|`` stay whole
    top-level alternatives. Blank fragments are skipped, as blank lines
    are in the pattern files. Returns None when nothing is left; raises
    ValueError on a backreference."""
    raw, pairs = [], []
    for frag in filter(None, fragments):
        lit, rem = _literal_prefix(frag)
        if _has_top_level_alternation(frag) or not lit:
            raw.append(frag)
        else:
            pairs.append((lit, rem))
    if pairs:
        raw.append(_trie(pairs))
    return "|".join(raw) or None


def _ip_prefix_regex(prefixes: list[str]) -> str | None:
    """Robots.pm:103-113: append '.' to sub-/24 prefixes, escape dots."""
    pats = []
    for p in prefixes:
        if not p:
            continue
        if p.count(".") < 3 and not p.endswith("."):
            p += "."
        pats.append(p.replace(".", "\\."))
    return trie_regex(tuple(pats))


def robots_filter(
    df: DataFrame,
    ua_col: str = "requester_user_agent",
    ip_col: str = "requester_id",
    ua_patterns: list[str] | None = None,
    ip_prefixes: list[str] | None = None,
    ua_file: str | None = None,
    ip_file: str | None = None,
) -> DataFrame:
    """P8: return only non-robot rows.

    A row is a robot when its lowercased UA matches a UA fragment or its
    IP matches an IP prefix; NULL values never match. ``ua_file`` /
    ``ip_file`` replace the corresponding list argument and must exist
    (FileNotFoundError otherwise); a list left as None is the shipped
    one.

    Each list compiles once per process (``trie_regex``) into one regex,
    so the filter is one codegen'd ``rlike`` per column: no Python, no
    shuffle, no extra job. With the shipped lists, over 39 609 cached
    parsed access events at local[4] on a 4-core host, the filter's
    count took 8.8 s as two flat alternations (java.util.regex tries
    every fragment at every character: about 220 us per row) and
    1.1-1.2 s as two tries."""
    if ua_file:
        ua_patterns = load_pattern_file(ua_file)
    elif ua_patterns is None:
        ua_patterns = default_ua_patterns()
    if ip_file:
        ip_prefixes = load_pattern_file(ip_file)
    elif ip_prefixes is None:
        ip_prefixes = default_ip_prefixes()

    ua_re = trie_regex(tuple(ua_patterns))
    ip_re = _ip_prefix_regex(ip_prefixes)

    keep = F.lit(True)
    if ua_re:
        keep = keep & ~(
            F.col(ua_col).isNotNull() & F.lower(F.col(ua_col)).rlike(ua_re)
        )
    if ip_re:
        keep = keep & ~(
            F.col(ip_col).isNotNull() & F.col(ip_col).rlike(ip_re)
        )
    return df.filter(keep)


def repeat_key(epid_col, docid_col, ip_col):
    """The reference's dedup key (Repeat.pm:77-87)."""
    return F.concat_ws(
        "-",
        epid_col.cast("string"),
        F.coalesce(docid_col.cast("string"), F.lit("X")),
        ip_col,
    )


def repeat_filter(
    df: DataFrame,
    epoch_col: str = "epoch",
    key_cols: tuple[str, str, str] = ("referent_id", "referent_docid", "requester_id"),
    timeout: int = 3600,
) -> DataFrame:
    """P9 exact semantics: per-key sequential fold.

    Requires an integer/float seconds column ``epoch_col``. Events are
    processed in epoch order per key, matching the reference's file-order
    scan of time-sorted logs.

    Scale design: ONE hash-shuffle on the dedup key, then a sort within
    each partition and a single sequential pass via ``mapInPandas`` —
    anchor state is carried across Arrow batches inside a partition, so a
    key's run never needs to fit in one batch. Per-key state never leaves
    a partition, keys are high-cardinality (they embed the client IP), and
    Python sees each row exactly once: this is the same shuffle count as
    the lag()-window approximation, with exact reference semantics.
    """
    epid, docid, ip = key_cols
    keyed = df.withColumn("__rk", repeat_key(F.col(epid), F.col(docid), F.col(ip)))
    schema = keyed.schema
    n_out = len(schema) - 1  # __rk dropped on output

    parts = max(
        df.sparkSession.sparkContext.defaultParallelism,
        int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")),
    )
    arranged = keyed.repartition(parts, "__rk").sortWithinPartitions(
        "__rk", epoch_col
    )

    def scan(batches):
        # one partition = many whole keys, (key, epoch)-sorted; a key may
        # span batches, so (last key, anchor) persists across iterations
        prev_key, anchor = None, None
        for pdf in batches:
            keys = pdf["__rk"].to_numpy()
            times = pdf[epoch_col].to_numpy()
            keep = [False] * len(pdf)
            for i in range(len(pdf)):
                if keys[i] != prev_key:
                    prev_key, anchor = keys[i], None
                t = times[i]
                if anchor is not None and abs(t - anchor) <= timeout:
                    continue  # dropped; anchor NOT refreshed
                keep[i] = True
                anchor = t
            out = pdf.iloc[:, :n_out]
            yield out[pd.Series(keep, index=pdf.index)]

    kept_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields[:-1]
    )
    return arranged.mapInPandas(scan, schema=kept_schema)


def repeat_filter_window_approx(
    df: DataFrame,
    epoch_col: str = "epoch",
    key_cols: tuple[str, str, str] = ("referent_id", "referent_docid", "requester_id"),
    timeout: int = 3600,
) -> DataFrame:
    """Documented approximation: keep rows whose gap from the PREVIOUS
    event (kept or not) exceeds timeout. Cheaper (pure window, no Python)
    but refreshes the anchor on dropped events — counts can be lower than
    the exact operator on long click-bursts. Streaming equivalent:
    dropDuplicatesWithinWatermark on the key.
    """
    from pyspark.sql import Window

    epid, docid, ip = key_cols
    keyed = df.withColumn("__rk", repeat_key(F.col(epid), F.col(docid), F.col(ip)))
    w = Window.partitionBy("__rk").orderBy(epoch_col)
    prev = F.lag(F.col(epoch_col)).over(w)
    return (
        keyed.withColumn("__gap", F.col(epoch_col) - prev)
        .filter(F.col("__gap").isNull() | (F.col("__gap") > timeout))
        .drop("__rk", "__gap")
    )


def find_robots_ip_duplicates(
    local_prefixes: list[str],
    shipped_prefixes: tuple[str, ...] | None = None,
) -> list[tuple[str, str]]:
    """Ops-maintenance check (bin/stats/find_local_robots_ip_duplicates:
    32-48): which locally-configured robot IP prefixes are ALREADY
    covered by the shipped list, via the same three probes — the /16
    ("a.b."), the /24 ("a.b.c.") and the exact entry. Returns
    (local_prefix, shipped_prefix_it_matches) pairs; an empty list
    means the local config adds only new coverage.

    Driver-side by design: both lists are config files (hundreds of
    lines), not data."""
    shipped = set(
        shipped_prefixes if shipped_prefixes is not None else default_ip_prefixes()
    )
    out: list[tuple[str, str]] = []
    for ip in local_prefixes:
        bits = ip.split(".")
        class_b = f"{bits[0]}.{bits[1]}." if len(bits) >= 2 else None
        class_c = f"{bits[0]}.{bits[1]}.{bits[2]}." if len(bits) >= 3 else None
        if class_b and class_b in shipped:
            out.append((ip, class_b))
        elif class_c and class_c in shipped:
            out.append((ip, class_c))
        elif len(bits) >= 4 and ip in shipped:
            out.append((ip, ip))
    return out
