"""Output checks computed by DuckDB from the staged inputs and the files
the engine wrote. None of them calls the engine."""

from __future__ import annotations

import os

import duckdb

# Apache combined format, written from the format definition rather
# than from the engine's grok library
COMBINED_RE = (r'^(\S+) \S+ \S+ \[([^\]]+)\] "(\S+) (\S+) HTTP/([0-9.]+)" '
               r'([0-9]{3}) ([0-9]+|-) "([^"]*)" "([^"]*)"$')


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def _glob(path: str) -> str:
    return os.path.join(path, "**", "*.parquet")


def sink_rows(run_dir: str, sinks: list[str]) -> dict[str, int]:
    """Rows landed per sink directory (0 for a sink that wrote no file)."""
    con = _con()
    out = {}
    for s in sinks:
        d = os.path.join(run_dir, s)
        has = any(f.endswith(".parquet") for _, _, fs in os.walk(d) for f in fs)
        out[s] = con.execute(
            f"SELECT count(*) FROM read_parquet('{_glob(d)}')").fetchone()[0] if has else 0
    return out


def sink_bytes(run_dir: str, sinks: list[str]) -> tuple[int, int]:
    """(bytes, data files) landed under the sink directories."""
    total = files = 0
    for s in sinks:
        for dirpath, _, fs in os.walk(os.path.join(run_dir, s)):
            for f in fs:
                if f.endswith(".parquet"):
                    total += os.path.getsize(os.path.join(dirpath, f))
                    files += 1
    return total, files


# ----------------------------------------------------------- web pages
WEB_SINKS = ["sink_en", "sink_i18n", "sink_highvalue", "dead_letter"]


def web_expected(pages_dir: str, dict_path: str) -> dict[str, int]:
    """Per-sink counts from the flagship routing rules: en, non-en known
    language, trust above 0.8, and translation misses to the DLQ."""
    con = _con()
    row = con.execute(f"""
        WITH p AS (SELECT lang, regexp_extract(url, '^https?://([^/]+)/', 1) AS dom
                   FROM read_parquet('{_glob(pages_dir)}')),
             j AS (SELECT p.lang, d.trust, d.key FROM p
                   LEFT JOIN read_parquet('{dict_path}') d ON d.key = p.dom)
        SELECT count(*) FILTER (lang = 'en'),
               count(*) FILTER (lang NOT IN ('en', 'und')),
               count(*) FILTER (trust > 0.8),
               count(*) FILTER (key IS NULL),
               count(*) FILTER (lang <> 'und' OR trust > 0.8)
        FROM j""").fetchone()
    return dict(zip(WEB_SINKS + ["routed_urls"], row))


def web_check(pages_dir: str, run_dir: str, expected: dict[str, int],
              reported: dict[str, int]) -> list[str]:
    """Problems found (empty when correct): sink counts against the rules
    and against the engine's own report, and extracted text byte-identical
    to the staged text for every routed url."""
    problems = []
    landed = sink_rows(run_dir, WEB_SINKS)
    for s in WEB_SINKS:
        if landed[s] != expected[s] or reported.get(s) != expected[s]:
            problems.append(f"{s}: landed {landed[s]}, reported {reported.get(s)}, "
                            f"expected {expected[s]}")
    con = _con()
    sinks = " UNION ALL ".join(
        f"SELECT url, text FROM read_parquet('{_glob(os.path.join(run_dir, s))}')"
        for s in WEB_SINKS[:3] if landed[s])
    if sinks:
        urls, bad = con.execute(f"""
            WITH s AS ({sinks}),
                 p AS (SELECT url, text FROM read_parquet('{_glob(pages_dir)}'))
            SELECT count(DISTINCT s.url),
                   count(*) FILTER (p.url IS NULL OR s.text IS DISTINCT FROM p.text)
            FROM s LEFT JOIN p ON p.url = s.url""").fetchone()
        if bad or urls != expected["routed_urls"]:
            problems.append(f"text: {bad} rows differ from the staged text; "
                            f"{urls} routed urls, expected {expected['routed_urls']}")
    return problems


# -------------------------------------------------------------- apache
APACHE_SINKS = ["status_2xx", "status_3xx", "status_4xx", "status_5xx", "dead_letter"]


def apache_expected(lines_dir: str) -> dict[str, int]:
    """Status-class counts by a regex over the staged lines; lines that
    are not combined-format go to the DLQ."""
    con = _con()
    row = con.execute(f"""
        WITH m AS (SELECT regexp_extract(message, $re, 6) AS st
                   FROM read_parquet('{_glob(lines_dir)}'))
        SELECT count(*) FILTER (st LIKE '2%'), count(*) FILTER (st LIKE '3%'),
               count(*) FILTER (st LIKE '4%'), count(*) FILTER (st LIKE '5%'),
               count(*) FILTER (st = ''), count(*)
        FROM m""", {"re": COMBINED_RE}).fetchone()
    return dict(zip(APACHE_SINKS + ["lines"], row))


def apache_check(run_dir: str, expected: dict[str, int],
                 reported: dict[str, int]) -> list[str]:
    landed = sink_rows(run_dir, APACHE_SINKS)
    return [f"{s}: landed {landed[s]}, reported {reported.get(s)}, expected {expected[s]}"
            for s in APACHE_SINKS
            if landed[s] != expected[s] or reported.get(s) != expected[s]]


# -------------------------------------------------------------- corpus
def corpus_expected(docs_dir: str) -> dict[str, int]:
    """Kept docs are the unique ones (every copy has a larger id than its
    source); duplicate lines are counted after those copies are gone,
    and each distinct line keeps its tokens once."""
    con = _con()
    row = con.execute(f"""
        WITH kept AS (SELECT doc_id, text, n_pii FROM read_parquet('{_glob(docs_dir)}')
                      WHERE kind = 'unique'),
             lines AS (SELECT unnest(string_split(text, chr(10))) AS line FROM kept)
        SELECT (SELECT count(*) FROM kept),
               (SELECT count(*) FROM lines),
               (SELECT count(*) - count(DISTINCT line) FROM lines WHERE length(line) >= 1),
               (SELECT sum(len(regexp_extract_all(line, '\\S+')))
                  FROM (SELECT DISTINCT line FROM lines)),
               (SELECT sum(n_pii) FROM kept)""").fetchone()
    return dict(zip(["docs", "lines", "removed", "tokens", "pii"], row))


def corpus_check(result: dict[str, int], expected: dict[str, int]) -> list[str]:
    return [f"{k}: got {result.get(k)}, expected {v}"
            for k, v in expected.items() if result.get(k) != v]
