"""Seeded input generation, staged once per (workload, seed, size) as parquet.

The generators are independent of the engine: every input carries the
ground truth its output check needs (the extracted ``text`` of a page is
built first and the html is rendered around it; corpus documents record
their duplicate kind and PII count), so the checks never ask the engine
what the right answer is.
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ["en", "de", "fr", "es", "zh", "ru", "ja", "pt", "it", "nl", "und"]
LANG_WEIGHTS = np.array([0.55, 0.09, 0.07, 0.06, 0.05, 0.04, 0.04, 0.03, 0.03, 0.02, 0.02])
TLDS = ["com", "org", "net", "io", "de", "fr", "co.uk", "jp", "ru", "edu"]
N_DOMAINS = 1000
ZIPF_S = 1.2

VOCAB = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron "
    "pi rho sigma tau upsilon phi chi psi omega data page crawl web index search query "
    "result link anchor title body header footer section article fast slow large small "
    "open close read write north south east west river stone cloud field market garden "
    "engine signal bridge harbor valley forest summer winter amber copper silver golden "
    "quiet rapid gentle bright narrow hollow ancient modern simple complex the and of to "
    "in is that it for with a an was are be on as at this"
).split()

BOILERPLATE = [
    "Copyright 2026 Example Media Group all rights reserved",
    "Subscribe to our newsletter for weekly updates",
    "Share this article on social media",
    "Cookies help us deliver our services",
    "Back to top",
]

USER_AGENTS = [
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) Chrome/120.0",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 13_5) Safari/605.1.15",
    "Mozilla/5.0 (X11; Linux x86_64) Firefox/121.0",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_0) Mobile/15E148 Safari/604.1",
    "Googlebot/2.1 (+http://www.google.com/bot.html)",
    "curl/8.4.0",
]
MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
METHODS = ["GET", "POST", "PUT", "DELETE", "HEAD"]
STATUSES = [200, 200, 200, 200, 301, 304, 404, 404, 500, 503]


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _zipf_ranks(rng: np.random.Generator, n: int, n_keys: int, s: float) -> np.ndarray:
    w = 1.0 / np.power(np.arange(1, n_keys + 1, dtype=np.float64), s)
    return np.searchsorted(np.cumsum(w / w.sum()), rng.random(n), side="right").clip(0, n_keys - 1)


def _words(rng: np.random.Generator, n: int) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n))


# ---------------------------------------------------------------- pages
def _paragraph_pool(rng: np.random.Generator, size: int) -> list[tuple[str, str]]:
    """(html fragment, extracted line) pairs. Each fragment exercises one
    extraction rule: inline tags become spaces, entities are unescaped,
    script/comment blocks vanish."""
    pool = []
    for k in range(size):
        words = _words(rng, int(rng.integers(40, 90))).split(" ")
        cut = len(words) // 2
        kind = k % 4
        if kind == 0:
            html = "<p>" + " ".join(words[:cut]) + " <b>" + " ".join(words[cut:]) + "</b></p>"
            line = " ".join(words)
        elif kind == 1:
            html = "<p>" + " ".join(words[:cut]) + " &amp; " + " ".join(words[cut:]) + "</p>"
            line = " ".join(words[:cut]) + " & " + " ".join(words[cut:])
        elif kind == 2:
            html = ("<script>track(1 < 2);</script><div>" + " ".join(words[:cut])
                    + " <i>caf&#233;</i>  " + " ".join(words[cut:]) + "</div>")
            line = " ".join(words[:cut]) + " café " + " ".join(words[cut:])
        else:
            html = "<!-- nav --><li>" + " ".join(words) + "</li>"
            line = " ".join(words)
        pool.append((html, line))
    return pool


def gen_pages(seed: int, n: int, mean_paras: int) -> pa.Table:
    """Common-Crawl-style pages: Zipf domains, en-heavy languages, and
    page size varying around ``mean_paras`` paragraphs (~20 KB at 52)."""
    rng = _rng(seed, 1)
    pool = _paragraph_pool(rng, 512)
    ranks = _zipf_ranks(rng, n, N_DOMAINS, ZIPF_S)
    langs = np.searchsorted(np.cumsum(LANG_WEIGHTS / LANG_WEIGHTS.sum()), rng.random(n),
                            side="right").clip(0, len(LANGS) - 1)
    n_paras = rng.integers(mean_paras // 2, mean_paras * 3 // 2 + 1, n)
    base = datetime(2026, 1, 1, tzinfo=timezone.utc)
    urls, tss, htmls, texts = [], [], [], []
    for i in range(n):
        r = int(ranks[i])
        dom = f"site{r:04d}.{TLDS[r % len(TLDS)]}"
        urls.append(f"https://{dom}/{VOCAB[i % len(VOCAB)]}/p{seed}-{i}")
        tss.append(base + timedelta(seconds=i))
        picks = rng.integers(0, len(pool), int(n_paras[i]))
        title = f"Page {i} of {dom}"
        head = (f"<!DOCTYPE html><html><head><title>{title}</title>"
                "<style>body{font:12px}</style></head><body>")
        foot = "<footer>&copy; 2026 Example &amp; Co.</footer></body></html>"
        htmls.append((head + "".join(pool[p][0] for p in picks) + foot).encode())
        texts.append("\n".join([title, *(pool[p][1] for p in picks), "© 2026 Example & Co."]))
    return pa.table({
        "url": urls,
        "warc_ts": pa.array(tss, pa.timestamp("us", tz="UTC")),
        "html": pa.array(htmls, pa.binary()),
        "text": texts,
        "lang": [LANGS[k] for k in langs],
    })


# --------------------------------------------------------------- apache
def gen_access_lines(seed: int, n: int, malformed_share: float) -> list[str]:
    """Apache combined-format lines with a stated malformed share; client
    ips are Zipf-skewed over 5000 hosts."""
    rng = _rng(seed, 2)
    hosts = _zipf_ranks(rng, n, 5000, 1.1)
    bad = rng.random(n) < malformed_share
    r = rng.integers(0, 2**31, (n, 8))
    out = []
    for i in range(n):
        if bad[i]:
            out.append(f"!!corrupt line {seed}-{i} without structure")
            continue
        h = int(hosts[i])
        a = r[i]
        ip = f"{h % 223 + 1}.{(h >> 3) % 256}.{(h * 7) % 256}.{h % 254 + 1}"
        ts = (f"{a[0] % 28 + 1:02d}/{MONTHS[a[1] % 12]}/2026:"
              f"{a[2] % 24:02d}:{a[3] % 60:02d}:{a[4] % 60:02d} +0000")
        path = f"/{VOCAB[a[5] % len(VOCAB)]}/{VOCAB[a[6] % len(VOCAB)]}.html"
        status = STATUSES[a[7] % len(STATUSES)]
        ua = USER_AGENTS[(a[7] >> 4) % len(USER_AGENTS)]
        out.append(f'{ip} - frank [{ts}] "{METHODS[a[5] % len(METHODS)]} {path} HTTP/1.1" '
                   f'{status} {a[6] % 50000} "http://referrer.example/" "{ua}"')
    return out


# --------------------------------------------------------------- corpus
def gen_corpus(seed: int, n_unique: int, exact_share: float, near_share: float,
               boilerplate_share: float) -> pa.Table:
    """Documents of newline-separated lines. ``kind`` is unique / exact /
    near; copies take ids above every unique doc, so minhash (which keeps
    the smallest id of a duplicate group) must drop exactly the copies.
    PII tokens sit first on lines that also carry a per-doc reference
    token, so scrubbing keeps every line distinct and every token count
    unchanged."""
    rng = _rng(seed, 3)
    docs, kinds, n_pii = [], [], []
    for d in range(n_unique):
        lines = []
        pii = 0
        for ln in range(int(rng.integers(6, 14))):
            body = _words(rng, int(rng.integers(8, 16)))
            roll = rng.random()
            if roll < 0.06:
                lines.append(f"contact u{seed}x{d}@mail.example.org ref{d}l{ln} {body}")
                pii += 1
            elif roll < 0.10:
                lines.append(f"host 10.{d % 250}.{ln}.{seed % 250} ref{d}l{ln} {body}")
                pii += 1
            elif roll < 0.13:
                lines.append(f"call 555-{100 + ln}-{1000 + d % 9000} ref{d}l{ln} {body}")
                pii += 1
            else:
                lines.append(f"{body} ref{d}l{ln}")
        if rng.random() < boilerplate_share:
            lines.append(BOILERPLATE[int(rng.integers(0, len(BOILERPLATE)))])
        if rng.random() < boilerplate_share / 2:
            lines.insert(0, BOILERPLATE[int(rng.integers(0, len(BOILERPLATE)))])
        docs.append(lines)
        kinds.append("unique")
        n_pii.append(pii)
    n_exact = int(n_unique * exact_share)
    n_near = int(n_unique * near_share)
    for src in rng.integers(0, n_unique, n_exact):
        docs.append(list(docs[src]))
        kinds.append("exact")
        n_pii.append(n_pii[src])
    for src in rng.integers(0, n_unique, n_near):
        lines = list(docs[src])
        # one word changed in the longest reference-only line: Jaccard
        # with the source stays above 0.9 at these document lengths
        j = max(range(len(lines)), key=lambda k: (" ref" in lines[k]
                                                  and not lines[k].startswith(("contact", "host", "call")),
                                                  len(lines[k])))
        w = lines[j].split(" ")
        w[0] = "changed"
        lines[j] = " ".join(w)
        docs.append(lines)
        kinds.append("near")
        n_pii.append(n_pii[src])
    return pa.table({
        "doc_id": pa.array(range(len(docs)), pa.int64()),
        "text": ["\n".join(x) for x in docs],
        "kind": kinds,
        "n_pii": pa.array(n_pii, pa.int64()),
    })


# -------------------------------------------------------------- staging
def staged(root: str, name: str, build, keep: int = 8) -> str:
    """Return ``root/name``, building it with ``build(tmp_dir)`` first if
    it is not complete yet (a ``_SUCCESS`` marker means complete). Only
    the ``keep`` most recently built inputs stay on disk, so runs over
    many seeds do not fill the checkout."""
    path = os.path.join(root, name)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        os.utime(path)  # in use again: newest for the pruning below
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    others = sorted((os.path.join(root, d) for d in os.listdir(root) if d != name),
                    key=os.path.getmtime, reverse=True)
    for old in others[keep - 1:]:
        shutil.rmtree(old, ignore_errors=True)
    return path


def write_parts(table: pa.Table, out_dir: str, n_parts: int) -> None:
    """Split a table into ``n_parts`` parquet files of near-equal rows."""
    bounds = np.linspace(0, table.num_rows, n_parts + 1).astype(int)
    for k in range(n_parts):
        pq.write_table(table.slice(bounds[k], bounds[k + 1] - bounds[k]),
                       os.path.join(out_dir, f"part-{k:05d}.parquet"))
