"""Text analysis for training-data curation — all native expressions.

Every function here returns Column expressions (or a DataFrame built
from them) that stay inside whole-stage codegen: no UDFs, so the same
logic is trivially SQL-expressible for the DuckDB oracle.

* language-ID: marker-stopword-count heuristic (argmax over per-lang
  hit counts).
* quality score: length / punctuation ratio / stopword ratio /
  mean word length — a FineWeb-style composite in [0, 1].
* token counting: whitespace tokens + a BPE-ish regex token count.
* fingerprinting: polynomial rolling hash over tokens (md5-prefix hash
  per token, 31-multiplier accumulate mod 2^31).

Language-ID, quality and token counts come from one fold per row
(``text_quality_stats``); the suite's ``textstats_quality`` query
checks every value against a DuckDB SQL oracle that computes each
signal separately.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "für"],
    "fr": ["le", "la", "les", "et", "est", "une", "dans", "pour", "que", "des"],
    "es": ["el", "la", "los", "y", "es", "una", "en", "por", "que", "con"],
    "it": ["il", "la", "di", "e", "che", "un", "per", "non", "con", "sono"],
}

EN_STOPWORDS = LANG_MARKERS["en"] + ["a", "an", "was", "are", "be", "on", "as", "at", "this"]

# BPE-ish tokenizer: word pieces, numbers, or single non-space symbols —
# the classic GPT-2-style pre-tokenization regex, simplified.
BPE_ISH_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def words(col: Column) -> Column:
    return F.split(F.trim(F.lower(col)), r"\s+")


def bpe_ish_token_count(col: Column) -> Column:
    return F.size(F.regexp_extract_all(col, F.lit(BPE_ISH_REGEX), F.lit(0)))


def punct_ratio(col: Column) -> Column:
    n = F.length(col)
    punct = F.length(F.regexp_replace(col, r"[^.,;:!?'\"()\[\]{}-]", ""))
    return F.when(n > 0, punct / n).otherwise(F.lit(0.0))


# Modulus for the rolling-hash accumulator. Bounding acc < 2^31 keeps
# every intermediate (31*acc + token_hash < 2^36 + 2^32) far from int64
# overflow, so the expression is valid under ANSI-on sessions — the
# driver gate runs Spark 4 ANSI defaults, where a wrap-in-int64
# formulation would throw ARITHMETIC_OVERFLOW (round 1).
_FP_MOD = 2**31


def token_hash32(col: Column) -> Column:
    """32-bit per-token hash: the first 8 hex digits of md5 parsed as an
    integer. md5 (not crc32/xxhash64) because it is the one keyed-input
    hash BOTH Spark and DuckDB expose identically — the rolling
    fingerprint stays fully SQL-oracle-checkable cross-engine
    (DuckDB: CAST('0x' || substring(md5(w),1,8) AS BIGINT))."""
    return F.conv(F.substring(F.md5(F.encode(col, "UTF-8")), 1, 8), 16, 10).cast("long")


def rolling_fingerprint(col: Column) -> Column:
    """Polynomial rolling hash over tokens: acc = (acc*31 +
    token_hash32(token)) mod 2^31 — order-sensitive (unlike a
    bag-of-words hash), overflow-free by construction."""
    return F.aggregate(
        words(col),
        F.lit(0).cast("long"),
        lambda acc, w: F.pmod(
            acc * F.lit(31).cast("long") + token_hash32(w),
            F.lit(_FP_MOD).cast("long"),
        ),
    )


def _stats_vector(col: Column) -> Column:
    """ONE traversal over the word array computing the 8-vector
    [n_tokens, total_word_len, c_en, c_de, c_fr, c_es, c_it,
    en_stop_hits] as an aggregate with an array accumulator.

    One function per signal would each re-split the text — and with
    N of them in one projection the split/lower/trim chain runs N
    times per row, because higher-order functions are interpreted
    (CodegenFallback: no whole-stage-codegen subexpression
    elimination) and CollapseProject re-inlines any staged column.
    Folding every counter into one pass is the same fix minhash got
    (see dedup.minhash_signature)."""
    ws = words(col)

    def step(acc, w):
        flags = F.array(
            F.lit(1).cast("long"),
            F.length(w).cast("long"),
            *[
                w.isin(*LANG_MARKERS[lang]).cast("long")
                for lang in LANG_MARKERS
            ],
            w.isin(*EN_STOPWORDS).cast("long"),
        )
        return F.zip_with(acc, flags, lambda x, y: x + y)

    return F.aggregate(
        ws, F.array_repeat(F.lit(0).cast("long"), 3 + len(LANG_MARKERS)), step
    )


def text_quality_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """n_tokens / n_bpe_tokens / lang_detected / quality in ONE word
    traversal per row: the stats vector is materialized through an
    explode(array(...)) barrier — a Generate node, which projection
    collapse cannot cross, so the fold runs once even though four
    output columns consume it. The suite's ``textstats_quality`` query
    checks every value against a DuckDB oracle that computes each
    signal separately (integer sums are exact in either engine;
    divisions are the same IEEE ops)."""
    from .dedup import _spread

    c = F.col(text_col)
    df = _spread(df).withColumn("__tsv", F.explode(F.array(_stats_vector(c))))
    v = F.col("__tsv")
    n = F.element_at(v, 1)
    total_len = F.element_at(v, 2)
    counts = {
        lang: F.element_at(v, i + 3) for i, lang in enumerate(LANG_MARKERS)
    }
    stop_hits = F.element_at(v, 3 + len(LANG_MARKERS))

    best = None
    best_cnt = None
    for lang, cnt in counts.items():
        if best is None:
            best = F.when(cnt >= 1, F.lit(lang)).otherwise(F.lit("und"))
            best_cnt = cnt
        else:
            cond = (cnt >= 1) & (cnt > best_cnt)
            best = F.when(cond, F.lit(lang)).otherwise(best)
            best_cnt = F.greatest(best_cnt, cnt)

    n_tokens = F.when(F.length(F.trim(c)) == 0, F.lit(0)).otherwise(n.cast("int"))
    mwl = F.when(n > 0, total_len.cast("double") / n).otherwise(F.lit(0.0))
    sr = F.when(n > 0, stop_hits / n).otherwise(F.lit(0.0))
    len_ok = F.when((n_tokens >= 10) & (n_tokens <= 100000), F.lit(0.4)).otherwise(
        F.when(n_tokens > 0, F.lit(0.1)).otherwise(F.lit(0.0))
    )
    mwl_ok = F.when((mwl >= 2.0) & (mwl <= 12.0), F.lit(0.3)).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio(c) <= 0.2, F.lit(0.2)).otherwise(F.lit(0.0))
    stop_ok = F.when(sr > 0.0, F.lit(0.1)).otherwise(F.lit(0.0))

    return df.withColumns(
        {
            "n_tokens": n_tokens,
            "n_bpe_tokens": bpe_ish_token_count(c),
            "lang_detected": best,
            "quality": F.round(len_ok + mwl_ok + punct_ok + stop_ok, 2),
        }
    ).drop("__tsv")


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    return text_quality_stats(df, text_col).withColumn(
        "fingerprint_rolling", rolling_fingerprint(F.col(text_col))
    )


# --------------------------------------- Gopher-style repetition signals
def _words_nonempty(col: Column) -> Column:
    return F.filter(words(col), lambda w: F.length(w) > 0)


def word_2grams(col: Column) -> Column:
    """Adjacent word 2-grams joined with a single space; empty array for
    texts with fewer than two words (the ``n >= 2`` guard matters:
    ``sequence(1, 0)`` would count DOWN, not produce an empty range)."""
    ws = _words_nonempty(col)
    n = F.size(ws)
    return F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat(
                F.element_at(ws, i), F.lit(" "), F.element_at(ws, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _gram_run_stats(arr: Column) -> Column:
    """struct(best, dup, tot) over an array of grams in ONE pass:

    * ``best`` — max over distinct values of count * length (character
      coverage of the single most repetitive gram),
    * ``dup``  — total characters across ALL occurrences of values that
      occur more than once,
    * ``tot``  — total characters across all occurrences.

    Instead of the O(G^2) count-inside-filter formulation, the array is
    sorted so equal values are adjacent and a run-length scan does the
    counting — O(G log G) per row, still fully row-local (no shuffle,
    which is the whole point at 10^12 documents: repetition scoring is
    embarrassingly parallel)."""
    sorted_arr = F.array_sort(arr)
    zero = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
        F.lit(0).cast("long").alias("dup"),
        F.lit(0).cast("long").alias("tot"),
    )

    def step(acc, g):
        is_same = g == acc["prev"]
        new_run = F.when(is_same, acc["run"] + 1).otherwise(
            F.lit(1).cast("long")
        )
        # a run ends when the value changes; flush its duplicate chars
        flushed = F.when(is_same | (acc["run"] <= 1), acc["dup"]).otherwise(
            acc["dup"] + acc["run"] * F.length(acc["prev"]).cast("long")
        )
        return F.struct(
            g.alias("prev"),
            new_run.alias("run"),
            F.greatest(acc["best"], new_run * F.length(g).cast("long")).alias(
                "best"
            ),
            flushed.alias("dup"),
            (acc["tot"] + F.length(g).cast("long")).alias("tot"),
        )

    def finish(acc):
        dup = F.when(
            acc["run"] > 1,
            acc["dup"] + acc["run"] * F.length(acc["prev"]).cast("long"),
        ).otherwise(acc["dup"])
        return F.struct(
            acc["best"].alias("best"), dup.alias("dup"), acc["tot"].alias("tot")
        )

    return F.aggregate(sorted_arr, zero, step, finish)


def repetition_stats(
    df: DataFrame, text_col: str = "text", spread: bool = True
) -> DataFrame:
    """Gopher-style (Rae et al. 2021, §A1.1) repetition filters at word
    grain — the training-data curation signals that catch boilerplate
    and degenerate pages:

    * ``dup_word_frac``       — 1 - distinct words / total words,
    * ``top_2gram_char_frac`` — characters covered by the most frequent
      word 2-gram / total 2-gram characters,
    * ``dup_2gram_char_frac`` — characters in 2-grams occurring more
      than once / total 2-gram characters.

    (Gopher's line-grain variants are meaningless on a single-line
    corpus; the word/2-gram grain is the same signal.) All native
    expressions, all row-local: a 10^12-doc scoring pass is a pure map
    with zero shuffle. Fractions are single long/long divisions rounded
    to 6, so the DuckDB oracle (which counts via unnest + GROUP BY
    instead of the sorted-run scan) lands on bit-identical doubles."""
    from .dedup import _spread

    c = F.col(text_col)
    ws = _words_nonempty(c)
    # spread=False when the caller already ran _spread (e.g. chained
    # after text_quality_stats) — a second round-robin repartition of
    # the same rows would be a pure-waste shuffle
    df = _spread(df) if spread else df
    df = df.withColumn(
        "__rep", F.explode(F.array(_gram_run_stats(word_2grams(c))))
    )
    v = F.col("__rep")
    tot = v["tot"]
    return df.withColumns(
        {
            "dup_word_frac": F.round(
                F.when(
                    F.size(ws) > 0,
                    F.lit(1.0)
                    - F.size(F.array_distinct(ws)).cast("double") / F.size(ws),
                ).otherwise(F.lit(0.0)),
                6,
            ),
            "top_2gram_char_frac": F.round(
                F.when(tot > 0, v["best"].cast("double") / tot).otherwise(
                    F.lit(0.0)
                ),
                6,
            ),
            "dup_2gram_char_frac": F.round(
                F.when(tot > 0, v["dup"].cast("double") / tot).otherwise(
                    F.lit(0.0)
                ),
                6,
            ),
        }
    ).drop("__rep")


# ------------------------------------------ unigram LM quality scoring
def unigram_vocab(
    df: DataFrame, text_col: str = "text", min_count: int = 1
) -> DataFrame:
    """Corpus unigram frequency table ``(w, cnt)`` — the "LM" of the
    CCNet-style quality filter. One explode + one hash-partitioned
    groupBy (map-side partial aggregation: the shuffle carries one row
    per distinct word per task, not per token). ``min_count`` prunes
    the hapax tail, which bounds the vocabulary a web corpus would
    otherwise grow without limit (typo/URL noise); pruned words score
    as out-of-vocabulary."""
    vocab = (
        df.select(F.explode(words(F.col(text_col))).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    if min_count > 1:
        vocab = vocab.filter(F.col("cnt") >= min_count)
    return vocab


def unigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab: DataFrame | None = None,
    alpha: float = 1.0,
    min_count: int = 1,
) -> DataFrame:
    """Per-document mean unigram log-probability + perplexity under an
    additively-smoothed corpus LM — the CCNet/Wikipedia-LM quality
    signal at unigram grain: gibberish and boilerplate-free prose
    separate cleanly on mean log p(w).

    p(w) = (cnt(w) + alpha) / (T + alpha * (V + 1)) with one reserved
    out-of-vocabulary slot (unseen or hapax-pruned words take
    cnt = 0); T = total in-vocab tokens, V = vocabulary size. Returns
    (id_col, n_tokens, mean_logprob, perplexity); an empty document
    reports n_tokens = 0 with null score.

    Plan: vocab is trained on the corpus itself unless a held-out
    ``vocab`` (from unigram_vocab) is supplied — self-training is one
    extra groupBy. Scoring is explode → LEFT join on the word →
    per-doc aggregate. The (T, V) normalizer is a two-scalar
    aggregate (driver-side literals baked into the plan — the audited
    scalar-collect pattern). The word join is an equi-join Spark
    auto-broadcasts when the pruned vocab fits the threshold; above
    it, a shuffle join on the word key with AQE skew splitting (stop
    words are the classic hot keys)."""
    if vocab is None:
        # self-trained vocab feeds the (T, V) normalizer AND the score
        # join — persist so the corpus is scanned once for it, not
        # twice (released by dedup.release_dedup_caches(), the datapipe
        # family's one cache-release hook)
        from .dedup import _LIVE_CACHES

        vocab = unigram_vocab(df, text_col, min_count).persist()
        _LIVE_CACHES.append(vocab)
    totals = vocab.agg(
        F.sum("cnt").alias("t"), F.count(F.lit(1)).alias("v")
    ).collect()[0]
    t_tokens = int(totals["t"] or 0)
    v_size = int(totals["v"] or 0)
    denom = float(t_tokens) + alpha * (v_size + 1)

    toks = df.select(
        F.col(id_col).alias("id"), F.explode(words(F.col(text_col))).alias("w")
    ).filter(F.length("w") > 0)
    logp = F.log(
        (F.coalesce(F.col("cnt"), F.lit(0)).cast("double") + F.lit(alpha))
        / F.lit(denom)
    )
    per_doc = (
        toks.join(vocab, "w", "left")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.avg(logp).alias("mean_logprob"),
        )
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.col("mean_logprob"),
            F.exp(-F.col("mean_logprob")).alias("perplexity"),
        )
    )
