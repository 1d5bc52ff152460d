"""Seeded transcript corpus and query generator.

Everything is a Spark column expression over ``spark.range``: every
random draw is an ``xxhash64`` of (seed, salt, row id[, position]), so a
seed fixes the data exactly, independent of partitioning and core
count, and nothing is built as a driver-side list.

Corpus (the ``input_hint`` transcript schema: conv_id, turn_idx, role,
text, tool, ts):

- content words come from a Zipf–Mandelbrot law over ``VOCAB`` word
  types (rank ~ exp(uniform) − ZIPF_SHIFT), each type a distinct
  six-letter consonant-vowel word that is never an English stopword;
- about ``STOPWORD_SHARE`` of tokens are drawn from the library's
  ``STOPWORDS_EN``;
- one head term sits in about ``HEAD_SHARE`` of the turns (the skew case);
- 5–40 tokens per turn;
- a small share of turns is empty, all-stopword or non-ASCII.

Queries (the FIXTURES.md §2 mix): 70% spans of 3–12 tokens cut from a
random turn, 10% spans with an injected out-of-vocabulary word, 5% all
stopwords, 5% empty, 10% the rarest content word of a random turn.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from bm25s_spark import STOPWORDS_EN

VOCAB = 200_000
ZIPF_SHIFT = 10
STOPWORD_SHARE = 0.30
HEAD_SHARE = 0.50
MIN_TOKENS, MAX_TOKENS = 5, 40
TURNS_PER_CONV = 10
# shares of special turns, as cumulative thresholds on one uniform draw
EMPTY_SHARE, ALL_STOP_SHARE, NON_ASCII_SHARE = 0.004, 0.004, 0.01

_CONSONANTS = "bcdfghjklmnprstv"
_VOWELS = "aeio"
SYLLABLES = [c + v for c in _CONSONANTS for v in _VOWELS]  # 64 distinct
STOPWORDS = sorted(STOPWORDS_EN)
NON_ASCII_WORDS = ["שלום", "עולם", "你好世界", "数据", "привет", "мир",
                   "çalışma", "şehir", "ñandú", "größe"]
ROLES = ["user", "assistant", "tool"]
TOOLS = ["search", "calc", "browse"]
HEAD_WORD = "zahead"  # not a CV-syllable word, so it never collides
OOV_PREFIX = "zzqx"

# query-kind thresholds (cumulative): span, oov, stopwords, empty, rare
QUERY_KINDS = [("span", 0.70), ("oov", 0.80), ("stop", 0.85),
               ("empty", 0.90), ("rare", 1.00)]

_SCALE = float(1 << 53)


def uniform(seed: int, salt: str, *cols: Column) -> Column:
    """A uniform double in [0, 1) fixed by (seed, salt, cols)."""
    h = F.xxhash64(F.lit(seed), F.lit(salt), *cols)
    return F.pmod(h, F.lit(1 << 53)).cast("double") / F.lit(_SCALE)


def _pick(options: list[str], u: Column) -> Column:
    arr = F.array(*[F.lit(o) for o in options])
    return F.element_at(arr, (u * len(options)).cast("int") + 1)


def word_of_rank(rank: Column, seed: int) -> Column:
    """Distinct six-letter word for each rank in [0, VOCAB); the
    rank→word map is a seeded bijection (7919 is coprime to VOCAB)."""
    p = F.pmod(rank * F.lit(7919) + F.lit(seed * 104729), F.lit(VOCAB))
    syl = F.array(*[F.lit(s) for s in SYLLABLES])
    digit = lambda c: F.element_at(syl, (c % 64).cast("int") + 1)  # noqa: E731
    return F.concat(digit(p / 4096), digit(p / 64), digit(p))


def zipf_rank(u: Column) -> Column:
    """Zipf–Mandelbrot rank in [0, VOCAB): log-uniform over
    [ZIPF_SHIFT, VOCAB + ZIPF_SHIFT) shifted down."""
    lo, hi = float(ZIPF_SHIFT), float(VOCAB + ZIPF_SHIFT)
    r = F.exp(F.lit(math.log(lo)) + u * F.lit(math.log(hi / lo)))
    return F.least(F.floor(r).cast("long") - ZIPF_SHIFT, F.lit(VOCAB - 1))


def corpus_df(spark: SparkSession, n_turns: int, seed: int,
              partitions: int = 8) -> DataFrame:
    """The seeded corpus of ``n_turns`` turns, plus hidden columns for the query generator: ``_rare`` (the turn's
    rarest content word) and ``_doc`` (the turn's doc id under the
    (conv_id, turn_idx) identity rule).  :func:`public` drops them."""
    rid = F.col("id")
    staged = spark.range(n_turns, numPartitions=partitions).select(
        "id",
        uniform(seed, "kind", rid).alias("kind"),
        (F.lit(MIN_TOKENS)
         + (uniform(seed, "len", rid) * (MAX_TOKENS - MIN_TOKENS + 1))
         .cast("int")).alias("ntok"),
    ).withColumn("ranks", F.transform(
        F.sequence(F.lit(1), F.col("ntok")),
        lambda i: F.when(uniform(seed, "sw", rid, i) < STOPWORD_SHARE,
                         F.lit(-1).cast("long"))
        .otherwise(zipf_rank(uniform(seed, "z", rid, i))),
    ))

    def stop_at(i):
        return _pick(STOPWORDS, uniform(seed, "swi", rid, i))

    ranks, ntok, kind = F.col("ranks"), F.col("ntok"), F.col("kind")
    words = F.transform(ranks, lambda r, i: F.when(r < 0, stop_at(i))
                        .otherwise(word_of_rank(r, seed)))
    head_pos = (uniform(seed, "hpos", rid) * ntok).cast("int") + 1
    with_head = F.when(
        uniform(seed, "head", rid) < HEAD_SHARE,
        F.concat(F.slice(words, 1, head_pos), F.array(F.lit(HEAD_WORD)),
                 F.slice(words, head_pos + 1, MAX_TOKENS)),
    ).otherwise(words)
    all_stop = F.transform(ranks, lambda r, i: stop_at(i))
    non_ascii = F.concat(
        F.transform(F.sequence(F.lit(1), F.lit(3)), lambda i: _pick(
            NON_ASCII_WORDS, uniform(seed, "na", rid, i))),
        words,
    )
    tokens = (
        F.when(kind < EMPTY_SHARE, F.array().cast("array<string>"))
        .when(kind < EMPTY_SHARE + ALL_STOP_SHARE, all_stop)
        .when(kind < EMPTY_SHARE + ALL_STOP_SHARE + NON_ASCII_SHARE,
              non_ascii)
        .otherwise(with_head)
    )
    max_rank = F.array_max(ranks)
    staged = staged.select(
        "id", "kind", tokens.alias("tokens"),
        F.when((kind >= EMPTY_SHARE + ALL_STOP_SHARE) & (max_rank >= 0),
               word_of_rank(max_rank, seed))
        .otherwise(F.lit("")).alias("_rare"),
    )
    tokens = F.col("tokens")
    text = F.when(F.size(tokens) == 0, F.lit("")).otherwise(
        F.concat(F.initcap(F.element_at(tokens, 1)), F.lit(" "),
                 F.concat_ws(" ", F.slice(tokens, 2, MAX_TOKENS + 4)),
                 F.lit("."))
    )
    conv = (rid / TURNS_PER_CONV).cast("long")
    turn = (rid % TURNS_PER_CONV).cast("int")
    role = F.element_at(F.array(*[F.lit(r) for r in ROLES]),
                        (turn % 3).cast("int") + 1)
    return staged.select(
        F.format_string("conv-%08d", conv).alias("conv_id"),
        turn.alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        F.when(role == "tool", _pick(TOOLS, uniform(seed, "tool", rid)))
        .otherwise(F.lit("")).alias("tool"),
        (F.lit(1767225600) + rid * 60).cast("timestamp").alias("ts"),
        "_rare",
        rid.alias("_doc"),
    )


def public(corpus: DataFrame) -> DataFrame:
    """The corpus as the library sees it: hidden columns dropped."""
    return corpus.drop(*[c for c in corpus.columns if c.startswith("_")])


def queries_df(corpus: DataFrame, n_queries: int, n_turns: int,
               seed: int, partitions: int = 8) -> DataFrame:
    """``n_queries`` seeded queries (query_id, qn, kind, doc, text) over
    a :func:`corpus_df` frame of ``n_turns`` turns; ``doc`` is the turn a
    span or rare-term query was cut from."""
    spark = corpus.sparkSession
    qid = F.col("id")
    u_kind = uniform(seed, "qk", qid)
    kind = F.lit(QUERY_KINDS[-1][0])
    for name, hi in reversed(QUERY_KINDS[:-1]):
        kind = F.when(u_kind < hi, F.lit(name)).otherwise(kind)
    q = spark.range(n_queries, numPartitions=partitions).select(
        qid.alias("qn"),
        kind.alias("kind"),
        (uniform(seed, "qd", qid) * n_turns).cast("long").alias("doc"),
        (F.lit(3) + (uniform(seed, "ql", qid) * 10).cast("int")).alias("qlen"),
        uniform(seed, "qs", qid).alias("qs"),
        uniform(seed, "qo", qid).alias("qo"),
    )
    docs = corpus.select(F.col("_doc").alias("doc"), "text", "_rare")
    words = F.split(F.regexp_replace(F.lower(F.col("text")), r"\.$", ""), " ")
    n_words = F.size(words)
    start = (F.col("qs") * F.greatest(n_words - F.col("qlen") + 1, F.lit(1))
             ).cast("int") + 1
    span = F.concat_ws(" ", F.slice(words, start, F.col("qlen")))
    oov = F.concat(span, F.lit(" "), F.lit(OOV_PREFIX),
                   F.conv(F.col("qn").cast("string"), 10, 36))
    stop = F.concat_ws(" ", F.transform(
        F.sequence(F.lit(1), F.lit(3) + (F.col("qo") * 4).cast("int")),
        lambda i: _pick(STOPWORDS, uniform(seed, "qsw", F.col("qn"), i))))
    text = (
        F.when(F.col("kind") == "span", span)
        .when(F.col("kind") == "oov", oov)
        .when(F.col("kind") == "stop", stop)
        .when(F.col("kind") == "empty", F.lit(""))
        .otherwise(F.col("_rare"))
    )
    return (
        q.join(docs, "doc", "left")
        .select(F.format_string("q-%07d", F.col("qn")).alias("query_id"),
                "qn", "kind", "doc", text.alias("text"))
    )
