"""The benchmark's workloads.  Each drives the public ``bm25s_spark`` API
as one closed-loop client (the next call starts when the previous one
returned) and returns a :class:`Result`.

``build`` — the write path: seeded corpus parquet → ``build_index`` →
``ensure_sharded`` → ``save_index``.  Tokenization, doc ids, the
indexer, shard compression and the save do the work; the query kernel
does none.

``serve`` — the read path over an index built during set-up.  An op
is one sharded batch of ``BATCH`` queries.  Traced runs send a round
of every request kind instead: the batch, then single queries through
the four interactive paths — sharded ``retrieve``, join ``retrieve``
(the ``mcp_server`` path), ``retrieve_parsed`` and ``retrieve_qld``.
The build does no work.

Both time whole ops for ``Ctx.seconds`` and at least one op.  Set-up
ends with one untimed op of the same kind, so that JIT compilation,
Python-worker start-up and plan code generation are paid before timing
starts.  In traced runs every timed op is traced: each layer's public
call runs under its own span.
"""

from __future__ import annotations

import os
import time
import traceback
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from bm25s_spark import (
    STOPWORDS_EN, build_index, build_index_from_tokens, load_index,
    save_index, tokenize,
)
from bm25s_spark.ids import assign_doc_ids
from bm25s_spark.operators.qld import retrieve_qld
from bm25s_spark.operators.querylang import retrieve_parsed
from bm25s_spark.retrieval import tokenize_queries
from bm25s_spark.shards import build_sharded_postings, ensure_sharded

from perfbench import corpus as gen
from perfbench.oracle import Oracle, compare
from perfbench.stats import median

K = 10
BUILD_TURNS = 2000       # bulk-build corpus
SERVE_TURNS = 2000       # serving index
BATCH = 1024             # queries per sharded batch request
QUERY_POOL = 4 * BATCH   # distinct generated queries per run
CHECK_PER_BATCH = 16     # answers of each batch checked against the oracle
CHECK_QUERIES = 32       # build: saved-index answers checked
SINGLE_KINDS = ("sharded_1q", "join_1q", "querylang_1q", "qld_1q")
REQUEST_KINDS = ("batch",) + SINGLE_KINDS
ORACLE_KIND = {"batch": "bm25", "sharded_1q": "bm25", "join_1q": "bm25",
               "querylang_1q": "querylang", "qld_1q": "qld"}
SAVED_TABLES = ("postings_sharded", "postings_terms", "term_stats",
                "doc_lens", "doc_map")


@dataclass
class Result:
    setup_s: float
    ops: list[float]                     # untraced op walls (s)
    samples: dict[str, list[float]]      # part of an op -> untraced walls (s)
    items_per_op: int                    # docs indexed / batch queries answered
    item_walls: list[float]              # untraced walls of that bulk path (s)
    attempted: int
    failures: list[str]
    peak_cached_b: int
    check_s: float                       # untimed answer checks
    saved_bytes: dict[str, int] = field(default_factory=dict)

    def metrics(self) -> dict[str, float]:
        """The end-to-end metrics (untraced ops only)."""
        return {
            "setup_s": self.setup_s,
            "op_p50_ms": 1e3 * median(self.ops),
            "items_per_s": self.items_per_op / median(self.item_walls),
            "peak_cached_mb": self.peak_cached_b / 2**20,
        }


class Ctx:
    """Per-run state: the session, the run's scratch directory inside
    the checkout, the tracer, answer checks and the cache high-water
    mark."""

    def __init__(self, spark, work: str, seed: int, seconds: float, tracer,
                 t_start: float):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.t_start = t_start
        self.peak_cached_b = 0
        self.attempted = 0
        self.failures: list[str] = []

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def sample_cache(self) -> None:
        """Storage footprint (memory + disk) of cached blocks, read from
        the status API — no Spark job."""
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        used = sum(i.memSize() + i.diskSize() for i in infos)
        self.peak_cached_b = max(self.peak_cached_b, used)

    def check(self, what: str, reason: str | None) -> None:
        self.attempted += 1
        if reason is not None:
            self.failures.append(f"{what}: {reason}")

    def check_answers(self, oracle: Oracle, qpdf, answer, kind: str) -> None:
        """One check per query of ``qpdf`` against ``answer`` (the
        request's result frame)."""
        okind = ORACLE_KIND[kind]
        by_q = {q: g for q, g in answer.groupby("query_id")}
        for qid, text in zip(qpdf["query_id"], qpdf["text"]):
            got = _rows(by_q[qid]) if qid in by_q else []
            exp = oracle.expected(okind, text, K)
            self.check(f"{kind} {qid}", compare(
                got, exp, lambda d, t=text: oracle.score_of(okind, t, d)))

    def write_corpus(self, name: str, n_turns: int):
        gen.public(gen.corpus_df(self.spark, n_turns, self.seed)).write.mode(
            "overwrite").parquet(self.path(name))
        return self.spark.read.parquet(self.path(name))

    def query_pool(self, n_turns: int):
        """The client's query set, in qn order, as a pandas frame."""
        corpus = gen.corpus_df(self.spark, n_turns, self.seed)
        pool = gen.queries_df(corpus, QUERY_POOL, n_turns,
                              self.seed).toPandas()
        return pool.sort_values("qn").reset_index(drop=True)

    def oracle(self, name: str) -> Oracle:
        """Oracle over a written corpus, its texts read back in doc-id
        order without a Spark job."""
        pdf = pq.read_table(self.path(name),
                            columns=["conv_id", "turn_idx", "text"]).to_pandas()
        pdf = pdf.sort_values(["conv_id", "turn_idx"])
        return Oracle(pdf["text"].tolist(), STOPWORDS_EN)

    def rounds(self):
        """Yield op numbers for ``seconds``, at least one."""
        t_end = time.perf_counter() + self.seconds
        rnd = 0
        while True:
            yield rnd
            rnd += 1
            if time.perf_counter() >= t_end:
                return


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def _rows(pdf) -> list[tuple[int, float]]:
    pdf = pdf.sort_values("rank")
    return list(zip(pdf["doc_id"].astype(int).tolist(),
                    pdf["score"].astype(float).tolist()))


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _saved_bytes(path: str) -> dict[str, int]:
    return {t: _dir_bytes(os.path.join(path, t)) for t in SAVED_TABLES}


def _release(index) -> None:
    index.unpersist()
    if index.sharded is not None:
        index.sharded.unpersist()


# --------------------------------------------------------------------------
# build
# --------------------------------------------------------------------------

def _bulk(docs, out_path: str, walls: dict[str, list[float]]):
    """corpus → queryable (sharded, cached) index → saved index; appends
    the two parts' walls to ``walls``."""
    t0 = time.perf_counter()
    index = build_index(docs)
    ensure_sharded(index).count()
    t1 = time.perf_counter()
    save_index(index, out_path)
    walls["build"].append(t1 - t0)
    walls["save"].append(time.perf_counter() - t1)
    return index


def _bulk_layered(tr, docs, out_path: str):
    """The same op with each layer's public call made on a materialized
    input, each under its own span."""
    with tr.span("tokenization"):
        toks = tokenize(docs).persist()
        toks.count()
    with tr.span("ids"):
        ided = assign_doc_ids(toks)
        ided.count()
    with tr.span("indexer"):
        index = build_index_from_tokens(ided, doc_id_col="doc_id")
        index.postings.count()
    with tr.span("shards.compress") as rec:
        index.sharded = build_sharded_postings(index).persist()
        rec["attrs"]["n_blocks"] = index.sharded.count()
    with tr.span("index_io.save"):
        save_index(index, out_path)
    index.aux_persisted.append(toks)
    return index


def run_build(ctx: Ctx) -> Result:
    tr = ctx.tracer
    docs = ctx.write_corpus("corpus", BUILD_TURNS)
    _release(_bulk(docs, ctx.path("warmup"), {"build": [], "save": []}))
    setup_s = time.perf_counter() - ctx.t_start

    ops: list[float] = []
    parts: dict[str, list[float]] = {"build": [], "save": []}
    for rnd in ctx.rounds():
        saved = ctx.path(f"idx{rnd}")
        if tr.enabled:
            with tr.span("bulk", request=f"bulk-{rnd}"):
                index = _bulk_layered(tr, docs, saved)
        else:
            index, dt = _timed(lambda: _bulk(docs, saved, parts))
            ops.append(dt)
        ctx.sample_cache()
        _release(index)

    # untimed: the last saved index, loaded back, answers like the oracle
    t_check = time.perf_counter()
    oracle = ctx.oracle("corpus")
    pool = ctx.query_pool(BUILD_TURNS)
    loaded = load_index(ctx.spark, saved)
    qpdf = pool.iloc[:CHECK_QUERIES]
    answer = loaded.retrieve(ctx.spark.createDataFrame(
        qpdf[["query_id", "text"]]), k=K, strategy="sharded").toPandas()
    ctx.check_answers(oracle, qpdf, answer, "batch")
    if tr.enabled:
        # traced runs also exercise every query layer once, on this index
        answers: list = []
        _serve_round(ctx, loaded, pool, 0, True, None, answers)
        for kind, q, out in answers:
            ctx.check_answers(oracle, q.iloc[:CHECK_PER_BATCH], out, kind)
    return Result(
        setup_s, ops, {"bulk": ops, **parts}, items_per_op=BUILD_TURNS,
        item_walls=parts["build"],
        attempted=ctx.attempted, failures=ctx.failures,
        peak_cached_b=ctx.peak_cached_b,
        check_s=time.perf_counter() - t_check, saved_bytes=_saved_bytes(saved),
    )


# --------------------------------------------------------------------------
# serve
# --------------------------------------------------------------------------

def _request(ctx: Ctx, index, kind: str, qpdf, traced: bool):
    """One request; returns its answer as a pandas frame."""
    spark, tr = ctx.spark, ctx.tracer
    if kind == "batch":
        queries = spark.createDataFrame(qpdf[["query_id", "text"]])
        if not traced:
            return index.retrieve(queries, k=K, strategy="sharded").toPandas()
        with tr.span("retrieval.tokenize_queries"):
            tokenize_queries(index, queries).count()
        acc: dict = {}
        with tr.span("shards.retrieve") as rec:
            out = index.retrieve(queries, k=K, strategy="sharded",
                                 metrics=acc).toPandas()
        rec["attrs"].update({name: a.value for name, a in acc.items()})
        rec["attrs"]["queries"] = len(qpdf)
        return out
    q = spark.createDataFrame([(qpdf["query_id"].iloc[0], qpdf["text"].iloc[0])],
                              "query_id string, text string")
    if kind == "sharded_1q":
        out = index.retrieve(q, k=K, strategy="sharded")
    elif kind == "join_1q":
        out = index.retrieve(q, k=K)
    elif kind == "querylang_1q":
        out = retrieve_parsed(index, q, k=K)
    else:
        out = retrieve_qld(index, q, k=K)
    return out.toPandas()


def _serve_round(ctx: Ctx, index, pool, rnd: int, traced: bool, samples,
                 answers: list, kinds=REQUEST_KINDS) -> None:
    """One request of each of ``kinds``, answers appended to ``answers``
    for a check after the timed loop.  The batch is the round's slice of
    ``pool``; the single queries are the rows after it."""
    for j, kind in enumerate(kinds):
        lo = (rnd * BATCH) % (len(pool) - BATCH + 1)
        if kind == "batch":
            qpdf = pool.iloc[lo:lo + BATCH]
        else:
            qpdf = pool.iloc[[(lo + BATCH + j) % len(pool)]]
        try:
            if traced:
                with ctx.tracer.span(kind, request=f"{kind}-{rnd}"):
                    out = _request(ctx, index, kind, qpdf, True)
            else:
                out, dt = _timed(
                    lambda: _request(ctx, index, kind, qpdf, False))
                samples[kind].append(dt)
        except Exception as exc:  # noqa: BLE001 — a failed request is counted
            ctx.check(f"{kind} {qpdf['query_id'].iloc[0]}",
                      f"raised {traceback.format_exception_only(exc)[-1]}")
            continue
        ctx.sample_cache()
        answers.append((kind, qpdf, out))


def run_serve(ctx: Ctx) -> Result:
    tr = ctx.tracer
    docs = ctx.write_corpus("corpus", SERVE_TURNS)
    pool = ctx.query_pool(SERVE_TURNS)
    saved = ctx.path("idx")
    if tr.enabled:
        # traced runs build (and save) through the layer calls instead
        with tr.span("setup_build", request="setup_build"):
            index = _bulk_layered(tr, docs, saved)
    else:
        index = build_index(docs)
        ensure_sharded(index).count()
    ctx.sample_cache()
    answers: list = []
    samples: dict[str, list[float]] = {k: [] for k in REQUEST_KINDS}
    _serve_round(ctx, index, pool, 0, False, samples, answers, ("batch",))
    setup_s = time.perf_counter() - ctx.t_start

    # untraced runs time batches; traced runs send every request kind
    kinds = REQUEST_KINDS if tr.enabled else ("batch",)
    samples = {k: [] for k in REQUEST_KINDS}
    for rnd in ctx.rounds():
        _serve_round(ctx, index, pool, rnd + 1, tr.enabled, samples,
                     answers, kinds)

    t_check = time.perf_counter()
    oracle = ctx.oracle("corpus")
    for kind, qpdf, out in answers:
        ctx.check_answers(oracle, qpdf.iloc[:CHECK_PER_BATCH], out, kind)
    return Result(
        setup_s, samples["batch"], {"batch": samples["batch"]},
        items_per_op=BATCH, item_walls=samples["batch"],
        attempted=ctx.attempted, failures=ctx.failures,
        peak_cached_b=ctx.peak_cached_b, check_s=time.perf_counter() - t_check,
        saved_bytes=_saved_bytes(saved) if tr.enabled else {},
    )
