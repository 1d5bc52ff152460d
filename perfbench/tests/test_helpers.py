"""Tests of the benchmark's own helpers.

    python3 -m pytest perfbench/tests -q      (from the repository root)
"""

from __future__ import annotations

import json

import pytest

from perfbench.oracle import Oracle, compare
from perfbench.stats import summarize, tail_percentile
from perfbench.tracing import GROUP_PREFIX, Tracer, module_of

STOP = {"a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "if",
        "in", "into", "is", "it", "no", "not", "of", "on", "or", "such",
        "that", "the", "their", "then", "there", "these", "they", "this",
        "to", "was", "will", "with"}
ANIMALS = [
    "a cat is a feline and likes to purr",
    "a dog is the human's best friend and loves to play",
    "a bird is a beautiful animal that can fly",
    "a fish is a creature that lives in water and swims",
]
FELINE = "a cat is a feline, it's sometimes beautiful but cannot fly"


# -- oracle -----------------------------------------------------------------

def _check(oracle, kind, text, got, k):
    exp = oracle.expected(kind, text, k)
    return compare(got, exp, lambda d: oracle.score_of(kind, text, d))


def test_oracle_matches_reference_golden_answer():
    oracle = Oracle(ANIMALS, STOP)
    top = oracle.expected("bm25", FELINE, 2)
    assert [d for d, _ in top] == [0, 2]
    assert top[0][1] == pytest.approx(1.0584, abs=1e-4)
    assert top[1][1] == pytest.approx(0.9632, abs=1e-4)


def test_oracle_accepts_its_own_answer_and_pads_to_k():
    oracle = Oracle(ANIMALS, STOP)
    exp = oracle.expected("bm25", FELINE, 4)
    assert len(exp) == 4 and exp[-1][1] == 0.0
    assert _check(oracle, "bm25", FELINE, exp, 4) is None
    # matched-only kinds return no padding
    assert len(oracle.expected("qld", FELINE, 4)) == 2
    assert oracle.expected("qld", "zzqx unknown", 4) == []


def test_oracle_flags_planted_wrong_score():
    oracle = Oracle(ANIMALS, STOP)
    exp = oracle.expected("bm25", FELINE, 2)
    got = [exp[0], (exp[1][0], exp[1][1] * 1.001)]
    assert "score" in _check(oracle, "bm25", FELINE, got, 2)


def test_oracle_flags_planted_wrong_doc():
    oracle = Oracle(ANIMALS, STOP)
    exp = oracle.expected("bm25", FELINE, 2)
    got = [exp[0], (1, exp[1][1])]  # doc 1 does not score 0.9632
    assert "doc 1" in _check(oracle, "bm25", FELINE, got, 2)
    assert "repeated" in _check(oracle, "bm25", FELINE,
                                [exp[0], exp[0]], 2)
    assert "rows" in _check(oracle, "bm25", FELINE, exp[:1], 2)


def test_tie_groups_compare_as_sets():
    texts = ["alpha", "alpha", "alpha", "beta gamma"]
    oracle = Oracle(texts, STOP)
    q = "alpha"
    exp = oracle.expected("bm25", q, 4)          # three tied, then a zero
    swapped = [exp[2], exp[0], exp[1], exp[3]]
    assert _check(oracle, "bm25", q, swapped, 4) is None
    # the group cut by k may be any of its members
    assert _check(oracle, "bm25", q, [exp[2], exp[1]], 2) is None
    # but a complete group must come back whole
    wrong = [exp[0], exp[1], exp[3], exp[2]]
    assert _check(oracle, "bm25", q, wrong, 4) is not None


def test_querylang_terms_follow_the_ascii_parse_contract():
    oracle = Oracle(["привет мир", "hello world"], STOP)
    assert oracle.tokenize("Привет мир") == ["привет", "мир"]
    assert oracle.tokenize_querylang("Привет hello^2 +world") == [
        "hello", "world"]


# -- percentile rule ------------------------------------------------------------

def test_percentile_rule_reports_sample_count():
    values = [float(v) for v in range(1, 61)]
    assert tail_percentile(values) == (83, 50.0)   # 10 samples above
    s = summarize(values)
    assert s["n"] == 60 and s["p50"] == 30.5 and s["p83"] == 50.0


def test_percentile_rule_needs_ten_samples_beyond():
    assert tail_percentile([1.0] * 19) is None
    assert tail_percentile([float(v) for v in range(20)]) == (50, 9.0)
    assert summarize([3.0, 1.0, 2.0]) == {"n": 3, "p50": 2.0}


# -- tracing ----------------------------------------------------------------------

def test_module_of_call_site():
    assert module_of("collect at /x/bm25s_spark/shards.py:470") == "shards"
    assert module_of("collect at /x/bm25s_spark/operators/qld.py:77") == \
        "operators.qld"
    assert module_of("toPandas at /x/perfbench/workloads.py:9") == "client"


class _FakeSc:
    def __init__(self):
        self.props = {}

    def setJobGroup(self, group, desc):
        self.props["spark.jobGroup.id"] = group

    def setLocalProperty(self, key, value):
        self.props[key] = value


class _FakeSpark:
    def __init__(self):
        self.sparkContext = _FakeSc()


def test_tracer_off_records_nothing():
    spark = _FakeSpark()
    tr = Tracer(spark, enabled=False)
    with tr.span("x") as rec:
        rec["attrs"]["n"] = 1
    assert tr.spans == [] and spark.sparkContext.props == {}


def test_fold_attributes_tasks_to_spans_and_modules(tmp_path):
    tr = Tracer(_FakeSpark(), enabled=True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": f"{GROUP_PREFIX}1",
                        "callSite.short": "collect at /r/bm25s_spark/ids.py:1"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor CPU Time": 2_000_000_000, "Executor Run Time": 3000,
            "JVM GC Time": 100, "Result Size": 2048,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 10}}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1],
         "Properties": {}},                      # not under a span
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor CPU Time": 5}},
    ]
    (tmp_path / "local-1").write_text(
        "\n".join(json.dumps(e) for e in events) + "\n")
    tr.fold(str(tmp_path))
    outer, inner = tr.spans
    assert inner["self"]["jobs"] == 1 and inner["self"]["tasks"] == 1
    assert inner["self"]["task_cpu_s"] == 2.0
    assert inner["by_module"]["ids"]["result_b"] == 2048
    assert outer["self"]["jobs"] == 0
    assert tr.total(outer)["shuffle_write_b"] == 10


# -- seeded generator --------------------------------------------------------------

@pytest.fixture(scope="module")
def spark():
    pyspark = pytest.importorskip("pyspark")
    s = (pyspark.sql.SparkSession.builder.master("local[2]")
         .appName("perfbench-tests").config("spark.ui.enabled", "false")
         .getOrCreate())
    yield s
    s.stop()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_same_seed_gives_identical_data(spark):
    from perfbench import corpus as gen

    a = gen.corpus_df(spark, 300, seed=5, partitions=2)
    b = gen.corpus_df(spark, 300, seed=5, partitions=3)
    assert _rows(a) == _rows(b)
    qa = gen.queries_df(a, 64, 300, seed=5, partitions=2)
    qb = gen.queries_df(b, 64, 300, seed=5, partitions=4)
    assert _rows(qa) == _rows(qb)
    c = gen.corpus_df(spark, 300, seed=6)
    assert _rows(a) != _rows(c)


def test_corpus_shape(spark):
    from perfbench import corpus as gen

    n = 2000
    pdf = gen.corpus_df(spark, n, seed=1).toPandas()
    assert list(pdf["_doc"]) == list(range(n))
    oracle = Oracle(pdf["text"].tolist(), gen.STOPWORDS)
    words = [w for t in pdf["text"] for w in t.lower().rstrip(".").split()]
    stop_share = sum(w in gen.STOPWORDS for w in words) / len(words)
    assert 0.25 < stop_share < 0.35
    head = sum(gen.HEAD_WORD in oracle.tokenize(t) for t in pdf["text"]) / n
    assert 0.45 < head < 0.55
    lens = [len(t.split()) for t in pdf["text"] if t]
    assert min(lens) >= gen.MIN_TOKENS and max(lens) <= gen.MAX_TOKENS + 3
    assert (pdf["text"] == "").sum() > 0
    assert any(any(ord(ch) > 127 for ch in t) for t in pdf["text"])
    kinds = gen.queries_df(gen.corpus_df(spark, n, seed=1), 1000, n,
                           seed=1).toPandas()["kind"].value_counts() / 1000
    assert 0.65 < kinds["span"] < 0.75 and 0.07 < kinds["rare"] < 0.13


# -- BENCHMARK.json ----------------------------------------------------------------

def test_benchmark_json_names_the_metrics_the_report_emits():
    import os

    from perfbench.report import E2E_UNITS, LAYER_UNITS
    from perfbench.run import WORKLOADS

    path = os.path.join(os.path.dirname(__file__), "..", "..",
                        "BENCHMARK.json")
    with open(path) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == LAYER_UNITS
    assert tuple(w["name"] for w in bench["workloads"]) == WORKLOADS
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25
