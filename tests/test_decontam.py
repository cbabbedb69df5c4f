"""Benchmark decontamination (operators/decontaminate.py) and URL
blocklist filtering (operators/curation.py::url_blocklist_filter) —
semantics pins backing the ``benchmark_decontam`` / ``url_blocklist``
oracles."""

import pytest
from pyspark.sql import functions as F

from n8n_tools_api_spark.operators.curation import url_blocklist_filter
from n8n_tools_api_spark.operators.decontaminate import (
    benchmark_grams, ngram_decontaminate,
)

W13 = " ".join(f"w{i}" for i in range(13))        # a 13-word sentence
W25 = " ".join(f"w{i}" for i in range(25))


def _run(spark, docs, bench, n=13):
    d = spark.createDataFrame(docs, "doc_id string, text string")
    b = spark.createDataFrame([(t,) for t in bench], "text string")
    return {r["doc_id"]: r for r in ngram_decontaminate(d, b, n=n).collect()}


class TestNgramDecontaminate:
    def test_thirteen_gram_overlap_flags_doc(self, spark):
        out = _run(spark, [
            ("hit", "prefix words here " + W13 + " suffix words"),
            ("clean", " ".join(f"z{i}" for i in range(30))),
        ], bench=["eval question intro " + W13 + " eval answer"])
        assert out["hit"]["contaminated"] is True
        assert out["hit"]["n_hits"] == 1
        assert out["clean"]["contaminated"] is False
        assert out["clean"]["n_hits"] == 0

    def test_twelve_gram_overlap_is_not_enough(self, spark):
        # doc shares only the first 12 words of the bench 13-gram
        twelve = " ".join(f"w{i}" for i in range(12))
        out = _run(spark, [("d", "lead in " + twelve + " divergent tail")],
                   bench=[W13])
        assert out["d"]["contaminated"] is False

    def test_case_and_whitespace_folded(self, spark):
        out = _run(spark, [("d", W13.upper().replace(" ", "   "))],
                   bench=[W13])
        assert out["d"]["contaminated"] is True

    def test_short_doc_whole_sequence_convention(self, spark):
        # < n words: the whole word sequence is the doc's single gram —
        # contaminated only on an exact whole-sequence bench gram
        out = _run(spark, [
            ("exact", "alpha beta gamma"),
            ("sub", "alpha beta"),
        ], bench=["alpha beta gamma"])
        assert out["exact"]["contaminated"] is True
        assert out["exact"]["n_grams"] == 1
        assert out["sub"]["contaminated"] is False

    def test_null_and_empty_docs_never_contaminated(self, spark):
        out = _run(spark, [("n", None), ("e", "   ")],
                   bench=["", None, "alpha beta"])
        for k in ("n", "e"):
            assert out[k]["n_grams"] == 0
            assert out[k]["contaminated"] is False

    def test_hits_count_distinct_grams(self, spark):
        # the doc repeats the bench gram — distinct grams count once
        out = _run(spark, [("d", W13 + " filler " + W13)], bench=[W13])
        assert out["d"]["n_hits"] == 1

    def test_multiple_hits_counted(self, spark):
        # bench span of 14 words yields two 13-grams; a doc containing
        # the whole span hits both
        span = " ".join(f"w{i}" for i in range(14))
        out = _run(spark, [("d", "intro " + span + " outro")], bench=[span])
        assert out["d"]["n_hits"] == 2

    def test_benchmark_grams_distinct_and_nonempty(self, spark):
        b = spark.createDataFrame(
            [("alpha beta",), ("alpha beta",), (None,), ("",)],
            "text string")
        grams = [r["gram"] for r in benchmark_grams(b, n=13).collect()]
        assert grams == ["alpha beta"]

    def test_invalid_n_raises(self, spark):
        d = spark.createDataFrame([("a", "x")], "doc_id string, text string")
        with pytest.raises(ValueError):
            ngram_decontaminate(d, d.select("text"), n=0)

    def test_plan_broadcast_only_no_sort_merge(self, spark):
        # scale pin: the benchmark side and the hit-count join-back are
        # broadcast; no sort-merge join may appear anywhere in the plan
        d = spark.createDataFrame([("a", W25)], "doc_id string, text string")
        b = spark.createDataFrame([(W13,)], "text string")
        plan = ngram_decontaminate(d, b)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "SortMergeJoin" not in plan
        assert "BroadcastHashJoin" in plan


def _filter(spark, rows, domains=("badsite.org", "tracker.net"),
            terms=("casino", "poker", "xxx")):
    d = spark.createDataFrame(rows, "doc_id string, url string")
    dom = spark.createDataFrame([(x,) for x in domains], "domain string")
    out = url_blocklist_filter(d, dom, list(terms))
    return {r["doc_id"]: r for r in out.collect()}


class TestUrlBlocklistFilter:
    def test_exact_and_subdomain_domain_block(self, spark):
        out = _filter(spark, [
            ("a", "https://badsite.org/page"),
            ("b", "https://deep.sub.badsite.org/x"),
            ("c", "https://www.badsite.org:8443/y"),
        ])
        for k in ("a", "b", "c"):
            assert out[k]["status"] == "blocked_domain"
            assert out[k]["matched"] == "badsite.org"

    def test_label_boundary_not_substring(self, spark):
        # 'mytracker.net' must NOT match the 'tracker.net' entry
        out = _filter(spark, [("d", "https://mytracker.net/ok")])
        assert out["d"]["status"] == "kept"
        assert out["d"]["matched"] is None

    def test_domain_beats_term(self, spark):
        out = _filter(spark, [("d", "https://badsite.org/casino")])
        assert out["d"]["status"] == "blocked_domain"
        assert out["d"]["matched"] == "badsite.org"

    def test_term_match_case_folded_min_term_wins(self, spark):
        out = _filter(spark, [("d", "https://ok.com/POKER-and-CASINO")])
        assert out["d"]["status"] == "blocked_term"
        assert out["d"]["matched"] == "casino"   # lexicographic min

    def test_unparseable_and_null_urls_kept(self, spark):
        out = _filter(spark, [("u", "not a url"), ("n", None)])
        for k in ("u", "n"):
            assert out[k]["status"] == "kept"
            assert out[k]["host"] == ""
            assert out[k]["matched"] is None

    def test_empty_term_list_only_domains_block(self, spark):
        out = _filter(spark, [
            ("t", "https://ok.com/casino"),
            ("d", "https://badsite.org/z"),
        ], terms=())
        assert out["t"]["status"] == "kept"
        assert out["d"]["status"] == "blocked_domain"

    def test_one_row_per_input_doc(self, spark):
        rows = [(str(i), f"https://sub{i}.badsite.org/p{i}") for i in range(8)]
        out = _filter(spark, rows)
        assert len(out) == 8

    def test_plan_broadcast_domain_join(self, spark):
        d = spark.createDataFrame([("a", "https://x.com/")],
                                  "doc_id string, url string")
        dom = spark.createDataFrame([("b.org",)], "domain string")
        plan = url_blocklist_filter(d, dom, ["casino"])._jdf \
            .queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan
        assert "BroadcastHashJoin" in plan


def test_document_text_is_split_once(spark):
    # the gram explode sits directly on the word-split projection, so
    # CollapseProject cannot inline the split into the gram lambdas
    # (O(words²) per doc); the benchmark side has its own single split
    d = spark.createDataFrame([("a", "x " + W13 + " y")],
                              "doc_id string, body string")
    b = spark.createDataFrame([(W13,)], "text string")
    plan = ngram_decontaminate(d, b, text_col="body")._jdf \
        .queryExecution().optimizedPlan().toString()
    assert plan.count("split(lower(trim(coalesce(body#") == 1
