"""Event-analytics operators (ops/events.py): funnel cascade edge
cases, cohort retention math, freshness spine verdicts — plus the new
corpus-quality ops (unigram NLL, exact-substring decontamination).
The oracle queries pin the large-scale answers; these pin the edge
semantics oracles can't isolate (strictly-after at equal timestamps,
missing middle steps, empty inputs)."""

import math
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from jvst_spark.ops.events import (
    cohort_retention,
    freshness_gaps,
    funnel_steps,
)


def _ev(spark, rows):
    return spark.createDataFrame(
        [(u, datetime.utcfromtimestamp(s), t) for (u, s, t) in rows],
        "user_id bigint, ts timestamp_ntz, event_type string",
    )


STEPS = ["signup", "view", "click", "purchase"]


def _funnel_map(df):
    return {
        r["step"]: (r["n_users"], r["conv_rate"], r["event_type"])
        for r in df.collect()
    }


class TestFunnel:
    def test_full_cascade_and_dropoff(self, spark):
        ev = _ev(
            spark,
            [
                # u1 completes everything in order
                (1, 100, "signup"),
                (1, 200, "view"),
                (1, 300, "click"),
                (1, 400, "purchase"),
                # u2 stops after view
                (2, 100, "signup"),
                (2, 150, "view"),
                # u3 clicks BEFORE viewing: click must not count
                (3, 100, "signup"),
                (3, 120, "click"),
                (3, 140, "view"),
                # u4 never signs up: contributes to the denominator only
                (4, 100, "view"),
                (4, 200, "purchase"),
            ],
        )
        m = _funnel_map(funnel_steps(ev, STEPS))
        assert m[1] == (3, round(3 / 4, 6), "signup")
        assert m[2] == (3, 1.0, "view")
        # u3's click at 120 predates their view at 140 -> only u1
        assert m[3] == (1, round(1 / 3, 6), "click")
        assert m[4] == (1, 1.0, "purchase")

    def test_equal_timestamp_does_not_advance(self, spark):
        # view at the SAME microsecond as signup: strictly-after fails
        ev = _ev(
            spark,
            [(1, 100, "signup"), (1, 100, "view"), (1, 200, "view")],
        )
        m = _funnel_map(funnel_steps(ev, STEPS))
        assert m[1][0] == 1
        assert m[2][0] == 1  # the 200 view qualifies, the 100 one never
        ev2 = _ev(spark, [(1, 100, "signup"), (1, 100, "view")])
        assert _funnel_map(funnel_steps(ev2, STEPS))[2][0] == 0

    def test_retry_uses_first_touch(self, spark):
        # second signup later must not move the anchor forward
        ev = _ev(
            spark,
            [
                (1, 100, "signup"),
                (1, 150, "view"),
                (1, 500, "signup"),
            ],
        )
        m = _funnel_map(funnel_steps(ev, STEPS))
        assert m[2][0] == 1

    def test_rejects_empty_steps(self, spark):
        with pytest.raises(ValueError):
            funnel_steps(_ev(spark, [(1, 100, "view")]), [])

    def test_empty_input_yields_zero_counts(self, spark):
        # no step-type events at all: every step reports 0 users and
        # conv_rate 0.0 (not NULL) — the SQL formulation's answer
        ev = _ev(spark, [(1, 100, "other")])
        m = _funnel_map(funnel_steps(ev, STEPS))
        assert all(m[j][0] == 0 and m[j][1] == 0.0 for j in m)

    def test_max_events_cap_keeps_earliest(self, spark):
        # cap at 2: u1's purchase (3rd event) falls beyond the horizon
        ev = _ev(
            spark,
            [
                (1, 100, "signup"),
                (1, 200, "view"),
                (1, 300, "click"),
                (2, 100, "signup"),
            ],
        )
        m = _funnel_map(funnel_steps(ev, STEPS, max_events_per_user=2))
        assert m[1][0] == 2 and m[2][0] == 1 and m[3][0] == 0
        full = _funnel_map(funnel_steps(ev, STEPS))
        assert full[3][0] == 1


class TestRetention:
    def test_offsets_and_rates(self, spark):
        day = 86400
        ev = _ev(
            spark,
            [
                (1, 0 * day + 10, "view"),
                (1, 2 * day + 10, "view"),
                (2, 0 * day + 20, "view"),
                (3, 1 * day + 5, "view"),
                (3, 1 * day + 50, "view"),  # same day twice: one active row
            ],
        )
        rows = {
            (r["cohort_day"], r["day_offset"]): (
                r["n_active"],
                r["cohort_size"],
                r["retention"],
            )
            for r in cohort_retention(ev).collect()
        }
        assert rows[(0, 0)] == (2, 2, 1.0)
        assert rows[(0, 2)] == (1, 2, 0.5)
        assert rows[(1, 0)] == (1, 1, 1.0)
        assert (1, 1) not in rows


class TestFreshness:
    def test_missing_and_below_min(self, spark):
        day = 86400
        rows = []
        # day 0: 3 rows, day 1: absent, day 2: 1 row (below floor of 2)
        rows += [(1, 0 * day + i, "view") for i in range(3)]
        rows += [(1, 2 * day + 7, "view")]
        ev = _ev(spark, rows)
        out = {
            r["day_idx"]: (r["n_rows"], r["is_missing"], r["below_min"])
            for r in freshness_gaps(ev, min_rows_per_day=2).collect()
        }
        assert out[0] == (3, False, False)
        assert out[1] == (0, True, False)
        assert out[2] == (1, False, True)
        assert len(out) == 3

    def test_null_ts_filtered(self, spark):
        ev = spark.createDataFrame(
            [(1, None, "view")],
            "user_id bigint, ts timestamp_ntz, event_type string",
        )
        assert freshness_gaps(ev).count() == 0


class TestUnigramLogprob:
    def test_hand_computed(self, spark):
        from jvst_spark.ops.text import unigram_logprob

        docs = spark.createDataFrame(
            [(1, "a a b"), (2, "b")],
            "doc_id bigint, text string",
        )
        # corpus: a=2, b=2, total=4 -> p(a)=p(b)=0.5
        out = {
            r["doc_id"]: (r["n_tokens"], r["avg_nll"])
            for r in unigram_logprob(docs).collect()
        }
        nll = round(-math.log(0.5), 6)
        assert out[1] == (3, nll)
        assert out[2] == (1, nll)

    def test_rare_token_scores_higher(self, spark):
        from jvst_spark.ops.text import unigram_logprob

        docs = spark.createDataFrame(
            [(1, "a a a a"), (2, "z")],
            "doc_id bigint, text string",
        )
        out = {r["doc_id"]: r["avg_nll"] for r in unigram_logprob(docs).collect()}
        assert out[2] > out[1]


class TestExactSnippet:
    def test_hits_and_clean_docs(self, spark):
        from jvst_spark.ops.decontaminate import exact_snippet_overlap

        corpus = spark.createDataFrame(
            [
                (1, "prefix THE SECRET PROMPT suffix"),
                (2, "totally clean document"),
                (3, "THE SECRET PROMPT and ANOTHER LEAK together"),
            ],
            "doc_id bigint, text string",
        )
        snips = spark.createDataFrame(
            [(10, "THE SECRET PROMPT"), (11, "ANOTHER LEAK")],
            "snip_id bigint, snippet string",
        )
        out = {
            r["doc_id"]: (r["n_hits"], r["first_snip"])
            for r in exact_snippet_overlap(corpus, snips).collect()
        }
        assert out == {1: (1, 10), 3: (2, 10)}

    def test_six_token_snippet_inside_a_longer_token(self, spark):
        """A snippet's first and last tokens may be the tail and head
        of longer text tokens, so a 6-token snippet has only 4 interior
        tokens — too few for the 5-gram prefilter, which used to miss
        doc 1 here."""
        from jvst_spark.ops.decontaminate import exact_snippet_overlap

        corpus = spark.createDataFrame(
            [(1, "zz aa bb cc dd ee ffx yy"), (2, "aa bb cc dd ee ff")],
            "doc_id bigint, text string",
        )
        snips = spark.createDataFrame(
            [(10, "aa bb cc dd ee ff")], "snip_id bigint, snippet string"
        )
        got = sorted(
            r["doc_id"] for r in exact_snippet_overlap(corpus, snips).collect()
        )
        assert got == [1, 2]


class TestValueOutliers:
    def test_sigma_zero_and_threshold(self, spark):
        from jvst_spark.table_checks.outliers import value_outliers

        df = spark.createDataFrame(
            # group a: mean 0, one far outlier; group b: constant
            [(1, "a", 0.0), (2, "a", 1.0), (3, "a", -1.0),
             (4, "a", 100.0), (5, "b", 7.0), (6, "b", 7.0)],
            "event_id bigint, event_type string, value double",
        )
        out = value_outliers(
            df, "value", "event_type", z_threshold=1.5,
            id_cols=("event_id",),
        ).collect()
        assert [r["event_id"] for r in out] == [4]
        assert out[0]["z"] > 1.5

    def test_null_values_ignored_in_stats(self, spark):
        from jvst_spark.table_checks.outliers import value_outliers

        df = spark.createDataFrame(
            [(1, "a", 0.0), (2, "a", 10.0), (3, "a", None)],
            "event_id bigint, event_type string, value double",
        )
        out = value_outliers(df, "value", "event_type", 0.5,
                             ("event_id",))
        # the NULL row draws NULL z and never flags
        assert {r["event_id"] for r in out.collect()} == {1, 2}


class TestEmbNormAudit:
    def test_zero_and_ragged(self, spark):
        from jvst_spark.ops.similarity import embedding_norm_audit

        df = spark.createDataFrame(
            [(1, [3.0, 4.0]), (2, [0.0, 0.0]), (3, [1.0, 0.0, 0.0])],
            "vec_id bigint, embedding array<float>",
        )
        r = embedding_norm_audit(df).collect()[0]
        assert (r["n_vecs"], r["min_dims"], r["max_dims"]) == (3, 2, 3)
        assert (r["n_malformed"], r["n_zero"]) == (0, 1)
        assert (r["min_norm"], r["max_norm"]) == (0.0, 5.0)
        assert r["avg_norm"] == 2.0

    def test_malformed_counted_not_scored(self, spark):
        # empty arrays and NULL elements: counted in n_malformed,
        # excluded from every norm statistic (engines disagree on
        # their fold semantics — the contract pins one answer)
        from jvst_spark.ops.similarity import embedding_norm_audit

        df = spark.createDataFrame(
            [(1, [3.0, 4.0]), (2, []), (3, [1.0, None])],
            "vec_id bigint, embedding array<float>",
        )
        r = embedding_norm_audit(df).collect()[0]
        assert (r["n_vecs"], r["n_malformed"], r["n_zero"]) == (3, 2, 0)
        assert (r["min_norm"], r["max_norm"], r["avg_norm"]) == (
            5.0, 5.0, 5.0,
        )

    def test_all_malformed(self, spark):
        from jvst_spark.ops.similarity import embedding_norm_audit

        df = spark.createDataFrame(
            [(1, [])], "vec_id bigint, embedding array<float>"
        )
        r = embedding_norm_audit(df).collect()[0]
        assert (r["n_malformed"], r["n_zero"]) == (1, 0)
        assert r["min_norm"] is None and r["avg_norm"] is None


class TestCheckSuite:
    def test_count_and_threshold_checks(self, spark):
        from jvst_spark.table_checks.suite import (
            count_check,
            suite_report,
            threshold_check,
        )

        bad = spark.createDataFrame([(1,), (2,)], "k bigint")
        clean = bad.filter("k < 0")
        metric = spark.createDataFrame([(0.31,)], "psi double")
        rep = {
            r["check_name"]: (r["n_bad"], r["metric"], r["passed"])
            for r in suite_report(
                [
                    count_check("dups", bad),
                    count_check("clean", clean),
                    threshold_check("psi", metric, "psi", 0.25),
                ]
            ).collect()
        }
        assert rep["dups"] == (2, 2.0, False)
        assert rep["clean"] == (0, 0.0, True)
        assert rep["psi"] == (1, 0.31, False)

    def test_empty_suite_rejected(self, spark):
        from jvst_spark.table_checks.suite import suite_report

        with pytest.raises(ValueError):
            suite_report([])


class TestCardinalityDrift:
    def test_missing_day_flags_as_collapse(self, spark):
        from jvst_spark.table_checks.drift import cardinality_drift

        day = 86400
        rows = []
        # day 0: 4 users; day 1: MISSING; day 2: 2 users
        rows += [(u, 0 * day + u, "view") for u in range(1, 5)]
        rows += [(u, 2 * day + u, "view") for u in (1, 2)]
        ev = spark.createDataFrame(
            [(u, datetime.utcfromtimestamp(s), t) for u, s, t in rows],
            "user_id bigint, ts timestamp_ntz, event_type string",
        )
        out = {
            r["day_idx"]: (
                r["n_users"], r["prev"], r["rel_change"], r["flagged"]
            )
            for r in cardinality_drift(ev).collect()
        }
        assert out[0] == (4, None, None, False)
        # the outage day exists on the spine and flags as -100%
        assert out[1] == (0, 4, -1.0, True)
        # the day after: prev = 0 -> undefined change, no flag
        assert out[2] == (2, 0, None, False)


class TestSuiteEmptyMetric:
    def test_threshold_check_survives_empty_metric_frame(self, spark):
        from jvst_spark.table_checks.suite import (
            suite_report,
            threshold_check,
        )

        empty = spark.createDataFrame([], "psi double")
        rep = suite_report(
            [threshold_check("drift", empty, "psi", 0.25)]
        ).collect()
        assert len(rep) == 1
        r = rep[0]
        assert (r["check_name"], r["n_bad"], r["passed"]) == (
            "drift", 1, False,
        )
        assert r["metric"] is None


class TestFunnelCapValidation:
    def test_zero_cap_rejected(self, spark):
        with pytest.raises(ValueError):
            funnel_steps(
                _ev(spark, [(1, 100, "view")]), STEPS,
                max_events_per_user=0,
            )
