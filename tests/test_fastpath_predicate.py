"""Engagement contract of the bag+exclusions fast path predicate.

The rank-identity suites pin that WHICHEVER path serves a query returns
f64-identical results; this file pins WHICH path engages, so a silent
disengagement (a pure perf regression the identity tests cannot see)
fails loudly.  Pure plan-level predicate -- no Spark session.
"""

from probe_spark import elastic
from probe_spark.engine import _bag_plus_exclusions


def plan(q: str):
    return elastic.create_query_plan(q)


class TestEngages:
    def test_single_positive_single_excluded(self):
        assert _bag_plus_exclusions(plan("scan -vector"))

    def test_or_bag_positive_plus_excluded(self):
        assert _bag_plus_exclusions(plan("scan merge -vector"))

    def test_multiple_excluded(self):
        assert _bag_plus_exclusions(plan("scan -vector -matrix"))

    def test_excluded_phrase_needle(self):
        # quoted single-token exclusion is still a single-keyword Term
        assert _bag_plus_exclusions(plan('scan -"vector"'))


class TestDeclines:
    def test_no_exclusions_is_plain_bag(self):
        assert not _bag_plus_exclusions(plan("scan merge"))

    def test_required_term(self):
        assert not _bag_plus_exclusions(plan("+scan -vector"))

    def test_dual_emit_positive(self):
        # "firewall" dual-emits (firewall, firewal): multi-keyword Terms
        # sum INSIDE the node first -- different f64 association than the
        # flat keyword sum, so the lane scorer must serve it
        p = plan("firewall -network")
        kws = [t.lowercase_keywords for t in elastic.walk_terms(p.ast)]
        assert any(len(k) > 1 for k in kws), "fixture lost its dual-emit"
        assert not _bag_plus_exclusions(p)

    def test_conjunctive_positives(self):
        assert not _bag_plus_exclusions(plan("scan AND merge -vector"))

    def test_exact_positive(self):
        assert not _bag_plus_exclusions(plan('"scan merge" -vector'))

    def test_only_excluded(self):
        assert not _bag_plus_exclusions(plan("-vector"))

    def test_duplicate_keyword_across_terms(self):
        assert not _bag_plus_exclusions(plan("scan OR scan -vector"))
