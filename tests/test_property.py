"""Property-based tests (hypothesis) mirroring the reference's proptest
layer (SURVEY.md SS5.3, tests/property_tests.rs): nothing panics on
arbitrary input, evaluation is consistent."""

from hypothesis import given, settings
from hypothesis import strategies as st

from probe_spark import elastic, textkit
from probe_spark.stemmer import stem


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=200))
def test_tokenize_total(text):
    # never raises; output is a list of non-empty strings; dedup holds
    toks = textkit.tokenize(text)
    assert all(isinstance(t, str) and t for t in toks)
    assert len(toks) == len(set(toks))


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF), max_size=64))
def test_stemmer_total_and_idempotent_on_output_length(word):
    out = stem(word)
    assert isinstance(out, str)
    assert len(out) <= len(word) + 1  # step-1b can append an 'e'


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=100))
def test_parse_query_total(query):
    # parse either succeeds or raises ParseError -- nothing else
    try:
        ast, special = elastic.parse_query(query)
    except elastic.ParseError:
        return
    # every parsed AST can be planned and evaluated
    try:
        plan = elastic.create_query_plan(query)
    except elastic.ParseError:
        return
    if plan.ast is not None:
        for matched in (frozenset(), frozenset(range(len(plan.term_indices)))):
            elastic.evaluate(plan.ast, matched, plan.term_indices)


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet="abcdefgh -+()\"", max_size=40))
def test_evaluate_all_terms_matched_implies_no_excluded_fails(query):
    """If every term is matched, evaluation fails iff the query has an
    excluded term (whose presence then vetoes the doc)."""
    try:
        plan = elastic.create_query_plan(query)
    except elastic.ParseError:
        return
    if plan.ast is None or not plan.term_indices:
        return
    # a Term whose keywords expanded away entirely (stopwords) evaluates to
    # its `excluded` flag regardless of matches (elastic_query.rs:186-189),
    # so an empty non-excluded term legitimately vetoes -- skip those
    if any(
        not t.keywords and not t.excluded for t in elastic.walk_terms(plan.ast)
    ):
        return
    all_matched = frozenset(plan.term_indices.values())
    result = elastic.evaluate(plan.ast, all_matched, plan.term_indices)
    if not plan.excluded_terms:
        assert result, query


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet="abcdefghijklmnop", min_size=2, max_size=24))
def test_decompound_parts_are_vocab_or_empty(word):
    parts = textkit.decompound(word)
    if parts:
        assert len(parts) >= 2
        assert "".join(parts) == word
        assert all(p.lower() in textkit.VOCABULARY for p in parts)


# ---------------------------------------------------------------------------
# Fused-batch gate classifier vs the reference boolean evaluator
# ---------------------------------------------------------------------------

_FUSE_WORDS = st.sampled_from(
    ["spark", "join", "hash", "key", "scan", "sort", "stream", "batch"]
)
_FUSE_FLAG = st.sampled_from(["", "+", "-"])
_FUSE_CONN = st.sampled_from([" ", " AND ", " OR "])


@st.composite
def _fuse_query(draw):
    n = draw(st.integers(min_value=1, max_value=5))
    words = draw(
        st.lists(_FUSE_WORDS, min_size=n, max_size=n, unique=True)
    )
    parts = [draw(_FUSE_FLAG) + w for w in words]
    q = parts[0]
    for p in parts[1:]:
        q += draw(_FUSE_CONN) + p
    return q


@settings(max_examples=300, deadline=None)
@given(_fuse_query())
def test_fused_gates_match_evaluate_exhaustively(query):
    """Whenever _fused_chain_gates classifies a query, its match rule --
    all gates present AND no excluded present AND any positive present --
    must equal elastic.evaluate over EVERY possible matched subset.  This
    is the boolean half of the fused batch plan's correctness, checked
    exhaustively (2^n subsets) per generated query."""
    from itertools import combinations

    from probe_spark.engine import SearchEngine, _fused_chain_gates

    try:
        plan = elastic.create_query_plan(query)
    except elastic.ParseError:
        return
    if plan.ast is None or not plan.term_indices:
        return
    gates = _fused_chain_gates(
        plan, SearchEngine._excl_only_rescues(plan)
    )
    if gates is None:
        return
    excl = set(plan.excluded_terms)
    pos = [t for t in plan.term_indices if t not in excl]
    gate_idx = {plan.term_indices[t] for t in gates}
    excl_idx = {plan.term_indices[t] for t in plan.term_indices if t in excl}
    pos_idx = [plan.term_indices[t] for t in pos]
    all_idx = sorted(set(plan.term_indices.values()))
    for r in range(len(all_idx) + 1):
        for subset in combinations(all_idx, r):
            matched = frozenset(subset)
            fused_match = (
                gate_idx <= matched
                and not (excl_idx & matched)
                and any(i in matched for i in pos_idx)
            )
            ref = elastic.evaluate(plan.ast, matched, plan.term_indices)
            assert fused_match == ref, (
                f"{query!r} matched={sorted(matched)}: "
                f"fused={fused_match} evaluate={ref}"
            )
