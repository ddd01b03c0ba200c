"""Tokenizer parity tests.

Golden expectations ported from the reference's inline tests
(/root/reference/src/search/tokenization.rs:2852-3101) and
FIXTURES.md SS4.
"""

import pytest

from probe_spark import textkit as tk
from probe_spark.stemmer import stem


# --- split_camel_case goldens (tokenization.rs:2852-2895) -----------------

@pytest.mark.parametrize(
    "inp,expected",
    [
        ("camelCase", ["camel", "case"]),
        ("PascalCase", ["pascal", "case"]),
        ("parseJSONToHTML5", ["parse", "json", "to", "html", "5"]),
        ("APIDefinition", ["api", "definition"]),
        ("OAuth2Provider", ["oauth2", "provider"]),
        ("typeIgnore", ["type", "ignore"]),
        (
            "migrateEndpointMetaByType",
            ["migrate", "endpoint", "meta", "by", "type"],
        ),
        ("codeblock", ["code", "block"]),
        ("codeblocks", ["code", "blocks"]),
        ("parsefile", ["parse", "file"]),
        ("filename", ["file", "name"]),
        ("filepath", ["file", "path"]),
    ],
)
def test_split_camel_case(inp, expected):
    assert tk.split_camel_case(inp) == expected


def test_stop_words():
    # tokenization.rs:2897-2903
    assert tk.is_programming_stop_word("func")
    assert tk.is_programming_stop_word("type")
    assert tk.is_programming_stop_word("struct")
    assert not tk.is_programming_stop_word("migrate")
    assert not tk.is_programming_stop_word("endpoint")
    # integers 0..10 are English stop words (tokenization.rs:2084-2092)
    for n in range(11):
        assert tk.is_english_stop_word(str(n))
    assert not tk.is_english_stop_word("11")
    assert tk.is_english_stop_word("ing")


def test_tokenize_goldens():
    # tokenization.rs:2906-2948
    tokens = tk.tokenize("func (a *APIDefinition) MigrateEndpointMeta()")
    assert "api" in tokens
    assert "definit" in tokens  # stemmed "definition"
    assert "migrat" in tokens  # stemmed "migrate"
    assert "endpoint" in tokens or ("end" in tokens and "point" in tokens)
    assert "meta" in tokens
    assert "func" not in tokens  # programming stopword

    tokens = tk.tokenize("func ParseJSONToHTML5()")
    assert "pars" in tokens
    assert "json" in tokens
    assert "html" in tokens
    assert "5" not in tokens  # numbers 0-10 are stop words

    tokens = tk.tokenize("typeIgnore typeWhitelist")
    assert "ignor" in tokens
    assert "whitelist" in tokens

    tokens = tk.tokenize("whitelist blackmail firewall")
    assert "whitelist" in tokens  # special case: never split, never stemmed
    assert "black" in tokens and "mail" in tokens  # decompound fallback
    assert "firewall" in tokens  # exception term kept raw

    tokens = tk.tokenize("enableFirewallWhitelist")
    assert "enabl" in tokens
    assert "firewall" in tokens
    assert "whitelist" in tokens


def test_exception_terms_dual_emit():
    # exception terms are kept raw AND stemmed (tokenization.rs:2828-2844)
    tokens = tk.tokenize("firewall")
    assert tokens == ["firewall", "firewal"]


def test_should_skip_compound_processing():
    # tokenization.rs:2985-3020
    assert tk.should_skip_compound_processing("test")
    assert tk.should_skip_compound_processing("a")
    assert tk.should_skip_compound_processing("hello")
    assert not tk.should_skip_compound_processing("helloworld")
    assert tk.should_skip_compound_processing("test123")
    assert tk.should_skip_compound_processing("v1_api")
    assert not tk.should_skip_compound_processing("http2")
    assert tk.should_skip_compound_processing("hello@world")
    assert tk.should_skip_compound_processing("test.method")
    assert tk.should_skip_compound_processing("config{value}")
    assert not tk.should_skip_compound_processing("hello_world")
    assert not tk.should_skip_compound_processing("hello-world")
    assert tk.should_skip_compound_processing("and")
    assert tk.should_skip_compound_processing("for")
    assert not tk.should_skip_compound_processing("json")
    assert not tk.should_skip_compound_processing("html")
    assert tk.should_skip_compound_processing("the")
    assert tk.should_skip_compound_processing("aaaaaa")
    assert tk.should_skip_compound_processing("xxx")
    assert not tk.should_skip_compound_processing("database")
    assert not tk.should_skip_compound_processing("firewall")
    assert not tk.should_skip_compound_processing("whitelist")
    assert not tk.should_skip_compound_processing("hashmap")


def test_split_compound_word():
    # tokenization.rs:2950-2972 (vocab-backed variant uses the fixed vocab)
    assert tk.split_compound_word("whitelist") == ["whitelist"]
    assert tk.split_compound_word("blackmail") == ["black", "mail"]
    assert tk.split_compound_word("computer") == ["computer"]
    assert tk.split_compound_word("test") == ["test"]
    assert tk.split_compound_word("test123") == ["test123"]
    assert tk.split_compound_word("json") == ["json"]


def test_negation_capture():
    # T2/T5: "-deprecated" is captured as negated and filtered
    tokens = tk.tokenize("process -deprecated retry")
    assert "process" in tokens
    assert "deprec" not in tokens and "deprecated" not in tokens
    assert "retri" in tokens  # stemmed "retry"


def test_snake_case_split():
    tokens = tk.tokenize("snake_case_token")
    assert "snake" in tokens
    # "case" is in the programming stop words? no -- it should survive
    assert "token" in tokens


def test_dedup_order_preserving():
    tokens = tk.tokenize("process process PROCESS processing")
    assert tokens == ["process"]


def test_tokenize_and_stem():
    # query.rs pattern generation helper (tokenization.rs:2682-2713)
    assert tk.tokenize_and_stem("parseJSON") == ["pars", "json"]
    assert tk.tokenize_and_stem("processing") == ["process"]


def test_special_terms_parameter():
    # per-query dynamic special terms keep the word whole and unstemmed
    special = frozenset(["keywordalpha"])
    toks = tk.tokenize("This is keywordAlpha", special)
    assert "keywordalpha" in toks
    toks_plain = tk.tokenize("This is keywordAlpha")
    assert "keywordalpha" not in toks_plain


def test_split_camel_case_returns_a_fresh_list():
    """The memo holds tuples: a caller mutating the returned list leaves
    the next call's answer unchanged."""
    got = tk.split_camel_case("parseJSONToHTML5")
    got.append("mutated")
    got[0] = "x"
    assert tk.split_camel_case("parseJSONToHTML5") == [
        "parse", "json", "to", "html", "5"
    ]


def test_memoized_tokenize_equals_uncached(monkeypatch):
    """tokenize over the fixture corpus's texts and urls (with and without
    special terms) gives the same tokens through the memo as through the
    uncached split, recursion included."""
    from probe_spark.fixtures import make_pages

    pages = make_pages(300)
    special = frozenset(["keywordalpha", "firewall"])
    inputs = [(s, sp) for p in pages for s in (p.text, p.url)
              for sp in (tk._EMPTY, special)]
    cached = [tk.tokenize(s, sp) for s, sp in inputs]
    monkeypatch.setattr(
        tk, "_split_camel_case_cached", tk._split_camel_case_cached.__wrapped__
    )
    assert [tk.tokenize(s, sp) for s, sp in inputs] == cached


# --- stemmer vectors (Snowball English / Porter2) --------------------------

@pytest.mark.parametrize(
    "word,expected",
    [
        ("process", "process"),
        ("processing", "process"),
        ("processed", "process"),
        ("definition", "definit"),
        ("define", "defin"),
        ("migrate", "migrat"),
        ("repository", "repositori"),
        ("handling", "handl"),
        ("handler", "handler"),
        ("errors", "error"),
        ("retry", "retri"),
        ("retried", "retri"),
        ("deadlock", "deadlock"),
        ("timeouts", "timeout"),
        ("ties", "tie"),
        ("cries", "cri"),
        ("running", "run"),
        ("hopping", "hop"),
        ("generously", "generous"),
        ("national", "nation"),
        ("rational", "ration"),
        ("skies", "sky"),
        ("dying", "die"),
        ("news", "news"),
        ("caresses", "caress"),
        ("cats", "cat"),
        ("meeting", "meet"),
        ("agreement", "agreement"),
        ("ignore", "ignor"),
        ("enable", "enabl"),
        ("parse", "pars"),
    ],
)
def test_stemmer(word, expected):
    assert stem(word) == expected


def test_tokenizer_never_crashes_on_unicode():
    # mirrors tests/property_tests.rs:1-30
    import random

    rng = random.Random(42)
    for _ in range(200):
        s = "".join(
            chr(rng.randint(1, 0x2FFF)) for _ in range(rng.randint(0, 64))
        )
        tk.tokenize(s)  # must not raise
    tk.tokenize("")
    tk.tokenize("   \t\n  ")
    tk.tokenize("---")
    tk.tokenize('"""')
