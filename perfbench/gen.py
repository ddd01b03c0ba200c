"""Seeded input generator for the benchmark workloads.

Everything here is a pure function of (corpus parquet, seed): the same seed
gives byte-identical inputs.  The generator reads the corpus parquet and
nothing else, and imports nothing from the program under test, so a change
to the program never changes what it is fed.

The corpus is the sf0.1 ``documents`` table (5000 docs).  It has no url
column, so each doc gets a stable url from its ``source`` and ``doc_id``.
The query vocabulary is the corpus's own word list, ranked by corpus
frequency; Zipf draws over that ranking make head terms hot.
"""

from __future__ import annotations

import itertools
import json
import random
from collections import Counter
from dataclasses import asdict, dataclass
from pathlib import Path
from typing import Iterator

import pyarrow.parquet as pq

CORPUS = Path(__file__).resolve().parent / "data" / "documents.parquet"
SF = "0.1"

# Query words skip English function words: a query made only of them takes
# the stopword-only path, which no workload is meant to measure.  A fixed
# list (not the program's tokenizer tables) keeps the inputs independent of
# the program.
_FUNCTION_WORDS = frozenset("a an and are as at be by for in is it of on or the to".split())

# Query shapes follow a fixed pattern by position in the stream and the seed
# picks only the words, so runs of any seed that answer the same number of
# queries answer the same mix of shapes.
# Terms of the i-th bag, cycling.  Half the bags have two terms, so the
# median of whole cycles falls inside one cost cluster rather than on the
# edge between two (latency grows with the term count).
BAG_TERMS = (2, 1, 2, 3, 2, 4)
LANG_FILTER_EVERY = 10  # every 10th bag carries a lang: filter
# the single-term bag of every second cycle is a word the corpus never
# contains, so even a two-cycle run takes the empty-result path once
ZERO_HIT_SLOT = 1
# serve_boolean cycles through these; ingest_serve's first cycle takes the
# first two.
BOOLEAN_SHAPES = (
    "quoted", "nested", "excluded_phrase", "required", "and_chain", "excluded",
)
SHAPE_CYCLE = len(BAG_TERMS)  # serve loops stop only after whole cycles
MIN_CYCLES = 2  # and not before the second, which repeats needles of the first
INGEST_BASE_FRAC = 0.8
INGEST_SLICE_DOCS = 100
BATCH_LOG_QUERIES = 32


@dataclass(frozen=True)
class Page:
    url: str
    text: str
    lang: str


def load_pages(path: Path = CORPUS) -> list[Page]:
    """The corpus as pages, in doc_id order.  The file is opened here, in
    Python, so every byte the generator reads passes through this call."""
    with open(path, "rb") as f:
        t = pq.read_table(f, columns=["doc_id", "text", "lang", "source"])
    d = t.to_pydict()
    rows = sorted(zip(d["doc_id"], d["source"], d["text"], d["lang"]))
    return [
        Page(f"https://{src}.example.org/doc/{doc_id:05d}", text or "", lang or "")
        for doc_id, src, text, lang in rows
    ]


def vocabulary(pages: list[Page]) -> list[str]:
    """Corpus words by descending frequency (ties by word), function words
    dropped."""
    c = Counter(w for p in pages for w in p.text.split())
    words = [w for w in c if w.isalpha() and w not in _FUNCTION_WORDS]
    return sorted(words, key=lambda w: (-c[w], w))


def languages(pages: list[Page]) -> list[str]:
    return sorted({p.lang for p in pages if p.lang})


class Zipf:
    """Zipf(s) draws over a ranked population: rank r has weight 1/(r+1)^s."""

    def __init__(self, population: list, s: float = 1.0):
        self.population = list(population)
        self.cum = list(
            itertools.accumulate(1.0 / (r + 1) ** s for r in range(len(population)))
        )

    def draw(self, rng: random.Random):
        return rng.choices(self.population, cum_weights=self.cum)[0]

    def distinct(self, rng: random.Random, n: int) -> list:
        out: list = []
        while len(out) < n:
            x = self.draw(rng)
            if x not in out:
                out.append(x)
        return out


def needle_pool(vocab: list[str], seed: int) -> list[str]:
    """Phrase needles: every ordered pair of distinct vocabulary words
    (hundreds, well over the engine's 128-needle verified-set memo), in a
    seed-shuffled order."""
    pool = [f"{a} {b}" for a in vocab for b in vocab if a != b]
    random.Random(f"needles/{seed}").shuffle(pool)
    return pool


class Needles:
    """The phrase needles of one query stream.  Which draws are first
    sightings and which are repeats follows a fixed pattern, so every run
    pays for the same number of first-sight rescues: quoted needles are new
    on their even draws, excluded needles on their odd draws (and whenever
    none has been seen yet), so each shape cycle has one new needle from
    the second on.  A new needle is the next unused one of the pool; a
    repeat is a Zipf(1.5) draw over the needles of the same polarity seen
    so far, earliest first."""

    def __init__(self, pool: list[str], rng: random.Random):
        self.pool, self.rng = pool, rng
        self.used = 0
        self.seen: dict[bool, list[str]] = {False: [], True: []}
        self.drawn = {False: 0, True: 0}

    def draw(self, excluded: bool) -> str:
        k = self.drawn[excluded]
        self.drawn[excluded] += 1
        seen = self.seen[excluded]
        if seen and k % 2 != excluded:
            return Zipf(seen, s=1.5).draw(self.rng)
        needle = self.pool[self.used]
        self.used += 1
        seen.append(needle)
        return needle


class Queries:
    """Query streams for one seed.  Each stream has its own rng, so adding
    draws to one workload never shifts another's inputs."""

    def __init__(self, pages: list[Page], seed: int):
        self.seed = seed
        self.vocab = vocabulary(pages)
        self.langs = languages(pages)
        self.words = Zipf(self.vocab, s=1.0)
        self.pool = needle_pool(self.vocab, seed)

    def rng(self, stream: str) -> random.Random:
        return random.Random(f"{stream}/{self.seed}")

    def bag(self, rng: random.Random, i: int) -> str:
        """The i-th bag of a stream."""
        if i % (2 * SHAPE_CYCLE) == SHAPE_CYCLE + ZERO_HIT_SLOT:
            return self.words.draw(rng) + "zq"
        q = " ".join(self.words.distinct(rng, BAG_TERMS[i % len(BAG_TERMS)]))
        if i % LANG_FILTER_EVERY == LANG_FILTER_EVERY // 2:
            q = f"lang:{rng.choice(self.langs)} {q}"
        return q

    def boolean(self, rng: random.Random, i: int, needles: Needles) -> str:
        """The i-th boolean query of a stream: shape and variant by position,
        words by the seed."""
        shape = BOOLEAN_SHAPES[i % len(BOOLEAN_SHAPES)]
        variant = i // len(BOOLEAN_SHAPES) % 2
        a, b, c = self.words.distinct(rng, 3)
        if shape == "required":
            return f"+{a} {b}"
        if shape == "excluded":
            return f"{a} {b} -{c}"
        if shape == "quoted":
            needle = needles.draw(excluded=False)
            return f'"{needle}" {a}' if variant else f'"{needle}"'
        if shape == "excluded_phrase":
            return f'{a} -"{needles.draw(excluded=True)}"'
        if shape == "and_chain":
            return f"{a} AND {b} AND {c}" if variant else f"{a} AND {b}"
        if shape == "nested":
            return f"({a} OR {b}) AND {c}"
        raise ValueError(f"unknown boolean shape {shape!r}")

    def fused_log_query(self, rng: random.Random) -> str:
        """Fused-eligible shapes only (left-deep single-keyword chains, no
        field filters), as in ``fixtures.query_log``."""
        terms = self.words.distinct(rng, rng.choice((1, 2, 2, 3)))
        shape = rng.random()
        if shape < 0.70 or len(terms) == 1:
            return " ".join(terms)
        if shape < 0.82:
            return "+" + " ".join(terms)
        if shape < 0.92:
            return " ".join(terms[:-1]) + " -" + terms[-1]
        return " AND ".join(terms)

    # -- per-workload streams ---------------------------------------------

    def serve_bag(self) -> Iterator[str]:
        rng = self.rng("serve_bag")
        for i in itertools.count():
            yield self.bag(rng, i)

    def serve_boolean(self) -> Iterator[str]:
        rng = self.rng("serve_boolean")
        needles = Needles(self.pool, rng)
        for i in itertools.count():
            yield self.boolean(rng, i, needles)

    def ingest_queries(self) -> Iterator[list[str]]:
        """Per ingest cycle: bag, boolean, bag, boolean, by the same fixed
        shape patterns."""
        rng = self.rng("ingest_serve")
        needles = Needles(self.pool, rng)
        for c in itertools.count():
            yield [
                self.bag(rng, 2 * c), self.boolean(rng, 2 * c, needles),
                self.bag(rng, 2 * c + 1), self.boolean(rng, 2 * c + 1, needles),
            ]

    def batch_logs(self, stream: str = "batch_log") -> Iterator[dict[str, str]]:
        rng = self.rng(stream)
        for i in itertools.count():
            yield {
                f"b{i:03d}q{j:02d}": self.fused_log_query(rng)
                for j in range(BATCH_LOG_QUERIES)
            }

    def warmup(self, workload: str) -> list:
        """Inputs run once after the build, before timing, to compile the
        plans of the lanes the workload's loop uses: a two-term bag and a
        four-term bag with a lang: filter; for boolean shapes a quoted phrase
        (the Python-worker scorer and the rescue) and an excluded phrase (the
        codegen scorer and the rescue).  They come from a stream of their
        own; their phrase needles are three words long, so they never collide
        with the measured two-word needle pool."""
        rng = self.rng("warmup")
        phrases = [" ".join(self.words.distinct(rng, 3)) for _ in range(2)]
        needles = Needles(phrases, rng)
        if workload == "serve_bag":
            return [self.bag(rng, 0), self.bag(rng, SHAPE_CYCLE - 1)]
        if workload == "serve_boolean":
            return [self.boolean(rng, 0, needles), self.boolean(rng, 2, needles)]
        if workload == "ingest_serve":
            return [
                self.bag(rng, 0), self.boolean(rng, 0, needles),
                self.bag(rng, 1), self.boolean(rng, 1, needles),
            ]
        if workload == "batch_log":
            return [next(self.batch_logs("batch_log_warmup"))]
        raise ValueError(f"unknown workload {workload!r}")


def ingest_split(n_docs: int, seed: int) -> tuple[list[int], list[list[int]]]:
    """Seeded ~80% of doc positions for the initial build, and the held-out
    rest cut into fixed-size slices in arrival order.  Base and slices
    partition range(n_docs) exactly."""
    order = list(range(n_docs))
    random.Random(f"ingest_split/{seed}").shuffle(order)
    n_base = int(n_docs * INGEST_BASE_FRAC)
    base, held = sorted(order[:n_base]), order[n_base:]
    slices = [held[i : i + INGEST_SLICE_DOCS] for i in range(0, len(held), INGEST_SLICE_DOCS)]
    return base, slices


def probe_pages(pages: list[Page], seed: int) -> list[Page]:
    """New pages for the ingest-layer probe of workloads whose loop does not
    ingest: a seeded slice of corpus texts under urls the index has not
    seen."""
    picks = random.Random(f"probe/{seed}").sample(range(len(pages)), INGEST_SLICE_DOCS)
    return [Page(pages[i].url + "/r", pages[i].text, pages[i].lang) for i in picks]


WORKLOADS = ("serve_bag", "serve_boolean", "ingest_serve", "batch_log")


def sample(workload: str, seed: int, n_ops: int, path: Path = CORPUS) -> bytes:
    """The first ``n_ops`` operations' inputs of a workload as canonical
    JSON bytes (for the determinism tests and for inspection)."""
    pages = load_pages(path)
    q = Queries(pages, seed)
    out: dict = {"workload": workload, "seed": seed, "warmup": q.warmup(workload)}
    if workload in ("serve_bag", "serve_boolean"):
        out["ops"] = list(itertools.islice(getattr(q, workload)(), n_ops))
        out["pages"] = [asdict(p) for p in pages]
    elif workload == "ingest_serve":
        base, slices = ingest_split(len(pages), seed)
        out["base"] = [asdict(pages[i]) for i in base]
        out["slices"] = [[asdict(pages[i]) for i in s] for s in slices]
        out["ops"] = list(itertools.islice(q.ingest_queries(), n_ops))
    elif workload == "batch_log":
        out["ops"] = list(itertools.islice(q.batch_logs(), n_ops))
        out["pages"] = [asdict(p) for p in pages]
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return json.dumps(out, sort_keys=True, separators=(",", ":")).encode()
