"""Output check: every operation's top-k against ``probe_spark.oracle``.

The oracle corpus is tokenized once per run, in worker processes, before
the Spark session starts; expectations are computed after the session has
stopped, for exactly the operations that ran and over exactly the docs
present when each ran.  Neither phase is inside
``setup_s`` or any timed operation.

A result matches when it has the oracle's length, the oracle's score
sequence, and every returned url has that score in the oracle.  Docs with
equal scores form a set: the engine's doc ids (url rank at build time,
arrival order after ``ingest_batch``) differ from the oracle's, so the
order within a tie and which tied docs fill the last places are free.
"""

from __future__ import annotations

import math
import pickle
import subprocess
import sys
from collections import Counter
from pathlib import Path

from probe_spark.oracle import CorpusIndex, Doc, search

REL_TOL = 1e-9
ABS_TOL = 1e-12


def _same(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)


def tokenize(pages, workers: int) -> list[tuple[Doc, list[str], frozenset[str]]]:
    """Oracle tokens of every page, with doc_id = page position, from
    ``workers`` child processes that this call starts and waits for."""
    docs = [Doc(i, p.url, p.text, p.lang) for i, p in enumerate(pages)]
    step = -(-len(docs) // workers)
    chunks = [docs[i : i + step] for i in range(0, len(docs), step)]
    here = str(Path(__file__).resolve().parent)
    cmd = [
        sys.executable, "-c",
        f"import sys; sys.path[:0] = [{here!r}, {str(Path(here).parent)!r}]; "
        "import check; check._tokenize_stdin()",
    ]
    procs = [subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE) for _ in chunks]
    try:
        for p, chunk in zip(procs, chunks):
            p.stdin.write(pickle.dumps(chunk))
            p.stdin.close()
        raw = [p.stdout.read() for p in procs]
    except BaseException:
        for p in procs:
            p.kill()
        raise
    finally:
        for p in procs:
            p.wait()
            p.stdout.close()
    if any(p.returncode for p in procs):
        raise RuntimeError(f"oracle tokenizer exited with {[p.returncode for p in procs]}")
    parts = [pickle.loads(b) for b in raw]
    out = []
    for chunk, (toks, sets) in zip(chunks, parts):
        out.extend(zip(chunk, toks, sets))
    return out


def _tokenize_stdin() -> None:
    """Worker side of ``tokenize``: docs pickled on stdin, tokens on stdout."""
    ix = CorpusIndex.build(pickle.loads(sys.stdin.buffer.read()))
    sys.stdout.buffer.write(pickle.dumps((ix.tokens, ix.text_token_sets)))


def corpus_index(tokenized, positions) -> CorpusIndex:
    """A CorpusIndex over a subset of the tokenized pages, with the same
    statistics ``CorpusIndex.build`` computes over those docs."""
    rows = [tokenized[i] for i in sorted(positions)]
    tokens = [t for _, t, _ in rows]
    df: Counter = Counter()
    for t in tokens:
        df.update(set(t))
    lens = [len(t) for t in tokens]
    n = len(rows)
    return CorpusIndex(
        [d for d, _, _ in rows], tokens, lens, n, (sum(lens) / n) if n else 0.0,
        dict(df), [s for _, _, s in rows],
    )


def expectations(tokenized, states: dict, tasks: list[tuple[str, str, int]]) -> dict:
    """(state, query, k) -> (number of matches, oracle rows down to the k-th
    score's ties).  ``states`` maps a state name to the page positions
    present in it."""
    indexes: dict[str, CorpusIndex] = {}
    out = {}
    for state, query, k in sorted(set(tasks)):
        idx = indexes.get(state)
        if idx is None:
            idx = indexes[state] = corpus_index(tokenized, states[state])
        ranked = search(idx, query, k=idx.n_docs)
        n_match = len(ranked)
        if n_match > k:
            kth = ranked[k - 1][1]
            ranked = [r for r in ranked if r[1] >= kth or _same(r[1], kth)]
        url = {d.doc_id: d.url for d in idx.docs}  # doc_id is the page position
        out[(state, query, k)] = (n_match, [(url[i], s) for i, s in ranked])
    return out


def mismatch(got: list[tuple[str, float]], want, k: int) -> str | None:
    """None when ``got`` is a valid top-k of the oracle ranking, else why not."""
    n_match, rows = want
    n = min(k, n_match)
    if len(got) != n:
        return f"{len(got)} rows, oracle has {n}"
    by_url = dict(rows)
    if len({u for u, _ in got}) != len(got):
        return "duplicate urls"
    for rank, ((url, score), (_, want_score)) in enumerate(zip(got, rows)):
        if not _same(score, want_score):
            return f"rank {rank}: score {score!r}, oracle {want_score!r}"
        if url not in by_url or not _same(by_url[url], score):
            return f"rank {rank}: {url} at {score!r}, oracle {by_url.get(url)!r}"
    return None
