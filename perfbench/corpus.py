"""Inputs and expected answers, all derived from the workload seed.

Corpora come from ``lucene_spark.fixtures.generate_webtext``; the query set
is the 24 ``reference_queries()`` shapes with each term moved to another
term of the same hot/mid/rare df band. Expected answers come from the
brute-force ``PyIndex`` oracle and are cached on disk, keyed by the seed,
the sizes, the documents, the queries and the oracle's own sources.
Everything here runs in worker processes, before or while the Spark session
starts, never beside a measured phase.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
from concurrent.futures import ProcessPoolExecutor

import numpy as np

from lucene_spark.constants import ENGLISH_STOP_WORDS as STOP

SHAPE_CLASSES = ("single", "and", "or", "mixed", "phrase")
_ORACLE_SOURCES = (
    "oracle/pyindex.py",
    "analysis/tokenizer.py",
    "functions/bm25.py",
    "functions/smallfloat.py",
    "search/query.py",
)


def chunk_seed(seed: int, chunk: int) -> int:
    return (abs(seed) * 1_000_003 + chunk) % (2**31)


def _gen(args: tuple[int, int, int]) -> list[tuple[str, str]]:
    from lucene_spark.fixtures import generate_webtext

    n, seed, start_id = args
    return [(r["url"], r["text"]) for r in generate_webtext(n, seed=seed, start_id=start_id)]


def generate(pool: ProcessPoolExecutor, seed: int, sizes: list[int]) -> list[list[tuple[str, str]]]:
    """One batch per entry of ``sizes``; urls are unique across batches."""
    starts = np.cumsum([0] + sizes[:-1]).tolist()
    jobs = [(n, chunk_seed(seed, i), int(s)) for i, (n, s) in enumerate(zip(sizes, starts))]
    return list(pool.map(_gen, jobs))


def rare_terms_in(docs: list[tuple[str, str]]) -> list[int]:
    """The rare-band term numbers (8000..9999) that occur in ``docs``."""
    present = set()
    for _, text in docs:
        present.update(int(n) for n in re.findall(r"\bw(\d{4})\b", text) if int(n) >= 8000)
    return sorted(present)


def query_set(seed: int, variants: int, rare: list[int] | None = None) -> list[tuple[str, str, str]]:
    """(query_id, shape class, query string): every reference shape times
    ``variants`` term variants. The seed picks each variant's band offsets.
    ``rare`` limits the rare band to those term numbers, so that a variant
    never moves a rare term to one the corpus lacks."""
    from lucene_spark.fixtures import reference_queries

    offsets = np.random.default_rng(chunk_seed(seed, 999_983)).integers(0, 10**6, size=variants)
    rare = rare or list(range(8000, 10000))

    def remap(m: "re.Match[str]", r: int) -> str:
        n = int(m.group(1))
        if n < 100:  # hot band w0000..w0009
            return f"w{(n + r) % 10:04d}"
        if n < 8000:  # mid band w0100..w0999
            return f"w{100 + (n - 100 + 37 * r) % 900:04d}"
        # rare band: the term's place in the band, scaled onto ``rare``
        return f"w{rare[((n - 8000) * len(rare) // 2000 + 211 * r) % len(rare)]:04d}"

    out = []
    for v, r in enumerate(offsets.tolist()):
        for qid, qs in reference_queries():
            out.append(
                (f"{qid}_v{v}", qid.rsplit("_", 1)[0], re.sub(r"w(\d{4})", lambda m: remap(m, r), qs))
            )
    return out


def _analyzer(text):
    from lucene_spark.analysis.tokenizer import analyze

    return analyze(text, stopwords=STOP)


def _pyindex(docs: list[tuple[int, str]]):
    from lucene_spark.oracle.pyindex import PyIndex

    idx = PyIndex(stopwords=STOP)
    for docid, text in docs:
        idx.add(docid, text)
    return idx


def _term_stats(docs: list[tuple[int, str]]) -> dict[str, list[int]]:
    idx = _pyindex(docs)
    return {
        t: [len(p), sum(f for _, f, _ in p)] for t, p in idx.postings.items() if p
    }


def _answers(args) -> dict[str, list[list[float]]]:
    """Per query, the top ``k`` hits and every hit tied with the k-th one,
    so the top k can be re-ranked on other docids."""
    from lucene_spark.search.query import parse_query

    docs, queries, k = args
    idx = _pyindex(docs)
    out = {}
    for qid, qs in queries:
        hits = idx.search_query(parse_query(qs, _analyzer), k=len(docs))
        if len(hits) > k:
            hits = [h for h in hits if h[1] >= hits[k - 1][1]]
        out[qid] = [[int(d), float(s)] for d, s in hits]
    return out


def _sources_digest() -> str:
    import lucene_spark

    root = os.path.dirname(lucene_spark.__file__)
    h = hashlib.sha256()
    for rel in _ORACLE_SOURCES:
        with open(os.path.join(root, rel), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


class Oracle:
    """PyIndex answers, computed in a process pool and cached on disk."""

    def __init__(self, cache_dir: str, pool: ProcessPoolExecutor, nproc: int):
        self.cache_dir = cache_dir
        self.pool = pool
        self.nproc = nproc
        os.makedirs(cache_dir, exist_ok=True)
        self._digest = _sources_digest()

    def _cached(self, key: dict, compute):
        blob = json.dumps({**key, "oracle": self._digest}, sort_keys=True).encode()
        path = os.path.join(self.cache_dir, hashlib.sha256(blob).hexdigest()[:32] + ".json")
        if os.path.exists(path):
            with open(path) as fh:
                return json.load(fh)
        value = compute()
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as fh:
            json.dump(value, fh)
        os.replace(tmp, path)
        return value

    def term_stats(self, key: dict, batches: list[list[tuple[str, str]]]) -> list[dict]:
        """Per batch: analyzed term -> [df, ttf]."""
        docs = [list(enumerate(text for _, text in b)) for b in batches]
        return self._cached(
            {"kind": "term_stats", **key},
            lambda: list(self.pool.map(_term_stats, docs)),
        )

    def answers(self, key: dict, docs: list[tuple[str, str]], queries: list[tuple[str, str]], k: int):
        """query_id -> [[url, score], ...]: the top ``k`` by score and every
        hit tied with the k-th, whatever docids the engine gives the docs."""
        digest = hashlib.sha256(json.dumps([docs, queries]).encode()).hexdigest()

        def compute():
            # each distinct query string is evaluated once
            distinct = sorted({qs for _, qs in queries})
            shares = [[(q, q) for q in distinct[i :: self.nproc]] for i in range(self.nproc)]
            texts = [(i, text) for i, (_, text) in enumerate(docs)]
            by_string: dict = {}
            for part in self.pool.map(_answers, [(texts, s, k) for s in shares if s]):
                by_string.update(part)
            return {
                qid: [[docs[d][0], score] for d, score in by_string[qs]] for qid, qs in queries
            }

        return self._cached({"kind": "answers", "docs": digest, "k": k, **key}, compute)
