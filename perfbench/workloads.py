"""The two workloads. Each runs as a closed loop with one caller and a fixed
number of ops, so every run does the same work whatever the program's speed.

``ingest``: each op builds a fresh batch into 2*nproc segments with
positions, then merges it to a 2-segment tier. Each op's tier is checked
against the oracle before the next op starts. The first op is the cold one
and is not timed; ``setup_s`` is the median of it and the first timed op.

``search``: one tier built and merged the same way. The loop alternates 2
single ``Searcher.search(q, k=10).collect()`` calls, which walk every third
one of the 24 shapes, with one batched ``Searcher.search_many`` call over
every shape and variant. Its answers are checked against the oracle after the loop has
ended.
"""

from __future__ import annotations

import shutil
import time
from concurrent.futures import ThreadPoolExecutor

from lucene_spark.constants import ENGLISH_STOP_WORDS as STOP

from corpus import SHAPE_CLASSES, Oracle, generate, query_set, rare_terms_in
from measure import RssSampler, Tracer, dir_bytes, median

K = 10
SETUP_REPS = 2  # search: the first one is the cold one


class Result:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.metrics: dict[str, tuple[float, str]] = {}
        self.summary: dict = {}
        self._t0 = time.perf_counter()

    def mark(self, name: str) -> None:
        """Phase end times, in seconds since the workload started."""
        self.summary.setdefault("phase_ends_s", {})[name] = round(time.perf_counter() - self._t0, 2)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 5:
                self.errors.append(what)


def in_background(fn, *args):
    """Future of ``(fn(*args), seconds it took)``, computed in a thread."""
    def timed():
        t = time.perf_counter()
        value = fn(*args)
        return value, time.perf_counter() - t

    ex = ThreadPoolExecutor(max_workers=1)
    fut = ex.submit(timed)
    ex.shutdown(wait=False)
    return fut


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "url string, text string")


# --- ingest -------------------------------------------------------------

class Ingest:
    def __init__(self, cfg, spark, tracer: Tracer, oracle: Oracle, pool):
        self.cfg, self.spark, self.tracer, self.oracle, self.pool = cfg, spark, tracer, oracle, pool

    def prepare(self, seed: int) -> None:
        """Corpus before the session; the oracle runs while the session
        starts, outside every timed phase."""
        c = self.cfg
        t = time.perf_counter()
        sizes = [c.ingest_docs] * (1 + c.ingest_ops)
        self.batches = generate(self.pool, seed, sizes)
        self.gen_s = time.perf_counter() - t
        self._expected = in_background(
            self.oracle.term_stats, {"seed": seed, "sizes": sizes}, self.batches
        )

    def _op(self, i: int, out: str) -> float:
        from lucene_spark.index import build_index
        from lucene_spark.index.merge import merge_segments

        if i not in self.dfs:
            self.dfs[i] = _docs_df(self.spark, self.batches[i])
        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("ingest.op", jobs=False, batch=i):
            with tr.span("index.builder", batch=i) as s:
                build_index(
                    self.spark, self.dfs[i], f"{out}/segments",
                    num_segments=2 * self.cfg.nproc, stopwords=STOP,
                )
            s["bytes_written"] = dir_bytes(f"{out}/segments") if tr.enabled else 0
            with tr.span("index.merge", batch=i) as s:
                merge_segments(self.spark, f"{out}/segments", f"{out}/tier", target_segments=2)
            s["bytes_written"] = dir_bytes(f"{out}/tier") if tr.enabled else 0
        return time.perf_counter() - t0

    def _verify(self, i: int, out: str, res: Result) -> tuple[int, int]:
        """Doc count and every term's (df, ttf), summed over the merged tier's
        segments, against the oracle. Returns (on-disk bytes, term rows)."""
        from lucene_spark.index import IndexReader

        with self.tracer.span("index.reader.open"):
            reader = IndexReader(self.spark, f"{out}/tier")
            n_docs = reader.global_stats[0]
        rows = reader.term_dict.select("term", "df", "ttf").collect()
        got: dict[str, list[int]] = {}
        for r in rows:
            df_ttf = got.setdefault(r["term"], [0, 0])
            df_ttf[0] += int(r["df"])
            df_ttf[1] += int(r["ttf"])
        want = self.expected[i]
        ok = n_docs == len(self.batches[i]) and got == want
        res.check(ok, f"ingest batch {i}: docs {n_docs}/{len(self.batches[i])}, "
                      f"terms {len(got)}/{len(want)}, equal={got == want}")
        term_rows = len(rows)
        size = dir_bytes(f"{out}/tier")
        shutil.rmtree(out, ignore_errors=True)
        return size, term_rows

    def run(self, work: str, cap_s: float, res: Result) -> None:
        c = self.cfg
        self.dfs = {}
        self.expected, self.oracle_s = self._expected.result()
        # the cold op: set-up, not timed
        cold = self._op(0, f"{work}/setup-0")
        self._verify(0, f"{work}/setup-0", res)
        res.summary["oracle_s"] = round(self.oracle_s, 3)
        res.mark("setup")

        traced = self.tracer.enabled
        self.tracer.phase = "loop"
        # a fixed number of ops, whatever their speed; the caller checks each
        # op's tier before it starts the next op. A failed op counts as one of
        # them. ``cap_s`` only stops a run that would otherwise overrun its
        # time limit. A traced run traces every other op, the first one
        # untraced; the ops between are its untraced baseline.
        ops, traced_ops, sizes, term_rows = [], [], [], []
        t_start = time.perf_counter()
        with RssSampler(exclude=self.pool._processes) as rss:
            for n in range(c.ingest_ops):
                if n and time.perf_counter() - t_start > cap_s:
                    res.check(False, f"ingest: safety stop after {n} ops")
                    break
                i = 1 + n
                out = f"{work}/op-{n}"
                self.tracer.enabled = traced and n % 2 == 1
                try:
                    dt = self._op(i, out)
                except Exception as e:  # counted, the loop goes on
                    res.check(False, f"ingest op raised {e!r}"[:300])
                    shutil.rmtree(out, ignore_errors=True)
                    continue
                (traced_ops if self.tracer.enabled else ops).append(dt)
                size, rows = self._verify(i, out, res)
                sizes.append(size / len(self.batches[i]))
                term_rows.append(rows)
        self.tracer.enabled = traced
        res.summary["loop_s"] = round(time.perf_counter() - t_start, 3)
        res.mark("loop")
        if not ops:
            return  # every op failed; counted, no figures
        # an ingest op is its own set-up: the set-up figure is the median of
        # the cold op and the first warm one
        setup = [cold, ops[0]]
        res.summary["peak_rss_mb"] = round(rss.peak / 2**20, 1)
        res.metrics.update(
            setup_s=(median(setup), "s"),
            index_bytes_per_doc=(median(sizes), "B/doc"),
            ops_per_s=(c.ingest_docs * len(ops) / sum(ops), "1/s"),
            op_p50_ms=(1000 * median(ops), "ms"),
        )
        res.summary.update(
            ops=len(ops) + len(traced_ops), docs_per_op=c.ingest_docs,
            term_rows_per_op=int(median(term_rows)),
            tier_bytes_per_op=int(median(s * c.ingest_docs for s in sizes)),
            setup_reps_s=[round(x, 3) for x in setup],
            op_s=[round(x, 3) for x in ops],
            traced_op_s=[round(x, 3) for x in traced_ops],
        )


# --- search -------------------------------------------------------------

class Search:
    SINGLES_PER_CYCLE = 2
    CYCLES = 4  # 8 singles and 4 batch calls
    # the singles walk every third shape, 2, 5, ..., 23, which hold every class
    FIRST_SHAPE, SHAPE_STRIDE = 2, 3

    def __init__(self, cfg, spark, tracer: Tracer, oracle: Oracle, pool):
        self.cfg, self.spark, self.tracer, self.oracle, self.pool = cfg, spark, tracer, oracle, pool

    def prepare(self, seed: int) -> None:
        c = self.cfg
        self.seed = seed
        t = time.perf_counter()
        (self.docs,) = generate(self.pool, seed, [c.search_docs])
        self.queries = query_set(seed, c.variants, rare_terms_in(self.docs))
        self.gen_s = time.perf_counter() - t
        n_shapes = len(self.queries) // c.variants
        # round j walks every shape once, on variant j mod variants
        self.rounds = [
            self.queries[v * n_shapes : (v + 1) * n_shapes] for v in range(c.variants)
        ]
        # the oracle runs while the session starts, on its own docids; its
        # hits are ranked on the engine's docids once the loop has ended
        self._expected = in_background(
            self.oracle.answers,
            {"seed": seed, "docs_n": len(self.docs), "variants": c.variants},
            self.docs, [(qid, qs) for qid, _, qs in self.queries], K,
        )

    def _build(self, path: str):
        from lucene_spark.index import build_index
        from lucene_spark.index.merge import merge_segments
        from lucene_spark.search import Searcher

        tr = self.tracer
        with tr.span("search.setup", jobs=False):
            # the way an ingest op writes a tier: 2*nproc segments, merged to 2
            with tr.span("index.builder") as s:
                build_index(
                    self.spark, self.df, f"{path}-segments",
                    num_segments=2 * self.cfg.nproc, stopwords=STOP,
                )
            s["bytes_written"] = dir_bytes(f"{path}-segments") if tr.enabled else 0
            with tr.span("index.merge") as s:
                merge_segments(self.spark, f"{path}-segments", path, target_segments=2)
            s["bytes_written"] = dir_bytes(path) if tr.enabled else 0
            shutil.rmtree(f"{path}-segments", ignore_errors=True)
            # one searcher per call kind: a batch call must not fill the
            # term-statistics cache the single searches would otherwise miss
            with tr.span("index.reader.open"):
                self.batch_searcher = Searcher(self.spark, path, stopwords=STOP)
            with tr.span("index.reader.open"):
                self.single_searcher = Searcher(self.spark, path, stopwords=STOP)

    def _rank_expected(self, path: str, by_url: dict) -> None:
        """The oracle's hits on the engine's global docids, top ``K`` by
        (score desc, docid asc), the order the engine breaks ties in; also
        the tier's work counts. Runs after the loop."""
        from pyspark.sql import functions as F

        from lucene_spark.index import IndexReader

        reader = IndexReader(self.spark, path)
        bases = reader.doc_bases
        url_docid = {
            r["url"]: int(r["docid"]) + int(bases[int(r["segment_id"])])
            for r in reader.docmap.select("segment_id", "docid", "url").collect()
        }
        self.expected = {
            qid: sorted(([url_docid[u], s] for u, s in hits), key=lambda h: (-h[1], h[0]))[:K]
            for qid, hits in by_url.items()
        }
        self.term_rows = reader.term_dict.count()
        self.postings_bytes = int(
            reader.postings.select(
                F.sum(F.length("docids_enc") + F.length("freqs_enc")
                      + F.coalesce(F.length("positions_enc"), F.lit(0)))
            ).collect()[0][0]
        )

    def _single(self, qid: str, qs: str, cls: str):
        tr = self.tracer
        # every single pays its term-statistics job: which terms an earlier
        # call has already looked up depends on the seed
        stats = getattr(self.single_searcher, "_term_stats_cache", None)
        if isinstance(stats, dict):
            stats.clear()
        t0 = time.perf_counter()
        with tr.span("search.single", jobs=False, cls=cls):
            with tr.span("search.searcher.plan", kind="single", cls=cls):
                df = self.single_searcher.search(qs, k=K)
            with tr.span("search.searcher.exec", kind="single", cls=cls):
                rows = df.collect()
        dt = time.perf_counter() - t0
        return dt, [(int(r["docid"]), float(r["score"])) for r in rows]

    def _batch(self, queries=None):
        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("search.batch", jobs=False):
            with tr.span("search.searcher.plan", kind="batch"):
                df = self.batch_searcher.search_many(
                    {q: s for q, _, s in queries or self.queries}, k=K
                )
            with tr.span("search.searcher.exec", kind="batch"):
                rows = df.collect()
        dt = time.perf_counter() - t0
        by_q: dict[str, list] = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append((int(r["docid"]), float(r["score"])))
        return dt, {q: sorted(h, key=lambda x: (-x[1], x[0])) for q, h in by_q.items()}

    def _same(self, qid: str, got) -> bool:
        import numpy as np

        want = self.expected[qid]
        return [d for d, _ in got] == [d for d, _ in want] and all(
            np.float32(g) == np.float32(w) for (_, g), (_, w) in zip(got, want)
        )

    def _loop(self, cap_s: float, res: Result):
        """Timed closed loop of a fixed number of cycles, each 2 singles
        walking round 1's shapes from ``FIRST_SHAPE`` by ``SHAPE_STRIDE``
        and then one batch call. A failed call counts as one of them; ``cap_s`` only stops
        a run that would otherwise overrun its time limit. A traced run
        traces every single and every other batch call; the batch calls
        between are its untraced baseline. Returns (singles, batches,
        outcomes), the first two as (seconds, traced) pairs."""
        singles, batches, outcomes = [], [], []
        n_shapes = len(self.rounds[0])
        traced = self.tracer.enabled
        t_start = time.perf_counter()
        for n in range(self.CYCLES):
            if n and time.perf_counter() - t_start > cap_s:
                res.check(False, f"search: safety stop after {n} cycles")
                break
            for j in range(n * self.SINGLES_PER_CYCLE, (n + 1) * self.SINGLES_PER_CYCLE):
                k = self.FIRST_SHAPE + self.SHAPE_STRIDE * j
                qid, cls, qs = self.rounds[(1 + k // n_shapes) % len(self.rounds)][k % n_shapes]
                try:
                    dt, got = self._single(qid, qs, cls)
                    singles.append((dt, self.tracer.enabled))
                    outcomes.append((qid, got))
                except Exception as e:
                    outcomes.append(("error", repr(e)))
            self.tracer.enabled = traced and n % 2 == 1
            try:
                dt, got = self._batch()
                batches.append((dt, self.tracer.enabled))
                outcomes.append(("batch", got))
            except Exception as e:
                outcomes.append(("error", repr(e)))
            self.tracer.enabled = traced
        res.summary["loop_s"] = round(time.perf_counter() - t_start, 3)
        return singles, batches, outcomes

    def _score(self, outcomes, res: Result) -> None:
        for what, got in outcomes:
            if what == "error":
                res.check(False, f"search raised {got}"[:300])
            elif what == "batch":
                bad = [q for q, _, _ in self.queries if not self._same(q, got.get(q, []))]
                res.check(not bad, f"batch: {len(bad)} queries differ, e.g. {bad[:3]}")
            else:
                res.check(self._same(what, got), f"single {what}: {got[:3]} vs {self.expected[what][:3]}")

    def run(self, work: str, cap_s: float, res: Result) -> None:
        by_url, oracle_s = self._expected.result()
        res.summary["oracle_s"] = round(oracle_s, 3)
        self.df = _docs_df(self.spark, self.docs)
        setup = []
        for i in range(SETUP_REPS):
            path = f"{work}/index-{i}"
            t = time.perf_counter()
            self._build(path)
            setup.append(time.perf_counter() - t)
            if i:
                shutil.rmtree(f"{work}/index-{i - 1}", ignore_errors=True)
        res.metrics["setup_s"] = (median(setup), "s")
        res.summary["setup_reps_s"] = [round(x, 3) for x in setup]

        res.mark("setup")
        # warm-up: one batch call, then the first shape of each shape class
        # in round 0
        res.summary["warmup_batch_s"] = round(self._batch()[0], 3)
        firsts = {cls: (qid, qs) for qid, cls, qs in reversed(self.rounds[0])}
        res.summary["warmup_singles_s"] = [
            round(self._single(qid, qs, cls)[0], 3) for cls, (qid, qs) in firsts.items()
        ]
        res.mark("warmup")

        self.tracer.phase = "loop"
        with RssSampler(exclude=self.pool._processes) as rss:
            singles, batches, outcomes = self._loop(cap_s, res)
        res.mark("loop")
        self._rank_expected(path, by_url)
        self._score(outcomes, res)
        res.mark("checked")
        lat = [dt for dt, traced in singles if not traced]
        batch_s = [dt for dt, traced in batches if not traced]
        if self.tracer.enabled:
            # the per-call constant of a batch call: one round of shapes
            # (24 queries) against the full set's queries
            self.tracer.enabled = False
            res.summary["batch_one_round_s"] = [
                round(self._batch(self.rounds[0])[0], 3) for _ in range(3)
            ]
            self.tracer.enabled = True
        if not batch_s or not (lat or self.tracer.enabled):
            return  # every call of a kind failed; counted, no figures
        res.summary["peak_rss_mb"] = round(rss.peak / 2**20, 1)
        res.metrics.update(
            index_bytes_per_doc=(dir_bytes(path) / len(self.docs), "B/doc"),
            ops_per_s=(len(self.queries) * len(batch_s) / sum(batch_s), "1/s"),
            op_p50_ms=(1000 * median(lat), "ms"),
        )
        n_shapes = len(self.rounds[0])
        singles_per_class = {k: 0 for k in SHAPE_CLASSES}
        for j in range(self.CYCLES * self.SINGLES_PER_CYCLE):
            k = self.FIRST_SHAPE + self.SHAPE_STRIDE * j
            singles_per_class[self.rounds[0][k % n_shapes][1]] += 1
        batch_per_class = {k: 0 for k in SHAPE_CLASSES}
        for _, cls, _ in self.queries:
            batch_per_class[cls] += 1
        res.summary.update(
            docs=len(self.docs), term_rows=self.term_rows,
            postings_bytes=self.postings_bytes,
            batch_calls=len(batches), queries_per_batch=len(self.queries),
            singles=len(singles),
            singles_per_class=singles_per_class,
            batch_queries_per_class=batch_per_class,
            batch_s=[round(x, 3) for x in batch_s],
            single_s=[round(x, 3) for x in lat],
            traced_single_s=[round(dt, 3) for dt, traced in singles if traced],
            traced_batch_s=[round(dt, 3) for dt, traced in batches if traced],
        )
