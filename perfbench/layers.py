"""Per-layer metrics of a traced run.

A layer's figures come from the spans the workload itself recorded around
its calls into that layer: first from the traced timed loop, else from the
traced set-up. Layers the workload never calls are measured by ``probe``,
which closes every traced run: in-process analysis, codec and parser
passes over a fixed sample, an in-process replay of one slice of a tier
through the segment evaluator, and a tiny tier taken through search,
deletes and compaction. Its own outputs are checked too.
"""

from __future__ import annotations

import time

import numpy as np

from lucene_spark.constants import ENGLISH_STOP_WORDS as STOP

from corpus import SHAPE_CLASSES, query_set
from measure import Tracer, dir_bytes, median

PROBE_SEED = 7  # fixed: the probe's inputs do not depend on the run seed


def _analysis_and_codecs(tracer: Tracer, texts: list[str]) -> None:
    from lucene_spark.analysis.vectorized import analyze_batch
    from lucene_spark.codecs.blocks import (
        decode_block_docids,
        decode_block_freqs,
        encode_term_postings,
    )
    from lucene_spark.functions.smallfloat import int_to_byte4

    for _ in range(3):
        with tracer.span("analysis.analyze_batch", jobs=False) as s:
            bt = analyze_batch(texts, stopwords=STOP)
        s["tokens"] = int(bt.codes.size)
    # the codecs run once per term; a quarter of the sample keeps that short
    bt = analyze_batch(texts[: len(texts) // 4], stopwords=STOP)

    order = np.lexsort((bt.positions, bt.docids, bt.codes))
    codes, docids, positions = bt.codes[order], bt.docids[order], bt.positions[order]
    norms = np.asarray(int_to_byte4(np.asarray(bt.doc_lens, dtype=np.int64)), dtype=np.int64)
    # per (term, doc) postings
    key_change = np.flatnonzero(np.diff(codes) | np.diff(docids)) + 1
    starts = np.concatenate(([0], key_change))
    p_codes, p_docs = codes[starts], docids[starts]
    p_freqs = np.diff(np.concatenate((starts, [codes.size])))
    term_edges = np.concatenate(([0], np.flatnonzero(np.diff(p_codes)) + 1, [p_codes.size]))
    pos_edges = np.concatenate(([0], np.cumsum(p_freqs)))
    terms = [
        (p_docs[a:b], p_freqs[a:b], positions[pos_edges[a] : pos_edges[b]])
        for a, b in zip(term_edges[:-1], term_edges[1:])
    ]
    for _ in range(3):
        with tracer.span("codecs.encode", jobs=False) as s:
            blocks = [
                r for d, f, p in terms
                for r in encode_term_postings(d, f, norms[d], positions=p)
            ]
        s["bytes"] = sum(
            len(r["docids_enc"]) + len(r["freqs_enc"]) + len(r["positions_enc"] or b"")
            for r in blocks
        )
        s["postings"] = int(p_docs.size)
    doc_bytes = sum(len(r["docids_enc"]) + len(r["freqs_enc"]) for r in blocks)
    for _ in range(3):
        with tracer.span("codecs.decode", jobs=False) as s:
            for r in blocks:
                decode_block_docids(
                    r["encoding"], r["docids_enc"], r["n_docs"], r["base_docid"], r["last_docid"]
                )
                decode_block_freqs(r["encoding"], r["freqs_enc"], r["n_docs"])
        s["bytes"] = doc_bytes


def _parse(tracer: Tracer) -> None:
    from lucene_spark.analysis.tokenizer import analyze
    from lucene_spark.search import parse_query

    queries = [qs for _, _, qs in query_set(PROBE_SEED, 4)]
    for qs in queries:
        with tracer.span("search.query.parse", jobs=False):
            parse_query(qs, lambda t: analyze(t, stopwords=STOP))


def _segment_replay(spark, tracer: Tracer, path: str, res) -> None:
    """In-process replay of the largest (segment, slice) of a tier through
    the evaluator the Spark tasks run: context build, the batch evaluator,
    and the per-query evaluator with block-max pruning on and off."""
    from pyspark.sql import functions as F

    from lucene_spark.search import Searcher
    from lucene_spark.search.query import collect_terms
    from lucene_spark.search.searcher import _slice_bounds
    from lucene_spark.search.segment import (
        SegmentContext,
        batch_search_segment,
        search_segment,
    )

    # the searcher's own planning helpers give the inputs a Spark task gets
    searcher = Searcher(spark, path, stopwords=STOP)
    queries = query_set(PROBE_SEED, 8)
    parsed = {qid: searcher._prepared(qs) for qid, _, qs in queries}
    terms = sorted(set().union(*(collect_terms(q) for q in parsed.values())))
    scorers = searcher._make_scorers(list(parsed.values()))
    span = searcher._slice_span()
    blocks = searcher._postings_blocks(terms, True, span)
    top = blocks.groupBy("segment_id", "slice_id").count().orderBy(F.desc("count")).first()
    pdf = blocks.filter(
        (F.col("segment_id") == top["segment_id"]) & (F.col("slice_id") == top["slice_id"])
    ).toPandas()
    base, lo, hi = _slice_bounds(pdf, searcher._seg_meta(), span)

    def context(prune: bool = True):
        return SegmentContext.from_pdf(pdf, scorers, lo, hi, prune, doc_base=base)

    for _ in range(3):
        with tracer.span("search.segment.context", jobs=False) as s:
            ctx = context()
        s["blocks"] = len(pdf)
        with tracer.span("search.segment.batch_eval", jobs=False) as s:
            batch_search_segment(ctx, parsed, 10)
        s["queries"] = len(parsed)
    # per-query evaluator on fresh contexts, pruned and exhaustive
    by_cls: dict[str, list] = {}
    for qid, cls, _ in queries:
        by_cls.setdefault(cls, []).append(qid)
    same = True
    for cls, qids in by_cls.items():
        hits = {}
        for prune in (True, False):
            ctx = context(prune)
            with tracer.span("search.segment.eval", jobs=False, cls=cls, prune=prune) as s:
                hits[prune] = [search_segment(ctx, parsed[q], 10) for q in qids]
            s["queries"] = len(qids)
        same &= all(
            np.array_equal(a[0], b[0]) and np.array_equal(a[1], b[1])
            for a, b in zip(hits[True], hits[False])
        )
    res.check(same, "segment replay: pruned and exhaustive top-k differ")


def probe(spark, tracer: Tracer, work: str, res, tiny_docs: int) -> None:
    """Exercise every layer once on fixed inputs; check what it returns."""
    from lucene_spark.analysis.tokenizer import analyze
    from lucene_spark.fixtures import generate_webtext
    from lucene_spark.index import IndexReader, build_index, compact_deletes
    from lucene_spark.index.deletes import add_deletes_by_url
    from lucene_spark.index.invariants import check_index
    from lucene_spark.search import Searcher

    tracer.phase = "probe"
    sample = generate_webtext(1000, seed=PROBE_SEED)
    _analysis_and_codecs(tracer, [r["text"] for r in sample])
    _parse(tracer)

    replay = f"{work}/probe-replay"
    build_index(
        spark, spark.createDataFrame([(r["url"], r["text"]) for r in sample], "url string, text string"),
        replay, num_segments=2, stopwords=STOP,
    )
    _segment_replay(spark, tracer, replay, res)

    rows = [(r["url"], r["text"]) for r in sample[:tiny_docs]]
    df = spark.createDataFrame(rows, "url string, text string")
    # builder and merge spans come from the workload itself
    tier = f"{work}/probe-tier"
    build_index(spark, df, tier, num_segments=2, stopwords=STOP)
    with tracer.span("index.reader.open"):
        searcher = Searcher(spark, tier, stopwords=STOP)
    queries = query_set(PROBE_SEED, 1)
    for qid, cls, qs in queries:
        if not qid.endswith("_0_v0"):
            continue  # one shape per class
        terms = sorted({t.term for t in analyze(qs.replace('"', " "), stopwords=STOP)
                        if t.term.startswith("w")})
        with tracer.span("index.reader.term_stats"):
            searcher.reader.term_stats(terms)
        with tracer.span("search.single", jobs=False, cls=cls):
            with tracer.span("search.searcher.plan", kind="single", cls=cls):
                out = searcher.search(qs, k=10)
            with tracer.span("search.searcher.exec", kind="single", cls=cls):
                out.collect()
    with tracer.span("search.batch", jobs=False):
        with tracer.span("search.searcher.plan", kind="batch"):
            out = searcher.search_many({q: s for q, _, s in queries}, k=10)
        with tracer.span("search.searcher.exec", kind="batch"):
            out.collect()

    # deletes: every page of a quarter of the sites, then compaction
    victims = [u for u, _ in rows if int(u.split("site", 1)[1].split(".", 1)[0]) % 4 == 0]
    with tracer.span("index.deletes"):
        marked = add_deletes_by_url(
            spark, tier, spark.createDataFrame([(u,) for u in victims], "url string")
        )
    before = time.time()
    with tracer.span("index.compaction") as s:
        compact_deletes(spark, tier, force=True)
    reader = IndexReader(spark, tier)
    s["term_rows"] = reader.term_dict.count()
    s["bytes_rewritten"] = dir_bytes(tier, since=before)
    live = reader.global_stats[0]
    viol = check_index(spark, tier)
    res.check(
        marked == len(victims) and live == len(rows) - len(victims) and not viol,
        f"probe compaction: marked {marked}/{len(victims)}, live {live}, {viol[:2]}",
    )
    res.summary["probe_docs"] = len(rows)
    res.summary["probe_victims"] = len(victims)


def _pick(tracer: Tracer, name: str, **match) -> list[dict]:
    """Spans of ``name`` from the first phase that has any."""
    for phase in ("loop", "setup", "probe"):
        got = tracer.named(name, phase=phase, **match)
        if got:
            return got
    return []


def layer_metrics(tracer: Tracer, nproc: int, overhead_pct: float) -> dict[str, tuple[float, str]]:
    m: dict[str, tuple[float, str]] = {}

    def util(spans) -> float:
        wall = sum(s["wall_s"] for s in spans)
        return sum(s.get("task_s", 0.0) for s in spans) / (wall * nproc) if wall else 0.0

    an = tracer.named("analysis.analyze_batch")
    m["analysis.tokens_per_s"] = (median(s["tokens"] / s["wall_s"] for s in an), "1/s")
    enc = tracer.named("codecs.encode")
    m["codecs.encode_mb_per_s"] = (median(s["bytes"] / s["wall_s"] / 1e6 for s in enc), "MB/s")
    m["codecs.bytes_per_posting"] = (enc[0]["bytes"] / enc[0]["postings"], "B")
    dec = tracer.named("codecs.decode")
    m["codecs.decode_mb_per_s"] = (median(s["bytes"] / s["wall_s"] / 1e6 for s in dec), "MB/s")

    for layer, extra in (
        ("index.builder", ("shuffle_bytes", "bytes_written")),
        ("index.merge", ("stages", "shuffle_bytes", "bytes_written")),
        ("index.compaction", ("tasks", "term_rows", "bytes_rewritten")),
    ):
        spans = _pick(tracer, layer)
        m[f"{layer}.wall_s"] = (median(s["wall_s"] for s in spans), "s")
        m[f"{layer}.task_s"] = (median(s["task_s"] for s in spans), "s")
        m[f"{layer}.core_util"] = (util(spans), "ratio")
        for key in extra:
            unit = "count" if key in ("stages", "tasks", "term_rows") else "B"
            m[f"{layer}.{key}"] = (median(s[key] for s in spans), unit)
    m["index.deletes.wall_s"] = (median(s["wall_s"] for s in _pick(tracer, "index.deletes")), "s")
    m["index.reader.open_ms"] = (
        1000 * median(s["wall_s"] for s in _pick(tracer, "index.reader.open")), "ms"
    )
    m["index.reader.term_stats_ms"] = (
        1000 * median(s["wall_s"] for s in _pick(tracer, "index.reader.term_stats")), "ms"
    )
    m["search.query.parse_ms"] = (
        1000 * median(s["wall_s"] for s in tracer.named("search.query.parse")), "ms"
    )

    for kind in ("single", "batch"):
        plan = _pick(tracer, "search.searcher.plan", kind=kind)
        exe = _pick(tracer, "search.searcher.exec", kind=kind)
        calls = plan + exe
        m[f"search.searcher.{kind}.plan_ms"] = (1000 * median(s["wall_s"] for s in plan), "ms")
        m[f"search.searcher.{kind}.exec_ms"] = (1000 * median(s["wall_s"] for s in exe), "ms")
        m[f"search.searcher.{kind}.jobs_per_call"] = (sum(s["jobs"] for s in calls) / len(plan), "count")
        m[f"search.searcher.{kind}.tasks_per_call"] = (sum(s["tasks"] for s in calls) / len(plan), "count")
        m[f"search.searcher.{kind}.core_util"] = (util(calls), "ratio")
    for cls in SHAPE_CLASSES:
        ops = _pick(tracer, "search.single", cls=cls)
        m[f"search.searcher.p50_ms.{cls}"] = (1000 * median(s["wall_s"] for s in ops), "ms")

    ctx = tracer.named("search.segment.context")
    m["search.segment.context_ms"] = (1000 * median(s["wall_s"] for s in ctx), "ms")
    m["search.segment.blocks_in_scope"] = (ctx[0]["blocks"], "count")
    m["search.segment.batch_eval_us_per_query"] = (
        1e6 * median(s["wall_s"] / s["queries"] for s in tracer.named("search.segment.batch_eval")),
        "us",
    )
    pruned = exhaustive = 0.0
    for cls in SHAPE_CLASSES:
        (p,) = tracer.named("search.segment.eval", cls=cls, prune=True)
        (x,) = tracer.named("search.segment.eval", cls=cls, prune=False)
        m[f"search.segment.eval_ms.{cls}"] = (1000 * p["wall_s"] / p["queries"], "ms")
        pruned, exhaustive = pruned + p["wall_s"], exhaustive + x["wall_s"]
    m["search.segment.prune_speedup"] = (exhaustive / pruned, "ratio")

    ops = [s for s in tracer.spans if s.get("phase") == "loop" and s["name"] in
           ("ingest.op", "search.single", "search.batch")]
    cover = [sum(c["wall_s"] for c in tracer.children(s)) / s["wall_s"] for s in ops]
    m["trace.coverage_pct"] = (100 * min(cover), "%")
    m["trace.overhead_pct"] = (overhead_pct, "%")
    return m
