"""The workloads.  Each takes a :class:`run.Run` (session, tracer,
deadline, counters) and fills ``run.e2e`` (end-to-end values),
``run.layer`` (per-layer values) and ``run.info`` (input properties).

Every timed operation goes through the package's public functions; its
output is kept and checked against :mod:`oracle` after the timed window.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

from gen import SHAPES, Generator, distinct_raw_tokens, sha256_hex
from oracle import Oracle, check_ranked, compare_pairs, jaccard, ngram_pairs, shingles

# sizes: chosen so that 22 runs of each workload, set-up included, fit
# the benchmark's time budget on a 4-core host; far below the 50,000-doc,
# 20,000-word scale at which build and merge dominate (see README.md)
INGEST_DOCS, APPEND_DOCS, WARM_DOCS = 800, 40, 30
DEDUP_DOCS, DEDUP_CLUSTERS = 300, 16
QUERY_DOCS, QUERY_ROUNDS, WARM_ROUNDS = 800, 150, 1  # a round: one query of each shape
VOCAB = 2000
SLICES, SALT = 2, 2
CONTENT_CACHE_MAX = 256 << 20
FAST_MAX_POSTINGS = 5_000_000
ANALYZER_MEMO_MAX = 1_000_000
K = 10


def pct(values, q: float) -> float:
    """Nearest-rank percentile; ``inf`` entries (failed ops) sort last."""
    v = sorted(values)
    return v[min(len(v) - 1, max(0, int(np.ceil(q / 100 * len(v))) - 1))]


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def stored_ratio(index_dir: str, rows: list[dict]) -> float:
    """Bytes in the index directory (index, docs, stats, runs) per byte
    of corpus content."""
    return dir_bytes(index_dir) / sum(len(r["content"].encode()) for r in rows)


def load_corpus(spark, rows: list[dict]):
    """Generated rows -> the input-hint DataFrame, sha256 computed by
    Spark (the ingest invariant the docs table must carry)."""
    import pandas as pd
    from pyspark.sql import functions as F

    pdf = pd.DataFrame(rows, columns=["doc_id", "repo", "path", "commit", "lang", "content"])
    df = spark.createDataFrame(
        pdf, "doc_id long, repo string, path string, commit string, lang string, content string"
    )
    return df.withColumn("sha256", F.sha2("content", 256))


def timed_load(run, rows: list[dict]):
    """Load + cache + materialize, three times: the repeated set-up
    step whose median ``setup_s`` counts."""
    df = None
    for _ in range(3):
        if df is not None:
            df.unpersist()
        t0 = time.perf_counter()
        df = load_corpus(run.spark, rows).cache()
        df.count()
        run.setup_reps.append(time.perf_counter() - t0)
    return df


# ---------------------------------------------------------------------------
# shared layer probes
# ---------------------------------------------------------------------------


def probe_analyze(run, rows: list[dict]) -> None:
    """Driver-side analyzer floor: ``analyze_batch`` on a fixed sample,
    no Spark.  Runs before anything else analyzes in this process."""
    import pandas as pd

    from informationretrieval_en_people_cn_spark.functions.analyze import analyze_batch

    sample = pd.Series([r["content"] for r in rows[:500]], dtype=object)
    with run.tracer.span("analyze.batch"):
        t0 = time.perf_counter()
        analyze_batch(sample)
        run.layer["analyze.docs_per_s"] = len(sample) / (time.perf_counter() - t0)


def probe_codec(run, index_path: str) -> None:
    """Driver-side encode/decode of the built index's frames."""
    import pyarrow.parquet as pq

    from informationretrieval_en_people_cn_spark.functions.codec import (
        decode_frames, encode_frame,
    )

    tbl = pq.read_table(index_path, columns=["df", "postings"])
    frames = [bytes(b) for b in tbl.column("postings").to_pylist()]
    n_post = int(sum(tbl.column("df").to_pylist()))
    with run.tracer.span("codec.decode"):
        t0 = time.perf_counter()
        dec = [decode_frames(f, want_positions=True) for f in frames]
        t_dec = time.perf_counter() - t0
    with run.tracer.span("codec.encode"):
        t0 = time.perf_counter()
        enc = [encode_frame(d, t, p) for d, t, p in dec]
        t_enc = time.perf_counter() - t0
    bad = 0
    for (d, t, p), blob in zip(dec[:200], enc[:200]):
        d2, t2, p2 = decode_frames(blob, want_positions=True)
        bad += not (np.array_equal(d, d2) and np.array_equal(t, t2) and np.array_equal(p, p2))
    run.op(bad == 0, "codec round trip")
    run.layer["codec.decode_mpostings_per_s"] = n_post / t_dec / 1e6
    run.layer["codec.encode_mpostings_per_s"] = n_post / t_enc / 1e6
    run.layer["codec.bytes_per_posting"] = sum(map(len, frames)) / max(n_post, 1)


def build(run, corpus, out_dir: str):
    """``build_index`` in a span whose children are the build's own five
    ``IR_BUILD_DEBUG`` stage marks."""
    from informationretrieval_en_people_cn_spark.operators.build import build_index

    log = os.path.join(run.work, "stages.log")
    if os.path.exists(log):
        os.remove(log)
    os.environ["IR_BUILD_DEBUG"] = log
    try:
        with run.tracer.span("build.index") as sp:
            t0 = time.perf_counter()
            paths = build_index(run.spark, corpus, out_dir, slices=SLICES, salt=SALT)
            dt = time.perf_counter() - t0
    finally:
        os.environ.pop("IR_BUILD_DEBUG", None)
    stages = []
    with open(log) as fh:
        for line in fh:  # "[build] <label>: <sec>s"
            label, _, val = line.strip().removeprefix("[build] ").rpartition(": ")
            stages.append((label, float(val[:-1])))
    names = ("build.bounds_s", "build.tokenize_encode_s", "build.merge_s",
             "build.docs_write_s", "build.stats_write_s")
    for name, (_, sec) in zip(names, stages):
        run.layer[name] = sec
    if sp is not None:
        at = sp["start"]
        for name, (_, sec) in zip(names, stages):
            run.tracer.add_child(sp, name[:-2], at, at + sec)
            at += sec
    return paths, dt, sp


def build_layers(run, sp, paths, wall: float) -> None:
    if sp is not None:
        run.layer["build.jobs"] = sp["jobs"]
        run.layer["build.tasks"] = sp["tasks"]
        run.layer["build.shuffle_write_mb"] = sp["shuffle_write_b"] / 2**20
        run.layer["build.shuffle_read_mb"] = sp["shuffle_read_b"] / 2**20
        run.layer["build.task_run_s"] = sp["run_ms"] / 1e3
        run.layer["build.jvm_cpu_s"] = sp["jvm_cpu_s"]
        run.layer["build.python_cpu_s"] = sp["py_cpu_s"]
        run.layer["build.core_busy_share"] = sp["run_ms"] / 1e3 / (wall * run.cores)
    run.layer["build.index_mb"] = dir_bytes(paths.index) / 2**20
    run.layer["build.docs_mb"] = dir_bytes(paths.docs) / 2**20
    run.layer["build.runs_mb"] = dir_bytes(paths.runs) / 2**20


def check_docs_table(run, docs_path: str, rows: list[dict]) -> None:
    """Input-hint invariant: docs.sha256 == sha256(content), every row;
    and the docs table holds exactly the generated ids."""
    import pyarrow.parquet as pq

    t = pq.read_table(docs_path, columns=["doc_id", "sha256"])
    got = dict(zip(t.column("doc_id").to_pylist(), t.column("sha256").to_pylist()))
    want = {r["doc_id"]: sha256_hex(r["content"]) for r in rows}
    run.op(got == want, "docs table sha256 / doc ids")


def check_term_stats(run, index_path: str, oracle: Oracle, gen: Generator) -> None:
    """Vocabulary size, and df/cf (summed over index shards) of the 20
    highest-df terms plus a seeded sample of 200 others."""
    import pyarrow.parquet as pq

    t = pq.read_table(index_path, columns=["term", "df", "cf"])
    df, cf = {}, {}
    for term, d, c in zip(*(t.column(x).to_pylist() for x in ("term", "df", "cf"))):
        df[term] = df.get(term, 0) + d
        cf[term] = cf.get(term, 0) + c
    sample = sorted(oracle.vocab, key=oracle.df)[-20:] + [
        oracle.vocab[i] for i in gen.np.choice(len(oracle.vocab), 200, replace=False)]
    ok = all(df.get(s) == oracle.df(s) and cf.get(s) == oracle.cf(s) for s in sample)
    run.op(ok and len(df) == len(oracle.vocab), "term df/cf sample")


# ---------------------------------------------------------------------------
# ingest: bulk build, near-duplicate detection, append-to-visible cycles
# ---------------------------------------------------------------------------

DEDUP_MODES = {
    # the production configs of bench.py
    "exact": dict(fn="ngram", n=2, threshold=0.05, max_shingle_df=None),
    "capped": dict(fn="ngram", n=2, threshold=0.05, max_shingle_df=200),
    "minhash": dict(fn="minhash", num_hashes=64, bands=16, shingle_n=2, threshold=0.3,
                    hash_fn="blake2b", exact_bands=False, max_bucket=1000),
}


def dedup_pairs(df, mode: str):
    from informationretrieval_en_people_cn_spark.operators import pipeline as pl

    cfg = dict(DEDUP_MODES[mode])
    fn = cfg.pop("fn")
    f = pl.ngram_jaccard_pairs if fn == "ngram" else pl.minhash_lsh_pairs
    return f(df, text_col="content", id_col="doc_id", **cfg)


def split_ids(gen: Generator, n_bulk: int, n_append: int) -> tuple[list[int], list[int]]:
    """Doc ids ``0 .. n_bulk+n_append-1``: the appended ones are spread
    over the whole range (as hashed ids would be) and the bulk corpus
    holds both ends, so the grid ``build_index`` takes from the bulk
    corpus's id range covers every appended id."""
    total = n_bulk + n_append
    app = sorted(int(i) for i in gen.np.choice(np.arange(1, total - 1), n_append, replace=False))
    taken = set(app)
    return [i for i in range(total) if i not in taken], app


def append_batch(run, out: str, span: int, batch: list[dict]):
    """Write the batch to the incoming directory and index it with
    ``incremental_index`` (AvailableNow) on the grid ``lo=0``, ``span``
    (ids ``0 .. span-1``).  Returns the batch's DataFrame."""
    from informationretrieval_en_people_cn_spark.streaming.incremental import (
        CORPUS_SCHEMA, incremental_index,
    )

    in_dir = out + "-incoming"
    with run.tracer.span("refresh.append"):
        bdf = load_corpus(run.spark, batch)
        bdf.write.mode("append").parquet(in_dir)
        stream = run.spark.readStream.schema(CORPUS_SCHEMA).parquet(in_dir)
        q = incremental_index(stream, out, lo=0, span=span, buckets=SLICES * SALT)
        q.awaitTermination(120)
    return bdf


def ingest(run) -> None:
    import pyarrow.dataset as ds

    from informationretrieval_en_people_cn_spark.plans.engine import SearchEngine
    from informationretrieval_en_people_cn_spark.streaming.incremental import refresh_index

    gen = Generator(run.seed, VOCAB)
    n = INGEST_DOCS
    bulk_ids, app_ids = split_ids(gen, n, APPEND_DOCS)
    rows = gen.corpus(n, ids=bulk_ids)
    batch = gen.corpus(APPEND_DOCS, ids=app_ids, marker="zqbatch")
    dup_rows, planted = gen.near_dup_corpus(DEDUP_DOCS, DEDUP_CLUSTERS)
    warm_batch = gen.corpus(WARM_DOCS, marker="zqwarm")
    describe(run, rows)
    run.info["appended_docs"] = APPEND_DOCS
    run.info["dedup_docs"] = len(dup_rows)
    run.info["planted_pairs"] = len(planted)
    probe_analyze(run, rows)
    # warm-up (JVM start-up, Python worker spawn, streaming start): a
    # small batch through ``incremental_index``, which runs the
    # tokenize/encode kernels the build shares
    append_batch(run, os.path.join(run.work, "warm"), WARM_DOCS, warm_batch)
    dups = load_corpus(run.spark, dup_rows).cache()
    dups.count()
    corpus = timed_load(run, rows)
    run.start_timed()

    out = os.path.join(run.work, "idx")
    paths, t_build, sp = build(run, corpus, out)
    run.layer["build_docs_per_s"] = n / t_build
    run.e2e["stored_bytes_per_content_byte"] = stored_ratio(out, rows)
    build_layers(run, sp, paths, t_build)

    t_dedup = 0.0
    for mode in DEDUP_MODES:
        with run.tracer.span(f"pipeline.{mode}") as dsp:
            t0 = time.perf_counter()
            dedup_pairs(dups, mode).write.parquet(os.path.join(run.work, f"pairs_{mode}"))
            dt = time.perf_counter() - t0
        t_dedup += dt
        pairs = ds.dataset(os.path.join(run.work, f"pairs_{mode}")).count_rows()
        run.layer[f"dedup_{mode}_docs_per_s"] = len(dup_rows) / dt
        run.layer[f"pipeline.{mode}.s"] = dt
        run.layer[f"pipeline.{mode}.pairs"] = pairs
        if dsp is not None:
            run.layer[f"pipeline.{mode}.shuffle_write_mb"] = dsp["shuffle_write_b"] / 2**20
            run.layer[f"pipeline.{mode}.task_run_s"] = dsp["run_ms"] / 1e3
            run.layer[f"pipeline.{mode}.python_cpu_s"] = dsp["py_cpu_s"]
            run.layer[f"pipeline.{mode}.pairs_per_candidate"] = pairs / max(
                dsp["last_shuffle_write_records"], 1)
    # documents through the batch side (index build + near-dup passes)
    run.e2e["throughput_per_s"] = (n + len(dup_rows)) / (t_build + t_dedup)

    # one append cycle, from the append until a reloaded serving engine
    # returns the batch
    with run.tracer.span("engine.open"):
        engine = SearchEngine(run.spark, out, cache_term_stats=True,
                              persist_doclens=True, fast_path=False)
    with run.tracer.span("refresh.cycle", trace="cycle"):
        t0 = time.perf_counter()
        bdf = append_batch(run, out, n + APPEND_DOCS, batch)
        with run.tracer.span("refresh.merge") as msp:
            refresh_index(run.spark, out, corpus=corpus.unionByName(bdf))
        with run.tracer.span("refresh.reload"):
            engine.reload()
        with run.tracer.span("refresh.query"):
            got = engine.search("zqbatch", k=APPEND_DOCS + K).collect()
        visible = time.perf_counter() - t0
    run.end_timed()
    run.op({r.doc_id for r in got} == {r["doc_id"] for r in batch},
           "appended docs visible after refresh")

    run.e2e["latency_p50_ms"] = visible * 1e3
    run.layer["refresh_visible_s"] = visible
    if run.trace:  # the timed cycle's spans, not the warm-up's
        for name in ("append", "merge", "reload"):
            run.layer[f"refresh.{name}_s"] = next(
                s["end"] - s["start"] for s in reversed(run.tracer.named(f"refresh.{name}")))
        run.layer["refresh.shuffle_write_mb"] = msp["shuffle_write_b"] / 2**20
    run.layer["refresh.run_inputs"] = 1 + sum(
        d.startswith("stream_batch=") for d in os.listdir(paths.runs))

    # correctness, after the timed window: the final snapshot (bulk +
    # appended; the refresh garbage-collects the older one) and the pairs
    from informationretrieval_en_people_cn_spark.operators.build import IndexPaths

    cur = IndexPaths(out)
    check_docs_table(run, cur.docs, rows + batch)
    check_term_stats(run, cur.index, Oracle(rows + batch), gen)
    check_pairs(run, dup_rows, planted)
    if run.trace:
        probe_codec(run, cur.index)


def check_pairs(run, rows: list[dict], planted: list[tuple]) -> None:
    """Exact and capped n-gram modes return exactly the reference pairs
    with their reference scores; banded MinHash finds the planted pairs
    it can hardly miss and estimates within range."""
    import pyarrow.parquet as pq

    sh = {r["doc_id"]: shingles(r["content"]) for r in rows}
    res = {}
    for mode in DEDUP_MODES:
        t = pq.read_table(os.path.join(run.work, f"pairs_{mode}"))
        cols = [t.column(i).to_pylist() for i in range(3)]
        res[mode] = {(a, b): j for a, b, j in zip(*cols)}
    thr = DEDUP_MODES["exact"]["threshold"]
    exact = ngram_pairs(sh, thr)
    err = compare_pairs(res["exact"], exact)
    run.op(err is None, f"exact pairs: {err}")
    # every planted pair above the threshold is among them
    for a, b in planted:
        if jaccard(sh[a], sh[b]) >= thr:
            run.op((a, b) in res["exact"], f"exact planted pair ({a},{b})")
    # capped: a shared shingle held by more than the cap is left out of
    # |A ∩ B| (not of |A|, |B|), so a pair sharing boilerplate scores
    # lower than its Jaccard; the share of such pairs is reported
    cap = DEDUP_MODES["capped"]["max_shingle_df"]
    capped = ngram_pairs(sh, thr, max_df=cap)
    err = compare_pairs(res["capped"], capped)
    run.op(err is None, f"capped pairs: {err}")
    low = sum(j < exact.get(p, 2.0) - 1e-12 for p, j in capped.items())
    run.layer["pipeline.capped.inexact_share"] = low / max(len(capped), 1)
    run.info["capped_pairs_below_exact"] = f"{low}/{len(capped)}"
    # banded MinHash (16 bands x 4 rows) misses a J >= 0.9 pair with
    # probability (1 - 0.9**4)**16 ~ 4e-8
    for a, b in planted:
        if jaccard(sh[a], sh[b]) >= 0.9:
            run.op((a, b) in res["minhash"], f"minhash pair ({a},{b})")
    run.op(all(0.3 <= j <= 1.0 and a < b for (a, b), j in res["minhash"].items()),
           "minhash estimates in range")


def check_answers(run, oracle: Oracle, answers) -> None:
    """One op per ``(query, rows | exception)``: a boolean query must
    return exactly the reference doc-id set (in doc-id order), a ranked
    one a valid reference top-k with the reference BM25 scores."""
    for q, got in answers:
        if isinstance(got, Exception):
            run.op(False, f"{q!r} raised {got!r}")
        elif oracle.is_boolean(q):
            run.op([r.doc_id for r in got] == oracle.boolean(q), f"boolean {q!r}")
        else:
            full = oracle.ranked(q)
            err = check_ranked([(r.doc_id, r.score) for r in got], full[:K], dict(full).get)
            run.op(err is None, f"ranked {q!r}: {err}")


# ---------------------------------------------------------------------------
# query_driver / query_serving
# ---------------------------------------------------------------------------


def query(run, serving: bool) -> None:
    from informationretrieval_en_people_cn_spark.plans import querytree
    from informationretrieval_en_people_cn_spark.plans.engine import SearchEngine

    gen = Generator(run.seed, VOCAB)
    rows = gen.corpus(QUERY_DOCS)
    stream = gen.query_stream(rows, QUERY_ROUNDS * len(SHAPES))
    describe(run, rows)
    probe_analyze(run, rows)
    corpus = timed_load(run, rows)
    out = os.path.join(run.work, "idx")
    paths, dt, sp = build(run, corpus, out)
    build_layers(run, sp, paths, dt)
    run.e2e["stored_bytes_per_content_byte"] = stored_ratio(out, rows)
    opts = (dict(cache_term_stats=True, persist_doclens=True, fast_path=False) if serving
            else dict(cache_term_stats=True, cache_doclens=True, cache_content=True,
                      content_cache_max_bytes=CONTENT_CACHE_MAX,
                      fast_max_postings=FAST_MAX_POSTINGS))
    # warm-up: the stream's last round(s), which the timed loop never
    # reaches; every query shape has run once before timing starts
    warm = [q for _, q in stream[-WARM_ROUNDS * len(SHAPES):]]
    with run.tracer.span("engine.open") as osp:  # the serving tier's cold start
        t0 = time.perf_counter()
        engine = SearchEngine(run.spark, out, **opts)
        engine.search(warm[0], k=K).collect()
        run.layer["engine_open_s"] = time.perf_counter() - t0
    if osp is not None:
        run.layer["engine.open_jobs"] = osp["jobs"]
    run.layer["engine.open_driver_rss_mb"] = run.driver_rss_mb()
    run.op(engine.fast_path != serving, "engine placement as configured")
    for q in warm[1:]:
        engine.search(q, k=K).collect()
    run.start_timed()

    # whole rounds only, so every shape has the same share of the
    # measured queries: at least one, then until the round that ends
    # past the deadline
    lat, shapes, answers, marks = [], [], [], []
    i = 0
    while i == 0 or i % len(SHAPES) or not run.past_deadline():
        if i % len(SHAPES) == 0:
            marks.append(time.perf_counter())
        shape, q = stream[i]
        with run.tracer.span("engine.query", trace=f"q{i}"):
            t0 = time.perf_counter()
            try:
                if run.trace:
                    with run.tracer.span("querytree.parse"):
                        querytree.parse(q)
                with run.tracer.span("engine.plan"):
                    df = engine.search(q, k=K)
                with run.tracer.span("engine.exec"):
                    got = df.collect()
                dt_q = time.perf_counter() - t0
            except Exception as e:  # a failed query misses every percentile
                got, dt_q = e, float("inf")
        lat.append(dt_q)
        shapes.append(shape)
        answers.append((q, got))
        i += 1
    wall = run.end_timed()
    marks.append(run.t_timed + wall)

    # throughput: completed queries per second of the median round, so a
    # single slow query moves it no more than it moves the median latency
    m = len(SHAPES)
    rates = [sum(np.isfinite(lat[k * m : (k + 1) * m])) / (marks[k + 1] - marks[k])
             for k in range(len(marks) - 1)]
    run.e2e["latency_p50_ms"] = pct(lat, 50) * 1e3
    run.e2e["throughput_per_s"] = statistics.median(rates)
    run.layer["query_p50_ms"] = run.e2e["latency_p50_ms"]
    run.layer["query_p90_ms"] = pct(lat, 90) * 1e3
    run.layer["query_qps"] = sum(np.isfinite(lat)) / wall
    run.layer["queries"] = len(lat)
    run.info["round_qps"] = " ".join(f"{r:.3g}" for r in rates)

    oracle = Oracle(rows)
    check_answers(run, oracle, answers)
    check_docs_table(run, paths.docs, rows)
    check_term_stats(run, paths.index, oracle, gen)

    sum_df = [oracle.sum_df(q) for _, q in stream[: len(lat)]]
    qs = [q for _, q in stream[: len(lat)]]
    run.info.update({
        "stream_queries": len(lat),
        "repeated_query_share": 1 - len(set(qs)) / len(qs),
        "sum_df_p50": pct(sum_df, 50), "sum_df_max": max(sum_df),
        "fast_max_postings": FAST_MAX_POSTINGS,
        "content_cache_max_bytes": CONTENT_CACHE_MAX,
    })

    if run.trace:
        qspans = run.tracer.named("engine.query")
        per = {s["id"]: s for s in qspans}
        kids = {}
        for s in run.tracer.spans:
            if s["parent"] in per:
                kids.setdefault(s["name"], []).append(s)
        n = max(len(qspans), 1)
        plan, exe = kids.get("engine.plan", []), kids.get("engine.exec", [])
        parse = kids.get("querytree.parse", [])
        run.layer["querytree.parse_us"] = statistics.median(
            s["end"] - s["start"] for s in parse) * 1e6
        run.layer["engine.plan_ms"] = statistics.median(s["end"] - s["start"] for s in plan) * 1e3
        run.layer["engine.exec_ms"] = statistics.median(s["end"] - s["start"] for s in exe) * 1e3
        run.layer["engine.eager_jobs_per_query"] = sum(s["jobs"] for s in plan) / n
        both = plan + exe
        run.layer["engine.jobs_per_query"] = sum(s["jobs"] for s in both) / n
        run.layer["engine.stages_per_query"] = sum(s["stages"] for s in both) / n
        run.layer["engine.tasks_per_query"] = sum(s["tasks"] for s in both) / n
        run.layer["engine.shuffle_kb_per_query"] = sum(
            s["shuffle_write_b"] for s in both) / n / 1024
        run.layer["engine.scan_fraction"] = sum(s["input_b"] for s in both) / n / max(
            dir_bytes(paths.index), 1)
        run.layer["engine.task_run_ms_per_query"] = sum(s["run_ms"] for s in both) / n
        run.layer["engine.python_cpu_ms_per_query"] = sum(
            s["py_cpu_s"] for s in qspans) / n * 1e3
        for shape in set(shapes):
            run.layer[f"engine.shape.{shape}.p50_ms"] = pct(
                [t for s, t in zip(shapes, lat) if s == shape], 50) * 1e3
        probe_codec(run, paths.index)


WORKLOADS = {
    "ingest": ingest,
    "query_driver": lambda run: query(run, serving=False),
    "query_serving": lambda run: query(run, serving=True),
}


def describe(run, rows: list[dict]) -> None:
    content_b = sum(len(r["content"].encode()) for r in rows)
    run.info.update({
        "docs": len(rows), "content_mb": content_b / 2**20,
        "distinct_raw_tokens": distinct_raw_tokens(rows),
        "analyzer_memo_max": ANALYZER_MEMO_MAX,
    })
