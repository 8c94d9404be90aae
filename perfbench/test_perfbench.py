"""The benchmark's own tests (no Spark session needed):

    python3 -m pytest perfbench -q

* a perturbed score or doc set, or a dropped or mis-scored
  near-duplicate pair, counts as a failed operation, so the run's
  failed-ops share becomes non-zero;
* a different seed changes the generated inputs but not the metric
  names, which match BENCHMARK.json.
"""

from __future__ import annotations

import json
import os
import sys
from collections import namedtuple

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import run as bench  # noqa: E402
from gen import SHAPES, Generator  # noqa: E402
from oracle import Oracle, compare_pairs, jaccard, ngram_pairs, shingles  # noqa: E402
from workloads import K, check_answers, split_ids  # noqa: E402

Ranked = namedtuple("Ranked", "doc_id score")
Bool = namedtuple("Bool", "doc_id")


def _fresh_run():
    run = bench.Run.__new__(bench.Run)
    run.attempted = run.failed = 0
    run.failures = []
    return run


def _corpus_and_stream(seed: int):
    gen = Generator(seed, 500)
    rows = gen.corpus(150)
    return rows, gen.query_stream(rows, 2 * len(SHAPES))


def _reference_answers(oracle, stream):
    out = []
    for _, q in stream:
        if oracle.is_boolean(q):
            out.append((q, [Bool(d) for d in oracle.boolean(q)]))
        else:
            out.append((q, [Ranked(d, s) for d, s in oracle.ranked(q)[:K]]))
    return out


def test_reference_answers_pass():
    rows, stream = _corpus_and_stream(1)
    oracle = Oracle(rows)
    run = _fresh_run()
    check_answers(run, oracle, _reference_answers(oracle, stream))
    assert run.attempted == len(stream) and run.failed == 0


def test_perturbed_score_fails():
    rows, stream = _corpus_and_stream(1)
    oracle = Oracle(rows)
    answers = _reference_answers(oracle, stream)
    i = next(i for i, (q, got) in enumerate(answers)
             if not oracle.is_boolean(q) and got)
    q, got = answers[i]
    answers[i] = (q, [Ranked(got[0].doc_id, got[0].score * (1 + 1e-6))] + got[1:])
    run = _fresh_run()
    check_answers(run, oracle, answers)
    assert run.failed == 1 and run.failed / run.attempted > 0


def test_perturbed_doc_set_fails():
    rows, stream = _corpus_and_stream(1)
    oracle = Oracle(rows)
    answers = _reference_answers(oracle, stream)
    i = next(i for i, (q, got) in enumerate(answers) if oracle.is_boolean(q) and got)
    q, got = answers[i]
    answers[i] = (q, got[:-1])  # one doc missing
    j = next(j for j, (q, got) in enumerate(answers)
             if not oracle.is_boolean(q) and len(got) > 1)
    q2, got2 = answers[j]
    outsider = next(r["doc_id"] for r in rows if r["doc_id"] not in {g.doc_id for g in got2})
    answers[j] = (q2, got2[:-1] + [Ranked(outsider, got2[-1].score)])  # wrong doc
    run = _fresh_run()
    check_answers(run, oracle, answers)
    assert run.failed == 2


def test_failed_query_counts():
    rows, stream = _corpus_and_stream(1)
    run = _fresh_run()
    check_answers(run, Oracle(rows), [(stream[0][1], RuntimeError("boom"))])
    assert run.failed == 1


def test_seed_changes_inputs_not_metric_names():
    rows1, stream1 = _corpus_and_stream(1)
    rows2, stream2 = _corpus_and_stream(2)
    assert [r["content"] for r in rows1] != [r["content"] for r in rows2]
    assert [q for _, q in stream1] != [q for _, q in stream2]
    assert [s for s, _ in stream1] == [s for s, _ in stream2]  # same shape mix
    assert _corpus_and_stream(1) == (rows1, stream1)  # deterministic

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    for seed_values in (1.0, 2.0):
        run = _fresh_run()
        run.e2e = {k: seed_values for k in bench.E2E}
        run.layer = {"build.merge_s": seed_values}
        run.trace = False
        assert {k: v["unit"] for k, v in bench.result_metrics(run).items()} == e2e
        run.trace = True
        assert {k: v["unit"] for k, v in bench.result_metrics(run).items()} == layer


def test_planted_near_duplicates():
    gen = Generator(3, 500)
    rows, planted = gen.near_dup_corpus(40, 3)
    sh = {r["doc_id"]: shingles(r["content"]) for r in rows}
    assert len(planted) == 3 * 15
    # the lowest edit rate keeps a planted pair well above the threshold
    assert max(jaccard(sh[a], sh[b]) for a, b in planted) > 0.8


def test_reference_pairs_and_pair_check():
    gen = Generator(3, 500)
    rows, _ = gen.near_dup_corpus(40, 3)
    sh = {r["doc_id"]: shingles(r["content"]) for r in rows}
    ids = sorted(sh)
    brute = {(a, b): jaccard(sh[a], sh[b]) for k, a in enumerate(ids) for b in ids[k + 1 :]}
    exact = ngram_pairs(sh, 0.05)
    assert exact == {p: j for p, j in brute.items() if j >= 0.05}
    capped = ngram_pairs(sh, 0.05, max_df=10)
    assert capped and all(j <= exact[p] for p, j in capped.items())
    assert any(j < exact[p] for p, j in capped.items())  # the header is capped away
    assert compare_pairs(dict(capped), capped) is None
    assert compare_pairs({}, capped) is not None  # every pair dropped
    p = next(iter(capped))
    assert compare_pairs({**capped, p: exact[p] * 1.01}, capped) is not None
    assert compare_pairs({q: j for q, j in capped.items() if q != p}, capped) is not None


def test_append_ids_inside_the_bulk_grid():
    bulk, app = split_ids(Generator(4, 500), 100, 20)
    assert min(bulk) == 0 and max(bulk) == 119 and len(app) == 20
    assert not set(bulk) & set(app) and all(0 < i < 119 for i in app)
