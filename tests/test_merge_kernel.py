"""The columnar merge kernel against a per-term pure-Python merge."""

import random

import pandas as pd
import pytest

from informationretrieval_en_people_cn_spark.functions.codec import decode_many
from informationretrieval_en_people_cn_spark.operators import build
from tests.test_codec import ref_decode, ref_frame

BLOCK = 4


def random_runs(seed, positional):
    """One bucket's runs: each term's docs split over several frames
    (disjoint doc sets, frames shuffled), some terms with df > BLOCK."""
    rnd = random.Random(seed)
    rows = []
    for i in range(rnd.randint(1, 12)):
        term = f"t{rnd.randint(0, 10**6)}_{i}"
        docs = sorted(rnd.sample(range(10**7), rnd.choice([1, 3, 9, 40])))
        rnd.shuffle(docs)
        cuts = sorted(rnd.sample(range(1, len(docs)), min(len(docs) - 1, rnd.randint(0, 4))))
        for part in (docs[a:b] for a, b in zip([0] + cuts, cuts + [len(docs)])):
            part.sort()
            tfs = [rnd.randint(1, 4) for _ in part]
            plists = (
                [sorted(rnd.sample(range(500), t)) for t in tfs] if positional else None
            )
            rows.append(
                {"term": term, "salt": 3, "first_doc": part[0], "df": len(part),
                 "cf": sum(tfs), "frame": ref_frame(part, tfs, plists)}
            )
    rnd.shuffle(rows)
    return pd.DataFrame(rows)


def reference_merge(runs, positional):
    out = []
    for term in sorted(set(runs["term"])):
        post = {}
        for frame in runs.loc[runs["term"] == term, "frame"]:
            docs, tfs, pos = ref_decode(frame)
            it = iter(pos)
            for d, t in zip(docs, tfs):
                post[d] = (t, [next(it) for _ in range(t)] if positional else None)
        docs = sorted(post)
        tfs = [post[d][0] for d in docs]
        plists = [post[d][1] for d in docs] if positional else None
        out.append(
            {"term": term, "bucket": 3, "first_doc": docs[0], "df": len(docs),
             "cf": sum(tfs), "postings": ref_frame(docs, tfs, plists),
             "blocks": [
                 {"last_doc": docs[min(i + BLOCK, len(docs)) - 1],
                  "max_tf": max(tfs[i : i + BLOCK])}
                 for i in range(0, len(docs), BLOCK)
             ]}
        )
    return out


def as_rows(pdf):
    return [
        {k: (v.item() if hasattr(v, "item") else v) for k, v in r.items()}
        for r in pdf.to_dict("records")
    ]


@pytest.mark.parametrize("positional", [True, False])
@pytest.mark.parametrize("seed", range(8))
def test_merge_bucket_matches_reference(seed, positional):
    runs = random_runs(seed, positional)
    assert as_rows(build._merge_bucket(BLOCK)(runs)) == reference_merge(runs, positional)


@pytest.mark.parametrize("flush", [1, 5, 37])
def test_merge_bucket_chunked_equals_unchunked(monkeypatch, flush):
    runs = pd.concat([random_runs(s, True) for s in range(4)], ignore_index=True)
    whole = as_rows(build._merge_bucket(BLOCK)(runs))
    passes = []

    def spy(frames, *args):
        out = decode_many(frames, *args)
        passes.append(int(out[0].sum()))
        return out

    monkeypatch.setattr(build, "FLUSH_SIZE", flush)
    monkeypatch.setattr(build, "decode_many", spy)
    assert as_rows(build._merge_bucket(BLOCK)(runs)) == whole
    # a pass holds at most FLUSH_SIZE postings unless one term alone is larger
    big = set(runs.groupby("term")["df"].sum()[lambda d: d > flush])
    assert len(passes) > 1
    assert all(n <= flush or n in big for n in passes)
