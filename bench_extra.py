"""Round-6 auxiliary benchmark: isolated operator timings + calibration.

``bench.py`` is the driver-facing headline benchmark and is frozen for
measurement; this harness provides the per-operator evidence the
optimization notes (OPTIMIZATION_r06.md) cite:

* a no-Spark CPU calibration loop interleaved between keys, so every
  number can be normalized against host/co-tenant noise (the sandbox
  shows hour-scale ±50% capability swings — BENCH/BASELINE.md);
* noop-sink isolation (optimization guide §1.4) for the expensive
  pipeline operators, so the computation is timed, not the collect;
* per-stage build timings via the IR_BUILD_DEBUG hook.

Writes the full JSON to ``BENCH/extra_last_run.json`` and prints a
compact one-line summary.

``python bench_extra.py codec`` instead runs the no-Spark codec floor:
``decode_many``, ``encode_many`` and the merge kernel timed in-process
on a fixed, seeded in-memory run set, printed as one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def calibrate(n: int = 8_000_000) -> float:
    """Single-core work units/second (pure Python loop, no Spark)."""
    t0 = time.time()
    x = 0
    for i in range(n):
        x += i * i
    return round(n / (time.time() - t0) / 1e6, 2)  # M units/s


def codec_runs(seed: int = 5, n_docs: int = 800, vocab: int = 2000):
    """A seeded in-memory run set shaped like a small code-corpus build:
    ~110 Zipf tokens per doc, 8 tokenize tasks over contiguous doc
    ranges, 4 doc-range buckets, one positional frame per (task, term)."""
    import numpy as np
    import pandas as pd

    from informationretrieval_en_people_cn_spark.functions.codec import encode_many

    rng = np.random.default_rng(seed)
    p = 1.0 / (np.arange(vocab) + 1.7) ** 1.05
    lens = rng.integers(40, 180, n_docs)
    doc = np.repeat(np.arange(n_docs, dtype=np.uint64), lens)
    term = rng.choice(vocab, size=doc.size, p=p / p.sum())
    pos = np.arange(doc.size) - np.repeat(np.cumsum(lens) - lens, lens)
    task = doc.astype(np.int64) * 8 // n_docs
    order = np.lexsort((pos, doc, term, task))
    task, term, doc, pos = task[order], term[order], doc[order], pos[order]
    # one posting per (task, term, doc); one frame per (task, term)
    new_post = np.concatenate(([True], (term[1:] != term[:-1]) | (doc[1:] != doc[:-1])))
    starts = np.flatnonzero(new_post)
    tfs = np.diff(np.append(starts, doc.size))
    p_task, p_term, p_doc = task[starts], term[starts], doc[starts]
    new_frame = np.concatenate(([True], (p_term[1:] != p_term[:-1]) | (p_task[1:] != p_task[:-1])))
    f_starts = np.flatnonzero(new_frame)
    df = np.diff(np.append(f_starts, p_doc.size))
    return pd.DataFrame(
        {
            "term": [f"t{t}" for t in p_term[f_starts]],
            "salt": p_task[f_starts] // 2,
            "first_doc": p_doc[f_starts].astype(np.int64),
            "df": df,
            "cf": np.add.reduceat(tfs, f_starts),
            "frame": encode_many(df, p_doc, tfs, pos.astype(np.uint64)),
        }
    )


def codec_main() -> None:
    """No-Spark layer floor of the codec and the merge kernel (CPU s)."""
    from informationretrieval_en_people_cn_spark.functions.codec import (
        decode_frames,
        decode_many,
        encode_many,
    )
    from informationretrieval_en_people_cn_spark.operators.build import _merge_bucket

    runs = codec_runs()
    frames = list(runs["frame"])
    out: dict = {"cal_m_units_per_s": [calibrate()], "frames": len(frames),
                 "buckets": int(runs["salt"].nunique())}
    t0 = time.process_time()
    counts, d, t, p = decode_many(frames)
    out["decode_s"] = round(time.process_time() - t0, 4)
    t0 = time.process_time()
    encode_many(counts, d, t, p)
    out["encode_s"] = round(time.process_time() - t0, 4)
    # the same frames one call each: the fixed per-call cost batching removes
    t0 = time.process_time()
    for f in frames:
        decode_frames(f)
    out["decode_per_frame_s"] = round(time.process_time() - t0, 4)
    merge = _merge_bucket(128)
    t0 = time.process_time()
    rows = sum(len(merge(g)) for _, g in runs.groupby("salt"))
    out["merge_s"] = round(time.process_time() - t0, 4)
    out["postings"] = int(d.size)
    out["merged_rows"] = rows
    out["decode_mpostings_per_s"] = round(d.size / max(out["decode_s"], 1e-9) / 1e6, 2)
    out["encode_mpostings_per_s"] = round(d.size / max(out["encode_s"], 1e-9) / 1e6, 2)
    out["cal_m_units_per_s"].append(calibrate())
    print(json.dumps(out))


def main() -> None:
    from pyspark.sql import functions as F

    from informationretrieval_en_people_cn_spark.operators import pipeline as pl
    from informationretrieval_en_people_cn_spark.operators.build import build_index
    from informationretrieval_en_people_cn_spark.session import get_spark, scaled
    from informationretrieval_en_people_cn_spark.sources.corpus import (
        documents_as_corpus,
    )

    spark = get_spark(
        app_name="bench-extra", cores=CPUS, shuffle_partitions=max(CPUS, 16)
    )
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"sf": SF_DIR, "cpus": CPUS, "cal_m_units_per_s": []}

    def cal():
        out["cal_m_units_per_s"].append(calibrate())

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def timed(key, fn):
        cal()
        spark.sparkContext.setJobDescription(key)
        t0 = time.time()
        fn()
        out[key] = round(time.time() - t0, 3)
        spark.sparkContext.setJobDescription(None)

    # build with per-stage marks
    corpus = documents_as_corpus(spark, SF_DIR)
    bdir = tempfile.mkdtemp(prefix="ir_bx_")
    stage_log = os.path.join(bdir, "stages.log")
    os.environ["IR_BUILD_DEBUG"] = stage_log
    timed(
        "build_sec",
        lambda: build_index(
            spark, corpus, bdir, slices=4, salt=4, store_positions=False
        ),
    )
    os.environ.pop("IR_BUILD_DEBUG", None)
    out["build_stages"] = {}
    if os.path.exists(stage_log):
        for line in open(stage_log):
            body = line.strip().removeprefix("[build] ")
            label, _, val = body.rpartition(": ")
            if label and val.endswith("s"):
                out["build_stages"][label] = float(val[:-1])

    docs = scaled(spark.read.parquet(f"{SF_DIR}/documents.parquet"))
    timed(
        "ngram_capped_noop",
        lambda: noop(
            pl.ngram_jaccard_pairs(docs, n=2, threshold=0.05, max_shingle_df=200)
        ),
    )
    timed(
        "ngram_exact_noop",
        lambda: noop(
            pl.ngram_jaccard_pairs(docs, n=2, threshold=0.05, max_shingle_df=None)
        ),
    )
    timed(
        "minhash_sigs_md5_noop",
        lambda: noop(
            pl.minhash_signatures(docs, num_hashes=64, shingle_n=2, hash_fn="md5")
        ),
    )
    timed(
        "minhash_sigs_blake2b_noop",
        lambda: noop(
            pl.minhash_signatures(
                docs, num_hashes=64, shingle_n=2, hash_fn="blake2b"
            )
        ),
    )
    timed(
        "decontaminate_noop",
        lambda: noop(
            pl.decontaminate(docs, docs.filter(F.col("doc_id") % 29 == 0), n=5)
        ),
    )
    cal()

    import shutil

    shutil.rmtree(bdir, ignore_errors=True)
    spark.stop()
    os.makedirs(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH"), exist_ok=True)
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH", "extra_last_run.json"
    )
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps({k: v for k, v in out.items() if k != "build_stages"}))


if __name__ == "__main__":
    if sys.argv[1:] == ["codec"]:
        codec_main()
    else:
        main()
