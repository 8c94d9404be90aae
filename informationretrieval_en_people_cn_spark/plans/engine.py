"""Query engine: leaf operators, boolean algebra, BM25 top-k (Q1-Q8).

Rebuild of ``/root/reference/searchengine/SearchEngine.py``.  Scoring is
BM25 (north_rule; replaces the reference's Dirichlet query-likelihood,
SearchEngine.py:80-128) with the Lucene idf variant:

    idf(t)  = ln(1 + (N - df + 0.5)/(df + 0.5))
    tfp(t,d)= tf*(k1+1) / (tf + k1*(1 - b + b*doclen/avgdl))
    score   = Σ_t idf(t) * tfp(t, d)

Two physical strategies:

* **Distributed plan** (default): filter the term-sorted index to the
  query terms (parquet min/max pruning = the Spark-native seek list,
  reference DAWG SearchEngine.py:61-63) → numpy-decode postings in
  `mapInPandas` → broadcast-join per-term idf → shuffle-join doclen →
  canonical-order float64 sum per doc (bit-stable across parallelism:
  `aggregate(array_sort(collect_list(...)))`) → `orderBy().limit(k)`
  which Catalyst plans as TakeOrderedAndProject (the reference's
  bounded heap, SearchEngine.py:282-292).
* **WAND fast path** (:func:`wand_topk`): document-at-a-time traversal
  with block-max skipping over decoded numpy postings — the reference's
  lockstep DAAT merge (SearchEngine.py:94-126) upgraded with pruning.
  Used for low-latency single queries when doclens fit in a broadcast;
  tested equal to the exhaustive plan.
"""

from __future__ import annotations

import heapq
import math

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.analyze import analyze_text
from ..functions.codec import decode_frames
from . import querytree as qt

_DECODED_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("tf", T.LongType(), False),
    ]
)


# Tiny driver-side relations go through one Arrow batch instead of a
# defaultParallelism-slice parallelize job — see session.local_rows_df.
from ..session import local_rows_df as _local_df  # noqa: E402


# ---- executor-local posting-frame decode cache (serving mode) ---------
#
# Spark reuses python worker processes across tasks
# (spark.python.worker.reuse, default true), so a module-level LRU
# survives between queries on the same executor.  A serving workload's
# term distribution is Zipf — the head terms' frames decode on almost
# every query; caching the decoded (doc_id, tf[, positions]) arrays
# turns that repeat work into a dict hit, exactly the posting-list /
# filter cache every production IR stack keeps (Lucene query cache, OS
# page cache over postings).  Keyed by (index_dir, snapshot version,
# term, bucket, want_positions): snapshots are immutable, a refresh
# bumps the version so stale entries are never served (they age out of
# the LRU).  Byte-budgeted per worker (IR_FRAME_CACHE_MB, default 256);
# arrays are returned read-only.  Opt-in per engine (frame_cache=True)
# so measurements stay honest by default.
_FRAME_CACHE: dict = {}
_FRAME_CACHE_BYTES = [0]
_FRAME_CACHE_STATS = {"hits": 0, "misses": 0}


def _frame_cache_budget() -> int:
    import os

    return int(os.environ.get("IR_FRAME_CACHE_MB", "256")) << 20


def _cached_decode(tag, term, bucket, blob: bytes, want_positions: bool = False):
    """decode_frames through the worker-local LRU; ``tag=None``
    bypasses.  The key is CONTENT-ADDRESSED — it includes the blob's
    length and (per-process SipHash) hash — so even a hypothetical
    second frame under the same (term, bucket), or a snapshot mixup,
    can never serve wrong arrays: different bytes → different key."""
    if tag is None:
        return decode_frames(blob, want_positions=want_positions)
    key = (tag, term, int(bucket), want_positions, len(blob), hash(blob))
    hit = _FRAME_CACHE.pop(key, None)
    if hit is not None:
        _FRAME_CACHE[key] = hit  # move to MRU end (dicts keep order)
        _FRAME_CACHE_STATS["hits"] += 1
        return hit[0]
    _FRAME_CACHE_STATS["misses"] += 1
    out = decode_frames(blob, want_positions=want_positions)
    nbytes = sum(a.nbytes for a in out if isinstance(a, np.ndarray))
    for a in out:
        if isinstance(a, np.ndarray):
            a.setflags(write=False)  # shared across queries: immutable
    budget = _frame_cache_budget()
    if nbytes > budget:
        # an entry that can never fit must not flush the hot LRU on its
        # way to being rejected (ADVICE r5)
        return out
    while _FRAME_CACHE and _FRAME_CACHE_BYTES[0] + nbytes > budget:
        oldest = next(iter(_FRAME_CACHE))  # insertion order = LRU end
        _, old_bytes = _FRAME_CACHE.pop(oldest)
        _FRAME_CACHE_BYTES[0] -= old_bytes
    _FRAME_CACHE[key] = (out, nbytes)
    _FRAME_CACHE_BYTES[0] += nbytes
    return out


def decode_postings_df(index_rows: DataFrame) -> DataFrame:
    """(term, postings:binary) -> (term, doc_id, tf) rows, numpy decode."""

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            frames = []
            for term, buf in zip(pdf["term"], pdf["postings"]):
                d, t, _ = decode_frames(buf, want_positions=False)
                frames.append(
                    pd.DataFrame(
                        {
                            "term": term,
                            "doc_id": d.astype(np.int64),
                            "tf": t.astype(np.int64),
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    return index_rows.select("term", "postings").mapInPandas(gen, _DECODED_SCHEMA)


def bm25_idf(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


class _FastFallback(Exception):
    """Raised when a query exceeds the fast path's Σdf budget — the
    caller falls back to the distributed plan."""


class _ServingFallback(Exception):
    """Raised during serving-plan compilation when a leaf cannot be
    served bucket-locally (reply_to, missing caches, or a substring
    phrase whose verified set exceeds the collect budget) — the
    dispatcher falls back to the distributed plan."""


_EMPTY_IDS = np.empty(0, dtype=np.int64)


class _BucketFrames:
    """One bucket's decoded term frames (built inside the serving
    kernels' mapInPandas).  Gives docID sets per term and, for indexes
    built with ``store_positions=True``, per-(term, doc) position
    lists — everything the bucket-local boolean/phrase/DAAT evaluation
    needs, decoded once from the shuffled compressed frames.

    ``pos_terms`` selects which terms' position payloads are decoded:
    on a positional index every frame CARRIES positions (≈ Σtf values),
    but only phrase-leaf terms need them materialized — for everything
    else the codec skips the payload (want_positions=False), so
    keyword / boolean / DAAT plans on a positional index pay the byte
    scan, not the position decode."""

    def __init__(
        self,
        frames,
        pos_terms: frozenset | None = None,
        cache_tag=None,
        bucket: int = -1,
    ):
        self.by_term: dict[str, list] = {}
        for fr in frames:
            term = fr["term"]
            want = pos_terms is None or term in pos_terms
            d, t, p = _cached_decode(
                cache_tag, term, bucket, bytes(fr["postings"]),
                want_positions=want,
            )
            d = d.astype(np.int64)
            tl = t.astype(np.int64)
            ends = np.cumsum(tl)
            self.by_term.setdefault(term, []).append(
                (d, tl, p.astype(np.int64), ends - tl, ends)
            )

    def ids(self, term: str) -> np.ndarray:
        fl = self.by_term.get(term)
        if not fl:
            return _EMPTY_IDS
        if len(fl) == 1:
            return fl[0][0]
        return np.unique(np.concatenate([f[0] for f in fl]))

    def union_ids(self, terms: list[str]) -> np.ndarray:
        arrs = [a for a in (self.ids(t) for t in set(terms)) if a.size]
        if not arrs:
            return _EMPTY_IDS
        if len(arrs) == 1:
            return arrs[0]
        return np.unique(np.concatenate(arrs))

    def doc_pos_keys(self, term: str, cand: np.ndarray) -> np.ndarray:
        """(doc, position) pairs of ``term`` restricted to the sorted
        candidate docs ``cand``, packed as ``idx(cand)·2³² + position``
        int64 keys (positions are bounded by doclen ≪ 2³²).  Sorted
        ascending — the vectorized adjacency chain operates on these.
        Raises if the index was built without positions."""
        out = []
        for d, tl, p, starts, ends in self.by_term.get(term, ()):
            loc = np.searchsorted(cand, d)
            sel = (loc < cand.size) & (cand[np.minimum(loc, cand.size - 1)] == d)
            cnt = tl[sel]
            total = int(cnt.sum())
            if total == 0:
                continue
            if p.size == 0:
                raise ValueError(
                    "positional phrase query needs an index built "
                    "with store_positions=True"
                )
            st = starts[sel]
            offs = np.cumsum(cnt) - cnt
            flat = np.repeat(st - offs, cnt) + np.arange(total)
            keys = np.repeat(loc[sel], cnt) * _POS_SHIFT + p[flat]
            out.append(keys)
        if not out:
            return _EMPTY_IDS
        if len(out) == 1:
            return out[0]  # docs ascend, positions ascend per doc
        return np.unique(np.concatenate(out))


_POS_SHIFT = np.int64(1) << np.int64(32)


def _sorted_member(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Boolean mask of which elements of sorted ``a`` occur in sorted
    ``b`` — one binary search per element (the doc_pos_keys idiom)
    instead of np.isin's concatenate+argsort of both arrays.  Every
    kernel id/key array here is sorted by construction (delta decode is
    strictly increasing; multi-frame unions go through np.unique; set
    ops preserve order)."""
    if a.size == 0 or b.size == 0:
        return np.zeros(a.size, dtype=bool)
    loc = np.searchsorted(b, a)
    np.minimum(loc, b.size - 1, out=loc)
    return b[loc] == a


def _pos_phrase_bucket_ids(
    bf: _BucketFrames, seq: list[str], sfx_terms: list[str] | None
) -> np.ndarray:
    """Bucket-local positional phrase(+prefix) match — the same per-doc
    adjacency semantics as phrase_docids_positional's verify, fully
    vectorized: candidate docs = intersection of the phrase terms'
    posting sets; adjacency runs over packed (doc, position) int64 keys
    (+1 on the key = next position in the SAME doc, so one vectorized
    membership probe per phrase slot replaces the per-doc python
    loop)."""
    cand = None
    for t in set(seq):
        ids = bf.ids(t)
        cand = ids if cand is None else cand[_sorted_member(cand, ids)]
        if cand.size == 0:
            return _EMPTY_IDS
    keys: dict[str, np.ndarray] = {}
    for t in set(seq) | set(sfx_terms or ()):
        keys[t] = bf.doc_pos_keys(t, cand)
    cur = keys[seq[0]]
    for i, t in enumerate(seq[1:], start=1):
        cur = cur[_sorted_member(cur + i, keys[t])]
        if cur.size == 0:
            return _EMPTY_IDS
    if sfx_terms is not None:
        sk = [keys[t] for t in set(sfx_terms) if keys[t].size]
        if not sk:
            return _EMPTY_IDS
        sks = sk[0] if len(sk) == 1 else np.unique(np.concatenate(sk))
        cur = cur[_sorted_member(cur + len(seq), sks)]
        if cur.size == 0:
            return _EMPTY_IDS
    return cand[np.unique(cur >> np.int64(32))]


def _leaf_bucket_ids(bf: _BucketFrames, spec: tuple, bucket: int) -> np.ndarray:
    kind = spec[0]
    if kind == "terms":
        return bf.union_ids(spec[1])
    if kind == "ids":  # pre-verified substring-phrase docs, per bucket
        return spec[1].get(bucket, _EMPTY_IDS)
    if kind == "pos_phrase":
        return _pos_phrase_bucket_ids(bf, spec[1], spec[2])
    raise ValueError(kind)


def _eval_bucket_tree(bf: _BucketFrames, tree: list, bucket: int) -> np.ndarray:
    """OR-of-ANDs over bucket-local leaf id sets (doc membership is
    bucket-local, so per-bucket set algebra composes exactly)."""
    res = None
    for leaves in tree:
        acc = None
        for spec, negated in leaves:
            li = _leaf_bucket_ids(bf, spec, bucket)
            if acc is None:
                acc = li
            elif negated:
                acc = acc[~_sorted_member(acc, li)]
            else:
                acc = acc[_sorted_member(acc, li)]
        res = acc if res is None else np.union1d(res, acc)
    return res if res is not None else _EMPTY_IDS


def _local_topk(
    ids: np.ndarray, scores: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Exact bucket-local top-k under the GLOBAL result order
    (score desc, doc_id asc).  ``np.partition`` finds the k-th score in
    O(n); score ties at the boundary are kept and resolved by a lexsort
    over only the (small) surviving set, so the k rows returned are
    precisely the ones the global TakeOrdered would keep from this
    bucket."""
    if ids.size <= k:
        return ids, scores
    kth = np.partition(scores, ids.size - k)[ids.size - k]
    keep = scores >= kth  # >= keeps boundary ties for the doc_id tiebreak
    cid, cs = ids[keep], scores[keep]
    order = np.lexsort((cid, -cs))[:k]
    return cid[order], cs[order]


class SearchEngine:
    """Loads an index built by operators.build.build_index and serves
    the reference query language (14 shapes, SURVEY.md §5)."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        *,
        use_stemmer: bool = True,
        k1: float = 1.2,
        b: float = 0.75,
        edges: DataFrame | None = None,
        stop_cf_fraction: float | None = None,
        corpus: DataFrame | None = None,
        cache_term_stats: bool = False,
        cache_doclens: bool = False,
        cache_content: bool = False,
        content_cache_max_bytes: int = 256 << 20,
        fast_path: bool | None = None,
        fast_max_postings: int = 5_000_000,
        use_blockmax: bool | None = None,
        blockmax_min_sumdf: int = 5_000_000,
        persist_doclens: bool = False,
        decode_repartition_min_sumdf: int = 2_000_000,
        phrase_via_positions: bool = False,
        serving_phrase_collect_max: int = 200_000,
        at_version: int | None = None,
        frame_cache: bool = False,
    ):
        self.spark = spark
        self.index_dir = index_dir
        self.use_stemmer = use_stemmer
        self.k1, self.b = k1, b
        self.edges = edges  # (src_doc_id, dst_doc_id) id-lookup relation
        self.stop_cf_fraction = stop_cf_fraction
        self.decode_repartition_min_sumdf = decode_repartition_min_sumdf
        self.fast_max_postings = fast_max_postings
        # distributed block-max pruning for pure-keyword ranked top-k.
        # None = auto: with cached term stats, queries whose Σdf crosses
        # blockmax_min_sumdf take the pruning plan (two extra metadata
        # round-trips only pay off on big skewed indexes); small queries
        # keep the 1-job exhaustive plan.  Results identical — tested.
        self.use_blockmax = use_blockmax
        self.blockmax_min_sumdf = blockmax_min_sumdf
        self.last_blockmax: dict | None = None
        # phrase semantics switch: False (default) = the reference's
        # literal-substring verification against the document store;
        # True = TRUE positional matching on the stored position lists
        # (requires store_positions=True at build).  Positional phrase
        # matching is doc-local, hence bucket-local — with it the
        # serving plans answer phrase shapes with zero content access.
        self.phrase_via_positions = phrase_via_positions
        # substring-mode serving: a phrase leaf's verified ids are
        # collected and joined bucket-locally; bounded by the rarest
        # phrase term's df — over this budget the query falls back to
        # the distributed plan
        self.serving_phrase_collect_max = serving_phrase_collect_max
        # cache/strategy knobs, kept so reload() can rebuild the same
        # caches against a new snapshot
        self._corpus = corpus
        self._cache_term_stats = cache_term_stats
        self._cache_doclens = cache_doclens
        self._cache_content = cache_content
        self._content_cache_max_bytes = content_cache_max_bytes
        self._fast_path_req = fast_path
        self._persist_doclens = persist_doclens
        # executor-local decoded-frame LRU (serving hot-term cache):
        # keyed by snapshot version, so refresh+reload never serves
        # stale postings; opt-in to keep default measurements honest
        self.frame_cache = frame_cache
        # time travel: pin every query to a historical snapshot
        # (Iceberg VERSION AS OF).  A pinned engine never follows the
        # pointer — reload() is a no-op — and opening a GC'd version
        # fails loudly at construction (IndexPaths raises).
        self.at_version = at_version
        self._doclens_cluster = None
        self._bucket_doclens = None
        self._load()

    def _load(self) -> None:
        """Resolve the snapshot pointer and (re)build every
        snapshot-derived table handle and cache.  Called at construction
        and by :meth:`reload` after ``refresh_index`` commits a new
        snapshot."""
        from ..operators.build import IndexPaths

        spark, corpus = self.spark, self._corpus
        # pointer-aware (snapshot commits); at_version pins time travel
        paths = IndexPaths(self.index_dir, version=self.at_version)
        self.version = paths.version
        self.index = spark.read.parquet(paths.index)
        self.docs = spark.read.parquet(paths.docs)
        # document store for phrase verification: the docs table when it
        # carries content (small scale), else the source corpus table
        # (at scale content is not duplicated into the docs table)
        if "content" in self.docs.columns:
            self.content_df = self.docs.select("doc_id", "content")
        elif corpus is not None:
            self.content_df = corpus.select("doc_id", "content")
        else:
            self.content_df = None
        st = spark.read.parquet(paths.stats).collect()[0]
        self.n_docs = st.n_docs
        self.avgdl = float(st.avg_doclen or 0.0) or 1.0
        self.collection_term_count = st.collection_term_count or 0
        # bucket grid (lo, span, count): present since the stats table
        # started carrying the build's salting params.  With it, doc →
        # bucket is O(1) arithmetic (the same _range_bucket float math
        # the build salted on); without it (older index) serving init
        # falls back to interval lookup over index metadata.
        srow = st.asDict()
        self._grid: tuple[int, int, int] | None = None
        if srow.get("bucket_count"):
            self._grid = (
                int(srow["bucket_lo"]),
                int(srow["bucket_span"]),
                int(srow["bucket_count"]),
            )
        # serving mode: keep (doc_id, doclen) cluster-cached and
        # PRE-HASH-PARTITIONED on the score join's key.  Every ranked
        # query joins decoded postings against doclens; without this the
        # doclen side re-scans the docs table and re-shuffles |corpus|
        # rows per query.  With it, Spark sees the cached child's
        # HashPartitioning(doc_id) already satisfies the join's
        # distribution — only the decoded postings move.  Memory is
        # 16 B/doc across the cluster; at 10^12 docs that is ~16 TB
        # spread over executors (or spilled), still far below
        # re-shuffling it per query.
        self._doclens_cluster = None
        self._bucket_doclens = None
        self._bexpr = None  # doc_id -> bucket expr (serving mode only)
        if self._persist_doclens:
            n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
            self._doclens_cluster = (
                self.docs.select("doc_id", "doclen")
                .repartition(n_parts, "doc_id")
                .persist()
            )
            # per-bucket doclen arrays for the bucket-local DAAT plan
            # (score_terms_bucketed): bucket → (sorted doc_ids, doclens).
            # Preferred route: the stats table carries the build's grid
            # (lo, span, count), so assignment is the same O(1)
            # _range_bucket arithmetic partition_runs salted on — a
            # cluster-scale grid (thousands of buckets) costs the same
            # one expression, not an O(buckets) CASE chain that blows
            # Catalyst codegen depth.  Legacy route (pre-grid stats):
            # interval lookup over index metadata.  Memory: |docs|
            # struct entries spread over buckets; at 10^12 docs the
            # bucket count scales with the cluster (slices × salt),
            # keeping each array bounded.
            if self._grid is not None:
                from ..operators.build import _range_bucket

                glo, gspan, gn = self._grid
                bexpr = _range_bucket("doc_id", glo, gspan, gn)
            else:
                rng = (
                    self.index.groupBy("bucket")
                    .agg(
                        F.min("first_doc").alias("lo"),
                        F.max(
                            F.expr("blocks[size(blocks) - 1].last_doc")
                        ).alias("hi"),
                    )
                    .collect()
                )
                bexpr = F.lit(None).cast("int")
                for r in rng:  # doc ranges are disjoint by construction
                    bexpr = F.when(
                        (F.col("doc_id") >= r.lo) & (F.col("doc_id") <= r.hi),
                        F.lit(int(r.bucket)),
                    ).otherwise(bexpr)
            self._bexpr = bexpr  # reused by metadata-scoped serving
            z = (
                self.docs.select("doc_id", "doclen")
                .withColumn("bucket", bexpr)
                .where(F.col("bucket").isNotNull())
                .groupBy("bucket")
                .agg(
                    F.array_sort(
                        F.collect_list(F.struct("doc_id", "doclen"))
                    ).alias("z")
                )
            )
            self._bucket_doclens = (
                z.select(
                    "bucket",
                    F.col("z.doc_id").alias("dl_ids"),
                    F.col("z.doclen").alias("dl_lens"),
                )
                .repartition(n_parts, "bucket")
                .persist()
            )
        # optional driver-side term dictionary (term -> (df, cf)): removes
        # the per-query planning jobs (stop-term lookup, rarest-term sort).
        # Feasible while |vocab| fits driver memory — at web scale leave
        # off and planning stays as (pruned, tiny) Spark jobs.
        self.term_stats: dict[str, tuple[int, int]] | None = None
        self._term_arr: list[str] | None = None
        # driver posting store (term -> its compressed frames): the
        # fast path decodes from it instead of running a pruned scan
        # job per query.  Loaded only when the whole index's
        # Σdf — bounded by collection_term_count = Σdoclen — fits the
        # per-query fast_max_postings budget, so it never holds more
        # postings than one query at the edge of that budget decodes.
        self._frames: dict[str, bytes] | None = None
        want_store = (
            self._fast_path_req is not False
            and self._cache_term_stats
            and self._cache_doclens
            and self.collection_term_count <= self.fast_max_postings
        )
        if want_store:
            # one scan feeds both the store and the term dictionary (the
            # df/cf sums over each term's bucket shards), in place of
            # the groupBy("term") job below
            pdf = self.index.select("term", "df", "cf", "postings").toPandas()
            sums = pdf.groupby("term", sort=False)[["df", "cf"]].sum()
            self.term_stats = {
                t: (int(df), int(cf))
                for t, df, cf in zip(sums.index, sums["df"], sums["cf"])
            }
            shards: dict[str, list[bytes]] = {}
            for t, blob in zip(pdf["term"], pdf["postings"]):
                shards.setdefault(t, []).append(bytes(blob))
            # a term's bucket shards concatenate into one valid frame
            # stream (absolute first doc); _postings_arrays sorts the
            # decoded doc ids
            self._frames = {t: b"".join(v) for t, v in shards.items()}
        elif self._cache_term_stats:
            self.term_stats = {
                r.term: (r.df, r.cf)
                for r in self.index.groupBy("term")
                .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
                .collect()
            }
        if self.term_stats is not None:
            # sorted vocabulary for O(log V) prefix expansion (the
            # reference DAWG's keys(prefix)); a linear dict scan was the
            # serving hot path's only per-query full-vocab pass
            self._term_arr = sorted(self.term_stats)
        # optional driver-side doclen arrays (sorted ids + lengths):
        # with term_stats this enables the driver fast path (BM25 needs
        # every scored doc's length without a join).  Same memory guard
        # as term_stats — opt in while n_docs fits.
        self._doclen_ids: np.ndarray | None = None
        self._doclen_vals: np.ndarray | None = None
        if self._cache_doclens:
            rows = self.docs.select("doc_id", "doclen").collect()
            ids = np.array([r.doc_id for r in rows], dtype=np.int64)
            vals = np.array([r.doclen for r in rows], dtype=np.int64)
            order = np.argsort(ids)
            self._doclen_ids, self._doclen_vals = ids[order], vals[order]
        # optional driver-side document store (lowercased content) for
        # zero-job phrase verification.  Guarded by a byte budget checked
        # BEFORE the collect (one tiny agg job at init); over budget the
        # cache stays off and phrase-verify keeps its pruned-scan job.
        self._content_cache: dict[int, str] | None = None
        if self._cache_content and self.content_df is not None:
            total = self.content_df.agg(
                F.sum(F.length("content")).alias("b")
            ).collect()[0].b
            if total is not None and total <= self._content_cache_max_bytes:
                self._content_cache = {
                    r.doc_id: (r.content or "").lower()
                    for r in self.content_df.collect()
                }
        # fast path: evaluate small queries driver-side over decoded
        # postings (from the posting store when it loaded, else one
        # pruned scan) — the reference's own execution model, kept
        # behind a Σdf budget; the distributed plan is always the
        # fallback and the default when the caches are absent.
        fast_path = self._fast_path_req
        if fast_path is None:
            fast_path = self.term_stats is not None and self._doclen_ids is not None
        elif fast_path and (self.term_stats is None or self._doclen_ids is None):
            # ADVICE r2: without BOTH caches the fast path would score
            # every doc with doclen 0 (silently wrong BM25) or crash on
            # term_stats.get — refuse loudly instead of degrading.
            raise ValueError(
                "fast_path=True requires cache_term_stats=True and "
                "cache_doclens=True (fast scoring needs both caches)"
            )
        self.fast_path = fast_path

    def reload(self) -> bool:
        """Re-resolve the snapshot pointer; when ``refresh_index`` has
        committed a newer version, swap the table handles and rebuild
        every cache this engine was configured with (term stats,
        driver doclens, content cache, serving bucket arrays),
        unpersisting the superseded cluster caches.  Returns True if a
        new snapshot was loaded, False if already current.

        A long-lived serving engine resolves the pointer ONCE at open;
        without reload it would keep serving the old version forever —
        and the refresh after next garbage-collects that version's
        directories, after which a stale engine breaks.  Call reload()
        (or poll it) after each refresh; concurrent in-flight queries
        on the old handles stay safe for exactly one refresh cycle (the
        GC keeps the immediately-previous version on disk)."""
        from ..operators.build import IndexPaths

        if self.at_version is not None:  # time-travel pin: never follow
            return False  # the pointer past the pinned snapshot
        if IndexPaths(self.index_dir).version == self.version:
            return False
        for cached in (self._doclens_cluster, self._bucket_doclens):
            if cached is not None:
                cached.unpersist()
        self._load()
        return True

    # ---- analysis (MUST mirror the build path) -------------------------
    def _q(self, text: str) -> list[str]:
        return analyze_text(text, use_stemmer=self.use_stemmer)

    # ---- leaf operators -------------------------------------------------
    def _index_rows(self, terms: list[str]) -> DataFrame:
        if not terms:
            return self.index.limit(0)
        return self.index.filter(F.col("term").isin(list(set(terms))))

    def keyword_docids(self, keyword: str) -> DataFrame:
        """Q1 (reference SearchEngine.py:216-218)."""
        terms = self._q(keyword)
        return decode_postings_df(self._index_rows(terms)).select("doc_id").distinct()

    def prefix_docids(self, prefix: str) -> DataFrame:
        """Q2 (reference SearchEngine.py:209-214): startswith pushes down
        on the term-sorted index (range pruning)."""
        p = prefix.lower()
        rows = self.index.filter(F.col("term").startswith(p))
        return decode_postings_df(rows).select("doc_id").distinct()

    def phrase_docids(self, phrase: str, suffix: str = "") -> DataFrame:
        """Q3/Q4 (reference SearchEngine.py:169-207): candidates from the
        two rarest phrase terms (df-ordered — the reference's
        selectivity planning, :189-194), verified by literal substring
        on content (positions stored but unused — reference behavior)."""
        terms = self._q(phrase)
        needle = f"{phrase} {suffix}".strip().lower()
        if not terms:
            if not suffix:
                return self.docs.limit(0).select("doc_id")
            return self.prefix_docids(suffix)
        if self.term_stats is not None:  # driver-side planning, zero jobs
            if any(t not in self.term_stats for t in set(terms)):
                return self.docs.limit(0).select("doc_id")
            rare = sorted(set(terms), key=lambda t: self.term_stats[t][0])[:2]
        else:
            stats = (
                self._index_rows(terms)
                .groupBy("term")  # hot terms span multiple doc-range rows
                .agg(F.sum("df").alias("df"))
                .orderBy("df")
                .limit(2)
                .collect()
            )
            if len(stats) < len(set(terms)):
                return self.docs.limit(0).select("doc_id")  # a term is missing
            rare = [r.term for r in stats]
        # intersect the (≤2) rarest terms' postings in ONE scan+decode:
        # (term, doc) rows are unique (bucket doc-ranges are disjoint),
        # so docs holding every rare term are exactly those whose
        # decoded row count equals |rare| — no per-term scan, no
        # semi-join exchange (guide §2.4, same shape as the boolean
        # one-pass plan)
        if len(rare) == 1:
            cand = decode_postings_df(self._index_rows(rare)).select("doc_id")
        else:
            cand = (
                decode_postings_df(self._index_rows(rare))
                .select("term", "doc_id")
                .groupBy("doc_id")
                .agg(F.count("*").alias("nt"))
                .filter(F.col("nt") == len(rare))
                .select("doc_id")
            )
        if self.content_df is None:
            raise ValueError(
                "phrase verification needs a document store: docs table "
                "has no content column and no corpus was provided"
            )
        # route the verify scan by the rarest term's df (cached stats —
        # zero extra jobs).  df bounds |cand|, so each route is guarded:
        min_df = (
            min(self.term_stats[t][0] for t in rare)
            if self.term_stats is not None
            else None
        )
        if min_df is not None and min_df <= 1000:
            # driver-scale: collect the pruned intersection and verify
            # via an IN-list scan — the predicate pushes into the
            # doc_id-sorted parquet (file/row-group pruning), the same
            # route the driver fast path uses; no content shuffle, no
            # join
            ids = [int(r.doc_id) for r in cand.collect()]
            if not ids:
                return self.docs.limit(0).select("doc_id")
            verified = self.content_df.filter(F.col("doc_id").isin(ids))
        elif min_df is not None and min_df <= 2_000_000:
            # mid-scale: keep cand distributed but broadcast it, so the
            # content table is scanned once and never shuffled (a plain
            # join would sort-merge-shuffle the whole document store)
            verified = self.content_df.join(F.broadcast(cand), "doc_id")
        else:
            # unbounded (no cached stats, or Zipf-head phrase terms):
            # fully distributed join — AQE picks the strategy
            verified = cand.join(self.content_df, "doc_id")
        verified = verified.filter(F.contains(F.lower("content"), F.lit(needle)))
        return verified.select("doc_id")

    def _decode_positional(self, rows: DataFrame) -> DataFrame:
        """Decode encoded index rows to (term, doc_id, positions) rows
        (Arrow-batched mapInPandas; raises if the index was built
        without ``store_positions=True``)."""
        import pandas as pd

        dec_schema = T.StructType(
            [
                T.StructField("term", T.StringType(), False),
                T.StructField("doc_id", T.LongType(), False),
                T.StructField("positions", T.ArrayType(T.LongType()), False),
            ]
        )

        def dec(batches):
            for pdf in batches:
                out_t, out_d, out_p = [], [], []
                for term, buf in zip(pdf["term"], pdf["postings"]):
                    d, t, p = decode_frames(bytes(buf))
                    if p.size == 0:
                        raise ValueError(
                            "positional phrase query needs an index built "
                            "with store_positions=True"
                        )
                    ends = np.cumsum(t).astype(np.int64)
                    starts = ends - t.astype(np.int64)
                    for i in range(len(d)):
                        out_t.append(term)
                        out_d.append(int(d[i]))
                        out_p.append(p[starts[i] : ends[i]].astype(np.int64).tolist())
                yield pd.DataFrame(
                    {"term": out_t, "doc_id": out_d, "positions": out_p}
                )

        return rows.select("term", "postings").mapInPandas(dec, dec_schema)

    def phrase_docids_positional(self, phrase: str) -> DataFrame:
        """TRUE positional phrase matching from the stored position
        lists — the capability the reference indexes for but never uses
        (positions stored at IndexCreator.py:95-99; verification falls
        back to substring at SearchEngine.py:201-207).

        Semantics: the doc's analyzed term sequence contains the
        phrase's analyzed term sequence contiguously.  Plan: decode the
        k phrase terms' postings WITH positions → shuffle by doc_id →
        per-doc numpy adjacency check (positions of term i+1 must
        contain p+1 for some surviving p of term i).
        """
        import pandas as pd

        terms = self._q(phrase)
        if not terms:
            return self.docs.limit(0).select("doc_id")
        rows = self.index.filter(F.col("term").isin(list(set(terms))))
        decoded = self._decode_positional(rows)

        seq = terms  # phrase term order (duplicates allowed)
        out_schema = T.StructType([T.StructField("doc_id", T.LongType(), False)])

        def verify(pdf: pd.DataFrame) -> pd.DataFrame:
            by_term: dict[str, np.ndarray] = {}
            for term, plist in zip(pdf["term"], pdf["positions"]):
                arr = np.asarray(plist, dtype=np.int64)
                by_term[term] = (
                    np.union1d(by_term[term], arr) if term in by_term else arr
                )
            if any(t not in by_term for t in seq):
                return pd.DataFrame({"doc_id": []}).astype({"doc_id": "int64"})
            cur = by_term[seq[0]]
            for i, t in enumerate(seq[1:], start=1):
                nxt = by_term[t]
                cur = cur[np.isin(cur + i, nxt)]
                if cur.size == 0:
                    break
            if cur.size:
                return pd.DataFrame({"doc_id": [int(pdf["doc_id"].iloc[0])]})
            return pd.DataFrame({"doc_id": []}).astype({"doc_id": "int64"})

        return decoded.groupBy("doc_id").applyInPandas(verify, out_schema)

    def phrase_prefix_docids_positional(self, phrase: str, suffix: str) -> DataFrame:
        """Positional phrase-prefix (Q4's positional variant): the doc's
        analyzed term sequence contains the phrase terms contiguously,
        immediately followed by a term starting with ``suffix``.  The
        reference never has this — its Q4 substring-verifies the literal
        text (SearchEngine.py:169-172,202); this matches on the stored
        position lists like :meth:`phrase_docids_positional`.

        Plan: expand the suffix over the term dictionary (zero jobs with
        cached stats — the reference's DAWG ``keys(prefix)``,
        SearchEngine.py:210); prune the expansion's ENCODED index rows
        to the doc-range buckets where the rarest phrase term occurs
        (broadcast semi-join on the bucket column — bucket is a pure
        function of doc_id, so a doc can only match where its phrase
        postings live; losing buckets are never decoded, the same grid
        the block-max plan prunes on); decode survivors with positions;
        per-doc adjacency check with the final slot satisfied by ANY
        expansion term.
        """
        import pandas as pd

        terms = self._q(phrase)
        if not terms:
            return self.prefix_docids(suffix)
        suffix_terms = self.expand_prefix(suffix)
        if not suffix_terms:
            return self.docs.limit(0).select("doc_id")
        tset = sorted(set(terms))
        if self.term_stats is not None:  # driver-side planning, zero jobs
            if any(t not in self.term_stats for t in tset):
                return self.docs.limit(0).select("doc_id")
            rare = min(tset, key=lambda t: self.term_stats[t][0])
        else:
            stats = (
                self.index.filter(F.col("term").isin(tset))
                .groupBy("term")
                .agg(F.sum("df").alias("df"))
                .orderBy("df")
                .limit(1)
                .collect()
            )
            if not stats:
                return self.docs.limit(0).select("doc_id")
            rare = stats[0].term
        phrase_rows = self.index.filter(F.col("term").isin(tset))
        rare_buckets = (
            self.index.filter(F.col("term") == rare).select("bucket").distinct()
        )
        extra = [t for t in suffix_terms if t not in set(tset)]
        sfx_rows = self.index.filter(F.col("term").isin(extra)).join(
            F.broadcast(rare_buckets), "bucket", "left_semi"
        )
        decoded = self._decode_positional(phrase_rows.unionByName(sfx_rows))

        seq = terms
        k = len(seq)
        sfx_set = frozenset(suffix_terms)
        out_schema = T.StructType([T.StructField("doc_id", T.LongType(), False)])

        def verify(pdf: pd.DataFrame) -> pd.DataFrame:
            empty = pd.DataFrame({"doc_id": []}).astype({"doc_id": "int64"})
            by_term: dict[str, np.ndarray] = {}
            for term, plist in zip(pdf["term"], pdf["positions"]):
                arr = np.asarray(plist, dtype=np.int64)
                by_term[term] = (
                    np.union1d(by_term[term], arr) if term in by_term else arr
                )
            if any(t not in by_term for t in seq):
                return empty
            cur = by_term[seq[0]]
            for i, t in enumerate(seq[1:], start=1):
                cur = cur[np.isin(cur + i, by_term[t])]
                if cur.size == 0:
                    return empty
            sfx_pos = [by_term[t] for t in sfx_set if t in by_term]
            if not sfx_pos:
                return empty
            cur = cur[np.isin(cur + k, np.concatenate(sfx_pos))]
            if cur.size:
                return pd.DataFrame({"doc_id": [int(pdf["doc_id"].iloc[0])]})
            return empty

        return decoded.groupBy("doc_id").applyInPandas(verify, out_schema)

    def reply_to_docids(self, target: str) -> DataFrame:
        """Q5 generalized id-lookup (the reference's ReplyTo crashes as
        shipped — SearchEngine.py:221 uses an attribute load_index never
        sets; rebuilt correctly as an equi-join over an edge relation)."""
        if self.edges is None:
            raise ValueError("no edges relation configured for ReplyTo")
        return (
            self.edges.filter(F.col("dst_doc_id") == int(target))
            .select(F.col("src_doc_id").alias("doc_id"))
            .distinct()
        )

    def _leaf_docids(self, leaf: qt.Leaf) -> DataFrame:
        if leaf.kind == "keyword":
            return self.keyword_docids(leaf.value)
        if leaf.kind == "prefix":
            return self.prefix_docids(leaf.value)
        if leaf.kind == "phrase":
            if self.phrase_via_positions and self._q(leaf.value):
                return self.phrase_docids_positional(leaf.value)
            return self.phrase_docids(leaf.value)
        if leaf.kind == "phrase_prefix":
            if self.phrase_via_positions and self._q(leaf.value):
                return self.phrase_prefix_docids_positional(
                    leaf.value, leaf.suffix
                )
            return self.phrase_docids(leaf.value, leaf.suffix)
        if leaf.kind == "reply_to":
            return self.reply_to_docids(leaf.value)
        raise ValueError(leaf.kind)

    # ---- boolean algebra (B1-B3, reference SearchEngine.py:254-270) ----
    def boolean_docids(self, node: qt.OrNode) -> DataFrame:
        # Split the OR's AND-groups: groups whose every leaf is a plain
        # term set (keyword, or prefix expandable through the cached
        # vocabulary) evaluate in ONE scan+decode+aggregation
        # (_boolean_simple_docids); the rest (phrase / reply_to /
        # uncached prefix) keep the per-leaf semi/anti-join plan.
        simple_groups, other_groups = [], []
        for and_node in node.children:
            compiled = self._compile_simple_group(and_node)
            if compiled is not None:
                simple_groups.append(compiled)
            else:
                other_groups.append(and_node)
        parts = []
        if simple_groups:
            parts.append(self._boolean_simple_docids(simple_groups))
        or_result = None
        for and_node in other_groups:
            pos = [c for c in and_node.children if not c.negated]
            neg = [c for c in and_node.children if c.negated]
            acc = self._leaf_docids(pos[0])
            for c in pos[1:]:
                acc = acc.join(self._leaf_docids(c), "doc_id", "left_semi")
            for c in neg:
                acc = acc.join(self._leaf_docids(c), "doc_id", "left_anti")
            or_result = acc if or_result is None else or_result.unionByName(acc)
        if or_result is None:
            # all groups simple: the aggregation output is already one
            # row per doc_id — no extra distinct exchange
            return parts[0]
        if parts:
            or_result = or_result.unionByName(parts[0])
        return or_result.distinct()

    def _compile_simple_group(self, and_node) -> list[tuple[list[str], bool]] | None:
        """AND-group → ``[(terms, negated), ...]`` when every leaf is a
        plain term set; None when any leaf needs its own relation
        (phrase verify, reply_to) or prefix expansion is unavailable
        (no cached vocabulary)."""
        out = []
        for c in and_node.children:
            if c.kind == "keyword":
                out.append((self._q(c.value), c.negated))
            elif c.kind == "prefix" and self._term_arr is not None:
                out.append((self.expand_prefix(c.value), c.negated))
            else:
                return None
        return out

    def _boolean_simple_docids(self, groups) -> DataFrame:
        """One-pass OR-of-ANDs over term-set leaves (distributed plan).

        The per-leaf plan paid one index scan + decode + distinct per
        leaf and one semi/anti-join exchange per AND edge (~2 Spark
        jobs per leaf under AQE).  Here ALL leaves' terms go through a
        single pruned index scan + decode, a broadcast of the tiny
        (term → group, leaf, negated) map attaches leaf membership, and
        one groupBy(doc_id) evaluates the whole tree per doc with array
        expressions over the collected (group, leaf, negated) set —
        exactly one shuffle, already-distinct output (optimization
        guide §2.4: remove shuffles outright; §2.3: shuffle a few bytes
        of leaf metadata, not per-leaf row sets).

        Semantics are identical to the join plan: a doc matches a
        positive leaf iff it holds ≥1 of the leaf's terms, matches a
        group iff it matches every positive leaf and no negated leaf,
        and matches the query iff it matches ≥1 group."""
        map_rows = []
        n_pos: list[int] = []
        for gid, leaves in enumerate(groups):
            npos = 0
            for lid, (terms, negated) in enumerate(leaves):
                if not negated:
                    npos += 1
                for t in set(terms):
                    map_rows.append((t, gid, lid, negated))
            n_pos.append(npos)
        all_terms = sorted({r[0] for r in map_rows})
        if not all_terms:
            # no leaf analyzed to a known term ⇒ nothing can match (a
            # positive leaf with an empty term set also blocks its own
            # group below: its count can never reach n_pos)
            return _local_df(self.spark, [], "doc_id long")
        if len(groups) == 1 and len(groups[0]) == 1 and not groups[0][0][1]:
            # degenerate tree — one group, one positive term-set leaf:
            # membership IS the decoded doc set; skip the leaf-map
            # machinery (one collect_set aggregate heavier than a
            # distinct, measured on the OR-with-phrase mixed shape)
            return (
                decode_postings_df(self._index_rows(all_terms))
                .select("doc_id")
                .distinct()
            )
        leaf_map = _local_df(
            self.spark, map_rows, "term string, gid int, lid int, neg boolean"
        )
        decoded = decode_postings_df(self._index_rows(all_terms)).select(
            "term", "doc_id"
        )
        hits = decoded.join(F.broadcast(leaf_map), "term").groupBy("doc_id").agg(
            F.collect_set(F.struct("gid", "lid", "neg")).alias("m")
        )
        cond = F.lit(False)
        for gid, npos in enumerate(n_pos):
            g_pos = F.size(
                F.filter("m", lambda x: (x["gid"] == gid) & ~x["neg"])
            ) == F.lit(npos)
            g_neg = ~F.exists("m", lambda x: (x["gid"] == gid) & x["neg"])
            cond = cond | (g_pos & g_neg)
        return hits.filter(cond).select("doc_id")

    def _serving_leaf(self, leaf: qt.Leaf) -> tuple[tuple, set, bool]:
        """Compile one query leaf for the bucket-local serving kernels.

        Returns ``(spec, frame_terms, needs_positions)`` where spec is
        one of ``("terms", [t...])`` (keyword / prefix / degenerate
        phrase), ``("pos_phrase", seq, sfx_terms|None)`` (positional
        phrase matching, phrase_via_positions=True), or
        ``("ids", {bucket: doc_ids})`` (substring-verified phrase,
        pre-computed via :meth:`phrase_docids_bucketed` and joined
        bucket-locally).  Raises :class:`_ServingFallback` when the
        leaf cannot be served bucket-locally (reply_to; phrase without
        cached stats / content; verified set over the collect budget)."""
        if leaf.kind == "keyword":
            t = self._q(leaf.value)
            return ("terms", t), set(t), False
        if leaf.kind == "prefix":
            t = self.expand_prefix(leaf.value)
            return ("terms", t), set(t), False
        if leaf.kind in ("phrase", "phrase_prefix"):
            sfx = leaf.suffix if leaf.kind == "phrase_prefix" else ""
            seq = self._q(leaf.value)
            if not seq:  # phrase analyzed away: prefix semantics
                t = self.expand_prefix(sfx) if sfx else []
                return ("terms", t), set(t), False
            if self.phrase_via_positions:
                sfx_terms = self.expand_prefix(sfx) if sfx else None
                if sfx and not sfx_terms:  # suffix matches no term
                    return ("terms", []), set(), False
                ft = set(seq) | set(sfx_terms or ())
                return ("pos_phrase", seq, sfx_terms), ft, True
            ids_by_bucket, rare = self._phrase_ids_by_bucket(leaf.value, sfx)
            # the rarest term's frames anchor the leaf's buckets: every
            # verified doc holds that term, so its posting frames exist
            # in exactly the buckets the kernel must visit — without
            # them a bucket with only ids-leaf docs would never be
            # evaluated and those docs silently dropped
            return ("ids", ids_by_bucket), set(rare), False
        raise _ServingFallback(leaf.kind)

    def _bucketed_eval(
        self,
        tree: list,
        frame_terms: set[str],
        after: int | None = None,
        cap: int | None = None,
        min_bucket: int | None = None,
    ) -> DataFrame:
        """Run the compiled OR-of-ANDs tree bucket-locally: shuffle only
        the leaves' compressed frames, evaluate per-bucket numpy set
        algebra (see _eval_bucket_tree), return the doc_id relation.
        Buckets are disjoint doc ranges, so no global distinct is
        needed.

        Keyset pagination hooks: ``after`` drops ids <= after inside the
        kernel, ``cap`` emits at most cap ids per bucket (exact for a
        global ORDER BY doc_id LIMIT cap — per-bucket results are
        ascending and buckets are disjoint ranges, so each bucket's
        first cap survivors are a superset of its contribution to the
        global page), and ``min_bucket`` prunes whole buckets below the
        keyset frontier BEFORE their frames shuffle."""
        import pandas as pd

        if not frame_terms:
            return _local_df(self.spark, [], "doc_id long")
        rows = self._index_rows(sorted(frame_terms))
        if min_bucket is not None and min_bucket > 0:
            rows = rows.filter(F.col("bucket") >= min_bucket)
        joined = (
            rows.groupBy("bucket")
            .agg(F.collect_list(F.struct("term", "postings")).alias("frames"))
            .select("bucket", "frames")
        )

        pos_terms = frozenset(
            t
            for leaves in tree
            for spec, _ in leaves
            if spec[0] == "pos_phrase"
            for t in list(spec[1]) + list(spec[2] or ())
        )
        cache_tag = (
            (self.index_dir, self.version) if self.frame_cache else None
        )

        def gen(batches):
            for pdf in batches:
                outs = []
                for bucket, frames in zip(pdf["bucket"], pdf["frames"]):
                    res = _eval_bucket_tree(
                        _BucketFrames(
                            frames, pos_terms,
                            cache_tag=cache_tag, bucket=int(bucket),
                        ),
                        tree,
                        int(bucket),
                    )
                    if after is not None and res.size:
                        res = res[np.searchsorted(res, after, side="right"):]
                    if cap is not None:
                        res = res[:cap]
                    if res.size:
                        outs.append(res)
                if outs:
                    yield pd.DataFrame({"doc_id": np.concatenate(outs)})

        return joined.mapInPandas(gen, "doc_id long")

    def boolean_docids_bucketed(self, node: qt.OrNode) -> DataFrame:
        """Bucket-local boolean algebra — the serving-mode twin of
        :meth:`score_terms_bucketed`.  Doc membership is bucket-local
        (all of a doc's postings live in its one doc-range bucket), so
        per-bucket numpy set ops compose to the exact global result:
        AND = intersect, NOT = setdiff, OR = union, keyword = union of
        its analyzed terms' postings, prefix = union of its dictionary
        expansion, phrase = positional in-bucket match
        (phrase_via_positions) or pre-verified substring ids joined by
        bucket.  Only the leaves' compressed frames shuffle; the
        decoded-id shuffles + semi-joins of :meth:`boolean_docids`
        disappear.  Raises _ServingFallback for shapes it cannot serve
        (the dispatcher falls back to the distributed plan)."""
        # single positive substring-phrase leaf: the standalone bucketed
        # phrase plan answers in one candidate job + one verify scan —
        # no pre-collect, no budget
        if (
            not self.phrase_via_positions
            and self.term_stats is not None
            and len(node.children) == 1
            and len(node.children[0].children) == 1
        ):
            c = node.children[0].children[0]
            if c.kind in ("phrase", "phrase_prefix") and self._q(c.value):
                sfx = c.suffix if c.kind == "phrase_prefix" else ""
                return self.phrase_docids_bucketed(c.value, sfx).select("doc_id")
        tree, frame_terms = self._compile_serving_tree(node)
        return self._bucketed_eval(tree, frame_terms)

    def _compile_serving_tree(
        self, node: qt.OrNode
    ) -> tuple[list, set[str]]:
        """Lower an OR-of-ANDs parse tree to the serving kernel's leaf
        specs + the index terms whose frames must shuffle."""
        tree: list[list[tuple[tuple, bool]]] = []
        frame_terms: set[str] = set()
        for and_node in node.children:
            leaves = []
            for c in and_node.children:
                spec, ft, _ = self._serving_leaf(c)
                leaves.append((spec, c.negated))
                frame_terms.update(ft)
            # positives first (the parser guarantees at least one)
            leaves.sort(key=lambda x: x[1])
            tree.append(leaves)
        return tree, frame_terms

    def _bucket_of(self, doc_id: int) -> int | None:
        """Scalar mirror of the build's ``_range_bucket`` double math:
        the grid bucket whose contiguous doc range holds ``doc_id``
        (None when the stats table predates the grid)."""
        if self._grid is None:
            return None
        glo, gspan, gn = self._grid
        frac = float(doc_id - glo) / float(gspan)
        return max(0, min(gn - 1, math.floor(float(gn) * frac)))

    def _phrase_bucketed_cand(self, rare: list[str]) -> DataFrame:
        """Bucket-local phrase candidates: intersect the (≤2) rarest
        phrase terms' posting sets per bucket.  Only the rare terms'
        compressed frames shuffle — the decoded-id shuffle + semi-join
        of the distributed plan disappears.  Returns (bucket, doc_id)."""
        import pandas as pd

        nrare = len(set(rare))
        joined = (
            self._index_rows(rare)
            .groupBy("bucket")
            .agg(F.collect_list(F.struct("term", "postings")).alias("frames"))
            .select("bucket", "frames")
        )

        cache_tag = (
            (self.index_dir, self.version) if self.frame_cache else None
        )

        def gen(batches):
            for pdf in batches:
                b_out, d_out = [], []
                for bucket, frames in zip(pdf["bucket"], pdf["frames"]):
                    bf = _BucketFrames(
                        frames, frozenset(),
                        cache_tag=cache_tag, bucket=int(bucket),
                    )
                    if len(bf.by_term) < nrare:
                        continue
                    inter = None
                    for t in bf.by_term:
                        ids = bf.ids(t)
                        inter = (
                            ids
                            if inter is None
                            else inter[_sorted_member(inter, ids)]
                        )
                    if inter is not None and inter.size:
                        d_out.append(inter)
                        b_out.append(
                            np.full(inter.size, int(bucket), dtype=np.int32)
                        )
                if d_out:
                    yield pd.DataFrame(
                        {
                            "bucket": np.concatenate(b_out),
                            "doc_id": np.concatenate(d_out),
                        }
                    )

        return joined.mapInPandas(gen, "bucket int, doc_id long")

    def phrase_docids_bucketed(self, phrase: str, suffix: str = "") -> DataFrame:
        """Serving twin of :meth:`phrase_docids` (same substring
        semantics, bit-identical results — tested): candidate
        generation is bucket-local (compressed frames only), then the
        identical df-routed substring verify.  Returns (bucket, doc_id)
        so serving callers can compose bucket-locally.  Requires cached
        term stats; degenerate no-term phrases raise _ServingFallback
        (the dispatcher's prefix route handles them)."""
        terms = self._q(phrase)
        needle = f"{phrase} {suffix}".strip().lower()
        if self.term_stats is None:
            raise _ServingFallback("phrase serving needs cached term stats")
        if not terms:
            raise _ServingFallback("degenerate phrase (prefix semantics)")
        empty = _local_df(self.spark, [], "bucket int, doc_id long")
        if any(t not in self.term_stats for t in set(terms)):
            return empty
        rare = sorted(set(terms), key=lambda t: self.term_stats[t][0])[:2]
        cand = self._phrase_bucketed_cand(rare)
        if self.content_df is None:
            raise ValueError(
                "phrase verification needs a document store: docs table "
                "has no content column and no corpus was provided"
            )
        # verify-scan routing identical to phrase_docids (df-guarded)
        contains = F.contains(F.lower("content"), F.lit(needle))
        min_df = min(self.term_stats[t][0] for t in rare)
        if min_df <= 1000:
            pairs = cand.collect()
            if not pairs:
                return empty
            small = _local_df(self.spark, 
                [(int(r.bucket), int(r.doc_id)) for r in pairs],
                "bucket int, doc_id long",
            )
            ver = self.content_df.filter(
                F.col("doc_id").isin([int(r.doc_id) for r in pairs])
            ).filter(contains).select("doc_id")
            return ver.join(F.broadcast(small), "doc_id").select("bucket", "doc_id")
        if min_df <= 2_000_000:
            return (
                self.content_df.join(F.broadcast(cand), "doc_id")
                .filter(contains)
                .select("bucket", "doc_id")
            )
        return (
            cand.join(self.content_df, "doc_id")
            .filter(contains)
            .select("bucket", "doc_id")
        )

    def _phrase_ids_by_bucket(
        self, phrase: str, suffix: str = ""
    ) -> tuple[dict[int, np.ndarray], list[str]]:
        """Substring-phrase leaf for the serving kernels: verified doc
        ids grouped by bucket (collected under the budget — bounded by
        the rarest term's df) + the rare terms whose frames anchor the
        leaf's buckets.  Raises _ServingFallback over budget."""
        if self.term_stats is None or self.content_df is None:
            raise _ServingFallback("phrase serving needs stats + content")
        terms = self._q(phrase)
        tset = set(terms)
        if any(t not in self.term_stats for t in tset):
            return {}, []
        rare = sorted(tset, key=lambda t: self.term_stats[t][0])[:2]
        if min(self.term_stats[t][0] for t in rare) > self.serving_phrase_collect_max:
            raise _ServingFallback("phrase verified set over collect budget")
        acc: dict[int, list[int]] = {}
        for r in self.phrase_docids_bucketed(phrase, suffix).collect():
            acc.setdefault(int(r.bucket), []).append(int(r.doc_id))
        return (
            {b: np.array(sorted(v), dtype=np.int64) for b, v in acc.items()},
            rare,
        )

    def phrase_docids_positional_bucketed(self, phrase: str) -> DataFrame:
        """Bucket-local positional phrase matching: the fully serving-
        native phrase plan — only the phrase terms' compressed frames
        shuffle, candidates intersect and position-verify inside each
        bucket, zero content access.  Results identical to
        :meth:`phrase_docids_positional` (tested)."""
        seq = self._q(phrase)
        if not seq:
            return _local_df(self.spark, [], "doc_id long")
        return self._bucketed_eval(
            [[(("pos_phrase", seq, None), False)]], set(seq)
        )

    def phrase_prefix_docids_positional_bucketed(
        self, phrase: str, suffix: str
    ) -> DataFrame:
        """Bucket-local positional phrase-prefix (serving twin of
        :meth:`phrase_prefix_docids_positional`, results identical —
        tested)."""
        seq = self._q(phrase)
        if not seq:
            return self.prefix_docids(suffix)
        sfx_terms = self.expand_prefix(suffix)
        if not sfx_terms:
            return _local_df(self.spark, [], "doc_id long")
        return self._bucketed_eval(
            [[(("pos_phrase", seq, sfx_terms), False)]],
            set(seq) | set(sfx_terms),
        )

    # ---- ranked retrieval (Q7) ------------------------------------------
    def expand_prefix(self, prefix: str) -> list[str]:
        """Dictionary prefix enumeration (reference DAWG ``keys(prefix)``,
        SearchEngine.py:210).  With cached stats: two binary searches on
        the sorted vocabulary — O(log V + matches), not a linear vocab
        scan (at web-scale V the scan was the serving path's only
        per-query full pass).  Without: a pruned scan on the term-sorted
        index (parquet min/max pushdown)."""
        import bisect

        p = prefix.lower()
        if self._term_arr is not None:  # the in-memory DAWG analogue
            arr = self._term_arr
            lo_i = bisect.bisect_left(arr, p)
            # successor string of the prefix: bump the rightmost
            # non-max char and truncate — everything in [p, succ) starts
            # with p.  All-max-char prefixes (impossible for analyzed
            # terms) fall back to end-of-vocab.
            succ = None
            for j in range(len(p) - 1, -1, -1):
                if ord(p[j]) < 0x10FFFF:
                    succ = p[:j] + chr(ord(p[j]) + 1)
                    break
            hi_i = len(arr) if succ is None else bisect.bisect_left(arr, succ, lo_i)
            return arr[lo_i:hi_i]
        if self.term_stats is not None:  # stats set without the array
            return sorted(t for t in self.term_stats if t.startswith(p))
        return [
            r.term
            for r in self.index.filter(F.col("term").startswith(p))
            .select("term")
            .distinct()
            .collect()
        ]

    def completions(self, prefix: str, k: int = 10) -> DataFrame:
        """Autocomplete: top-``k`` dictionary completions of ``prefix``
        ranked by collection frequency (cf desc, term asc) — the query
        the reference's DAWG seek list answers for prefix search
        (SearchEngine.py:210 ``keys(prefix)``), ranked the way a search
        box wants it.  With cached term stats: an O(log V + matches)
        sorted-vocabulary slice plus a driver-side heap — zero Spark
        jobs.  Without: a pruned scan on the term-sorted index (parquet
        min/max pushdown) + partial-agg sum(cf) + TakeOrdered, the
        100 TB plan."""
        import heapq

        p = prefix.lower()
        if self.term_stats is not None:
            best = heapq.nsmallest(
                k,
                ((-self.term_stats[t][1], t) for t in self.expand_prefix(p)),
            )
            return _local_df(self.spark, 
                [(t, int(-ncf)) for ncf, t in best], "term string, cf long"
            )
        return (
            self.index.filter(F.col("term").startswith(p))
            .groupBy("term")
            .agg(F.sum("cf").alias("cf"))
            .orderBy(F.desc("cf"), F.asc("term"))
            .limit(k)
        )

    def correct_terms(self, inputs: list[str], max_dist: int = 2) -> DataFrame:
        """Dictionary spell correction: for each input term, the best
        dictionary term within ``max_dist`` edits, ranked
        (distance asc, cf desc, term asc) — "did you mean" over the
        index's own vocabulary, weighted by how often the candidate
        actually occurs in the corpus.

        Plan (100 TB shape): the term dictionary aggregates from the
        index's (term, cf) rows — metadata-scale, one partial-agg
        shuffle; the tiny input list broadcasts into a nested-loop join
        whose ``|length(term) - length(input)| <= max_dist`` predicate
        prunes candidates before the JVM ``levenshtein`` runs (edit
        distance can never beat a length gap); one row per input
        survives a window rank.  No Python in the loop.  Inputs with no
        candidate within budget are absent from the result.  Returns
        (input, term, dist, cf)."""
        from pyspark.sql.window import Window

        inp = _local_df(self.spark, 
            [(t,) for t in sorted(set(inputs))], "input string"
        )
        vocab = self.index.groupBy("term").agg(F.sum("cf").alias("cf"))
        cand = (
            vocab.join(
                F.broadcast(inp),
                F.abs(F.length("term") - F.length("input")) <= max_dist,
            )
            .withColumn("dist", F.levenshtein("input", "term"))
            .filter(F.col("dist") <= max_dist)
        )
        w = Window.partitionBy("input").orderBy(
            F.asc("dist"), F.desc("cf"), F.asc("term")
        )
        return (
            cand.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("input", "term", "dist", F.col("cf").cast("long").alias("cf"))
        )

    def correct_query(self, query: str, max_dist: int = 2) -> str:
        """Free-text query correction: analyzed terms absent from the
        dictionary are replaced by their best :meth:`correct_terms`
        correction (terms with no correction in budget pass through —
        they simply match nothing, the engine's normal unknown-term
        behavior).  Requires cached term stats so known terms are a
        dict probe, not a job."""
        if self.term_stats is None:
            raise ValueError("correct_query needs cache_term_stats=True")
        toks = self._q(query)
        unknown = sorted({t for t in toks if t not in self.term_stats})
        if not unknown:
            return " ".join(toks)
        fixes = {
            r.input: r.term
            for r in self.correct_terms(unknown, max_dist).collect()
        }
        return " ".join(fixes.get(t, t) for t in toks)

    def facet_counts(self, query: str, meta: DataFrame, col: str) -> DataFrame:
        """Faceted search: the distribution of metadata column ``col``
        over the FULL result set of ``query`` (boolean queries return
        every match; ranked queries facet their top-k page) — the
        result-refinement sidebar every search UI derives from the
        engine.  Plan: result doc_ids join the metadata relation on
        doc_id (the meta scan is column-pruned to (doc_id, col);
        AQE broadcasts whichever side is small — a top-k page always
        is), then a partial-agg count per value: the final shuffle
        carries one row per (partition, value), not per doc.
        Returns (value, cnt) ordered (cnt desc, value asc)."""
        ids = self.search(query).select("doc_id")
        return (
            meta.select("doc_id", F.col(col).alias("value"))
            .join(ids, "doc_id")
            .groupBy("value")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("value"))
        )

    def search_snippets(
        self, query: str, k: int = 10, *, width: int = 80, context: int = 30
    ) -> DataFrame:
        """Top-``k`` search results with a result snippet — a
        ``width``-char window of the ORIGINAL content starting
        ``context`` chars before the earliest query-term occurrence
        (the engine analogue of the reference printing each matching
        comment's text, SearchEngine.py:241-248 ``print_comments`` with
        ``printIdsOnly=False`` via ``load_comment``).  Docs where no term
        occurs literally (stemmed index / position-only match) snippet
        from the start.  Content access is an IN-list parquet pushdown
        on the k result ids — one pruned scan, no content shuffle."""
        rows = self.search(query, k).collect()  # k rows by contract
        schema = "doc_id long, score double, snippet string"
        if not rows:
            return _local_df(self.spark, [], schema)
        if self.content_df is None:
            raise qt.QueryError(
                "snippets need document content: the index was built with "
                "store_content=False and no corpus was provided"
            )
        terms = self._query_terms(query)
        hay = F.lower(F.col("content"))
        locs = [F.when(F.locate(t, hay) > 0, F.locate(t, hay)) for t in terms]
        if not locs:
            first = F.lit(None).cast("int")
        elif len(locs) == 1:
            first = locs[0]
        else:
            first = F.least(*locs)
        start = F.greatest(F.coalesce(first, F.lit(1)) - context, F.lit(1))
        scored = _local_df(self.spark, 
            [(int(r.doc_id), float(getattr(r, "score", 0.0))) for r in rows],
            "doc_id long, score double",
        )
        return (
            self.content_df.filter(
                F.col("doc_id").isin([int(r.doc_id) for r in rows])
            )
            .select(
                "doc_id",
                F.col("content").substr(start, F.lit(width)).alias("snippet"),
            )
            .join(F.broadcast(scored), "doc_id")
            .select("doc_id", "score", "snippet")
            .orderBy(F.desc("score"), F.asc("doc_id"))
        )

    def _query_terms(self, raw_query: str) -> list[str]:
        toks = []
        prefix_terms: list[str] = []
        for leaf_tok in raw_query.replace("'", " ").split():
            if leaf_tok.lower().startswith("replyto:"):
                continue
            if leaf_tok.endswith("*"):
                prefix_terms.extend(self.expand_prefix(leaf_tok.rstrip("*")))
            else:
                toks.append(leaf_tok)
        terms = self._q(" ".join(toks)) + prefix_terms
        # stop-term skip (Q8; reference SearchEngine.py:88-91 — redefined
        # on true cf, see SURVEY §4.4): drop Zipf-head terms unless that
        # would empty the query.
        if self.stop_cf_fraction and self.collection_term_count:
            thr = self.collection_term_count * self.stop_cf_fraction
            if self.term_stats is not None:
                stats = {t: self.term_stats.get(t, (0, 0))[1] for t in terms}
            else:
                stats = {
                    r.term: r.cf
                    for r in self._index_rows(terms)
                    .groupBy("term")
                    .agg(F.sum("cf").alias("cf"))
                    .collect()
                }
            kept = [t for t in terms if stats.get(t, 0) <= thr]
            if kept:
                terms = kept
        return terms

    def _term_df_stats(self, terms: list[str], rows: DataFrame) -> DataFrame:
        """(term, df) — global df per term (hot terms span rows)."""
        if self.term_stats is not None:
            present = [t for t in terms if t in self.term_stats]
            if present:
                return _local_df(self.spark, 
                    [(t, self.term_stats[t][0]) for t in present],
                    "term string, df long",
                )
        return rows.groupBy("term").agg(F.sum("df").alias("df"))

    def _idf_expr(self):
        return F.log(
            F.lit(1.0)
            + (F.lit(float(self.n_docs)) - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        )

    def _where_cond(self, where):
        return F.expr(where) if isinstance(where, str) else where

    def _allowed_docs(self, where) -> DataFrame:
        """doc_ids passing a metadata predicate (``where``: SQL boolean
        expression string or Column over the docs-table columns — repo,
        path, commit, lang, ...).  The filter reaches the parquet scan
        (predicate pushdown + column pruning to the referenced cols),
        so selectivity is paid at the source, not post-join."""
        return self.docs.filter(self._where_cond(where)).select("doc_id")

    def _boost_factors(self, boost) -> DataFrame:
        """(doc_id, factor) for docs matched by at least one boost
        predicate; ``boost`` = list of (predicate, factor) pairs.  A
        doc matching several predicates multiplies their factors (the
        Lucene/Elasticsearch boost composition).  Docs matching none
        are ABSENT — callers left-join and coalesce to 1.0, so the
        boost side stays O(boosted docs), not O(corpus)."""
        fac = F.lit(1.0)
        cond = F.lit(False)
        for pred, factor in boost:
            c = self._where_cond(pred)
            fac = fac * F.when(c, F.lit(float(factor))).otherwise(F.lit(1.0))
            cond = cond | c
        return self.docs.filter(cond).select(
            "doc_id", fac.alias("factor")
        )

    def _score_rows(
        self,
        rows: DataFrame,
        stats: DataFrame,
        doc_range: tuple[int, int] | None = None,
        where=None,
    ) -> DataFrame:
        """Decode + BM25-score index rows -> (doc_id, score).

        ``doc_range=(lo, hi)`` prunes the doclen side of the join to
        that doc_id window — the docs table is doc_id-range-partitioned
        and sorted, so the filter becomes parquet min/max file pruning
        (the block-max plan scores 1-of-N buckets; scanning ALL doclens
        for it would dwarf the decode it saved).

        ``where`` scopes scoring to docs passing a metadata predicate:
        the filter rides the doclen side of the existing inner join —
        non-matching docs never score, no extra join or shuffle appears
        in the plan, and BM25 stats (idf, avgdl, N) stay GLOBAL (the
        standard filtered-search semantics: restrict the result set,
        not the collection model)."""
        k1, b = self.k1, self.b
        decoded = decode_postings_df(rows)
        if where is not None:
            # the cluster cache holds (doc_id, doclen) only — metadata
            # predicates re-scan the docs table (pushdown applies)
            doclens = self.docs.filter(self._where_cond(where)).select(
                "doc_id", "doclen"
            )
        else:
            doclens = (
                self._doclens_cluster
                if self._doclens_cluster is not None
                else self.docs.select("doc_id", "doclen")
            )
        if doc_range is not None:
            doclens = doclens.filter(
                (F.col("doc_id") >= doc_range[0])
                & (F.col("doc_id") <= doc_range[1])
            )
        scored = (
            decoded.join(F.broadcast(stats), "term")
            .join(doclens, "doc_id")
            .withColumn(
                "s",
                self._idf_expr()
                * (F.col("tf") * (k1 + 1))
                / (
                    F.col("tf")
                    + k1 * (1 - b + b * F.col("doclen") / F.lit(self.avgdl))
                ),
            )
        )
        # canonical-order float64 summation → bit-stable across
        # parallelism levels (SURVEY §4.3.5)
        return scored.groupBy("doc_id").agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("term", "s"))),
                F.lit(0.0),
                lambda acc, x: acc + x["s"],
            ).alias("score")
        )

    def score_terms(
        self, terms: list[str], k: int | None = None, where=None, boost=None
    ) -> DataFrame:
        """BM25 over the disjunction of ``terms`` → (doc_id, score[, ...]).

        ``where`` restricts results to docs passing a metadata
        predicate (see :meth:`_score_rows`); scores of surviving docs
        are unchanged (global BM25 stats).

        ``boost`` (list of (predicate, factor)) multiplies each doc's
        FINAL summed score by the product of its matching predicates'
        factors — applied after the canonical term-sorted sum, so the
        float64 sequence stays identical to the serving kernel's
        (sum first, one multiply after)."""
        terms = sorted(set(terms))
        rows = self._index_rows(terms)
        # the index is range-partitioned by TERM, so a Zipf-head term's
        # doc-range shards (up to slices×salt rows) sit in one file and
        # would decode as ONE straggler task.  When cached stats say the
        # query is fat, spread the (term, bucket) shards across the
        # cluster first — the shuffle moves only the query terms'
        # compressed frames (KBs-MBs), and decode parallelism then
        # scales with shard count instead of file count.
        if (
            self.term_stats is not None
            and sum(self.term_stats.get(t, (0, 0))[0] for t in terms)
            >= self.decode_repartition_min_sumdf
        ):
            n_parts = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
            rows = rows.repartition(n_parts, "term", "bucket")
        stats = self._term_df_stats(terms, rows)
        agg = self._score_rows(rows, stats, where=where)
        if boost:
            agg = (
                agg.join(self._boost_factors(boost), "doc_id", "left")
                .withColumn(
                    "score", F.col("score") * F.coalesce("factor", F.lit(1.0))
                )
                .drop("factor")
            )
        out = agg.orderBy(F.desc("score"), F.asc("doc_id"))
        return out.limit(k) if k else out

    def score_terms_bucketed(
        self, terms: list[str], k: int | None = None, where=None, boost=None
    ) -> DataFrame:
        """Bucket-local DAAT — the sharded-search serving plan.

        The classic distributed IR architecture (one shard per doc
        range, local scoring, global top-k merge) falls out of the
        index's own salted-merge grid: ALL of a doc's postings live in
        exactly one doc-range bucket, and serving mode keeps each
        bucket's (doc_id, doclen) arrays cluster-cached and
        pre-partitioned on ``bucket``.  A ranked query then moves ONLY
        the query terms' compressed frames through the shuffle (KBs-MBs)
        — never decoded postings, never doclens — and each bucket task
        decodes + scores + fully aggregates its docs in numpy.  Global
        top-k is per-partition heaps + driver merge
        (TakeOrderedAndProject).  Per-query shuffle volume drops from
        O(Σdf) rows (decoded-join plan) to O(query index bytes).

        Bit-identical to :meth:`score_terms`: per-doc accumulation runs
        in term-sorted order from 0.0, the same float64 sequence as the
        canonical array_sort aggregate.  Requires serving mode
        (``persist_doclens=True``) and cached term stats.

        With ``k`` set, each bucket emits only its LOCAL top-k (by the
        global (score desc, doc_id asc) order) — exact, because every
        global top-k member is within its own bucket's top-k under the
        same total order.  A Zipf-head query touches nearly every doc,
        so without this the Arrow transfer back to the JVM is O(corpus)
        rows per query; with it, O(k × buckets).

        ``where`` scopes results to a metadata predicate: allowed
        doc_ids arrive as per-bucket sorted arrays (pushdown-filtered
        docs scan, grid-bucketed, one tf-shaped shuffle) and the kernel
        masks non-members before emit — scores of surviving docs are
        bit-identical to the unscoped plan's.
        """
        import pandas as pd

        terms = sorted(set(terms))
        present = [t for t in terms if self.term_stats.get(t, (0, 0))[0] > 0]
        empty = _local_df(self.spark, [], "doc_id long, score double")
        if not present:
            return empty
        idf = {
            t: bm25_idf(self.n_docs, self.term_stats[t][0]) for t in present
        }
        k1, b, avgdl = self.k1, self.b, self.avgdl

        joined = (
            self._index_rows(present)
            .groupBy("bucket")
            .agg(F.collect_list(F.struct("term", "postings")).alias("frames"))
            .join(self._bucket_doclens, "bucket")
        )
        cols = ["bucket", "frames", "dl_ids", "dl_lens"]
        if where is not None:
            # metadata scope: per-bucket sorted arrays of allowed
            # doc_ids, built from a pushdown-filtered docs scan bucketed
            # by the same grid arithmetic the cache used.  INNER join:
            # buckets with no allowed docs never ship their frames.
            allowed = (
                self.docs.filter(self._where_cond(where))
                .select("doc_id")
                .withColumn("bucket", self._bexpr)
                .where(F.col("bucket").isNotNull())
                .groupBy("bucket")
                .agg(F.sort_array(F.collect_list("doc_id")).alias("allow_ids"))
            )
            joined = joined.join(allowed, "bucket")
            cols.append("allow_ids")
        if boost:
            # per-bucket (sorted boosted ids, factors) — LEFT join:
            # buckets with no boosted docs still serve, kernel skips
            bfac = (
                self._boost_factors(boost)
                .withColumn("bucket", self._bexpr)
                .where(F.col("bucket").isNotNull())
                .groupBy("bucket")
                .agg(
                    F.array_sort(
                        F.collect_list(F.struct("doc_id", "factor"))
                    ).alias("bz")
                )
                .select(
                    "bucket",
                    F.col("bz.doc_id").alias("boost_ids"),
                    F.col("bz.factor").alias("boost_f"),
                )
            )
            joined = joined.join(bfac, "bucket", "left")
            cols += ["boost_ids", "boost_f"]
        joined = joined.select(*cols)

        cache_tag = (
            (self.index_dir, self.version) if self.frame_cache else None
        )

        def gen(batches):
            for pdf in batches:
                out_d, out_s = [], []
                allow_col = (
                    pdf["allow_ids"]
                    if "allow_ids" in pdf.columns
                    else [None] * len(pdf)
                )
                bid_col = (
                    pdf["boost_ids"]
                    if "boost_ids" in pdf.columns
                    else [None] * len(pdf)
                )
                bf_col = (
                    pdf["boost_f"]
                    if "boost_f" in pdf.columns
                    else [None] * len(pdf)
                )
                for bkt, frames, dl_ids, dl_lens, allow, bids, bfs in zip(
                    pdf["bucket"], pdf["frames"], pdf["dl_ids"],
                    pdf["dl_lens"], allow_col, bid_col, bf_col,
                ):
                    ids = np.asarray(dl_ids, dtype=np.int64)
                    lens = np.asarray(dl_lens, dtype=np.float64)
                    acc = np.zeros(len(ids))
                    touched = np.zeros(len(ids), dtype=bool)
                    # term-sorted frame order == the canonical float64
                    # summation order of _score_rows (each doc gets at
                    # most one posting per term)
                    for fr in sorted(frames, key=lambda f: f["term"]):
                        d, t, _ = _cached_decode(
                            cache_tag, fr["term"], bkt,
                            bytes(fr["postings"]), want_positions=False,
                        )
                        pos = np.searchsorted(ids, d)
                        # validate the cache invariant instead of
                        # assuming it: any posting doc_id absent from
                        # the bucket's doclen array (docs/postings
                        # drift, bucket-assignment bug) would otherwise
                        # silently credit a NEIGHBORING doc's score (or
                        # IndexError past the end) — corrupt ranked
                        # results are worse than a loud failure
                        pos_c = (
                            np.minimum(pos, len(ids) - 1)
                            if len(ids)
                            else pos
                        )
                        if len(ids) == 0 or not np.array_equal(ids[pos_c], d):
                            raise ValueError(
                                "serving doclen cache is missing posting "
                                f"doc_ids for term {fr['term']!r}: the "
                                "docs table and the index disagree — "
                                "rebuild or reload() the engine"
                            )
                        pos = pos_c
                        tf = t.astype(np.float64)
                        s = (
                            idf[fr["term"]]
                            * (tf * (k1 + 1))
                            / (tf + k1 * (1 - b + b * lens[pos] / avgdl))
                        )
                        acc[pos] += s
                        touched[pos] = True
                    if allow is not None:  # metadata scope: emit only
                        touched &= _sorted_member(  # allowed docs
                            ids, np.asarray(allow, dtype=np.int64)
                        )
                    bd, bs = ids[touched], acc[touched]
                    if bids is not None and len(bids):
                        # boost: one multiply per boosted doc AFTER the
                        # canonical sum — same float64 sequence as the
                        # distributed plan's post-agg join-multiply
                        ba = np.asarray(bids, dtype=np.int64)
                        m = _sorted_member(bd, ba)
                        if m.any():
                            loc = np.searchsorted(ba, bd[m])
                            bs[m] *= np.asarray(bfs, dtype=np.float64)[loc]
                    if k:  # exact local top-k: O(k), not O(touched),
                        bd, bs = _local_topk(bd, bs, k)  # rows cross Arrow
                    out_d.append(bd)
                    out_s.append(bs)
                if out_d:
                    yield pd.DataFrame(
                        {
                            "doc_id": np.concatenate(out_d),
                            "score": np.concatenate(out_s),
                        }
                    )

        scored = joined.mapInPandas(gen, "doc_id long, score double")
        out = scored.orderBy(F.desc("score"), F.asc("doc_id"))
        return out.limit(k) if k else out

    def ranked_bucketed(
        self, node: qt.RankedNode, terms: list[str], k: int
    ) -> DataFrame:
        """Serving plan for MIXED-leaf ranked queries (phrase / prefix
        leaves alongside keywords): candidates = union of leaf results,
        scored by BM25 over the query terms with 0.0 for candidates
        none of whose terms survived — the exact semantics of the
        distributed mixed path (candidates left-joined onto scores),
        computed bucket-locally in ONE frames-shuffle job: per bucket,
        accumulate term-sorted scores over the cached doclen arrays,
        take the union of leaf id sets, emit (candidate, accumulated
        score — zeros fall out of the untouched accumulator).  Global
        top-k = TakeOrderedAndProject.  Bit-identical to the
        distributed plan (same canonical float64 summation order —
        tested).  Raises _ServingFallback for unserveable leaves."""
        import pandas as pd

        specs: list[tuple] = []
        frame_terms: set[str] = set()
        for leaf in node.children:
            spec, ft, _ = self._serving_leaf(leaf)
            specs.append(spec)
            frame_terms.update(ft)
        scoring = sorted(
            {t for t in terms if self.term_stats.get(t, (0, 0))[0] > 0}
        )
        idf = {t: bm25_idf(self.n_docs, self.term_stats[t][0]) for t in scoring}
        all_terms = sorted(frame_terms | set(scoring))
        empty = _local_df(self.spark, [], "doc_id long, score double")
        if not all_terms:
            return empty
        k1, b, avgdl = self.k1, self.b, self.avgdl
        scoring_set = frozenset(scoring)
        pos_terms = frozenset(
            t
            for spec in specs
            if spec[0] == "pos_phrase"
            for t in list(spec[1]) + list(spec[2] or ())
        )

        joined = (
            self._index_rows(all_terms)
            .groupBy("bucket")
            .agg(F.collect_list(F.struct("term", "postings")).alias("frames"))
            .join(self._bucket_doclens, "bucket")
            .select("bucket", "frames", "dl_ids", "dl_lens")
        )

        cache_tag = (
            (self.index_dir, self.version) if self.frame_cache else None
        )

        def gen(batches):
            for pdf in batches:
                out_d, out_s = [], []
                for bucket, frames, dl_ids, dl_lens in zip(
                    pdf["bucket"], pdf["frames"], pdf["dl_ids"], pdf["dl_lens"]
                ):
                    bf = _BucketFrames(
                        frames, pos_terms,
                        cache_tag=cache_tag, bucket=int(bucket),
                    )
                    ids = np.asarray(dl_ids, dtype=np.int64)
                    lens = np.asarray(dl_lens, dtype=np.float64)
                    if len(ids) == 0:
                        continue
                    acc = np.zeros(len(ids))
                    # term-sorted accumulation == the canonical float64
                    # summation order of _score_rows / _ranked_fast
                    for t in sorted(scoring_set.intersection(bf.by_term)):
                        for d, tl, _, _, _ in bf.by_term[t]:
                            pos = np.minimum(
                                np.searchsorted(ids, d), len(ids) - 1
                            )
                            if not np.array_equal(ids[pos], d):
                                raise ValueError(
                                    "serving doclen cache is missing "
                                    f"posting doc_ids for term {t!r}: "
                                    "the docs table and the index "
                                    "disagree — rebuild or reload() "
                                    "the engine"
                                )
                            tf = tl.astype(np.float64)
                            acc[pos] += (
                                idf[t]
                                * (tf * (k1 + 1))
                                / (tf + k1 * (1 - b + b * lens[pos] / avgdl))
                            )
                    cand = None
                    for spec in specs:
                        li = _leaf_bucket_ids(bf, spec, int(bucket))
                        cand = (
                            li if cand is None else np.union1d(cand, li)
                        )
                    if cand is None or cand.size == 0:
                        continue
                    cpos = np.minimum(np.searchsorted(ids, cand), len(ids) - 1)
                    if not np.array_equal(ids[cpos], cand):
                        raise ValueError(
                            "serving doclen cache is missing candidate "
                            "doc_ids: the docs table and the index "
                            "disagree — rebuild or reload() the engine"
                        )
                    bd, bs = cand, acc[cpos]
                    if k:  # exact local top-k before the Arrow transfer
                        bd, bs = _local_topk(bd, bs, k)
                    out_d.append(bd)
                    out_s.append(bs)
                if out_d:
                    yield pd.DataFrame(
                        {
                            "doc_id": np.concatenate(out_d),
                            "score": np.concatenate(out_s),
                        }
                    )

        scored = joined.mapInPandas(gen, "doc_id long, score double")
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def score_terms_blockmax(self, terms: list[str], k: int) -> DataFrame:
        """Distributed top-k with bucket-grid block-max pruning.

        The index stores every row's doc-range *bucket* — the build's
        salted-merge grid, which is SHARED across terms (a doc's
        postings for ALL terms live in exactly one bucket).  So
        per-bucket upper-bound sums are sound doc-score bounds:

            score(d ∈ bucket B) ≤ Σ_t rowUB_t(B),
            rowUB = idf(t) · ub(max block tf)  (doclen→0 bound)

        Phase 1 (metadata only — block maxima, no posting decode):
        per-bucket UB sums.  Phase 2: θ = the k-th best TRUE score
        inside the most promising bucket.  Phase 3: decode + score only
        buckets with UB ≥ θ.  Identical results to :meth:`score_terms`
        (tested); buckets whose bound cannot reach the top-k are never
        decoded — the distributed analogue of the driver-side WAND.
        Falls back to score_terms for pre-bucket-column indexes.
        Pruning stats land in :attr:`last_blockmax` for observability.
        """
        terms = sorted(set(terms))
        if "bucket" not in self.index.columns:
            return self.score_terms(terms, k)
        rows = self._index_rows(terms)
        stats = self._term_df_stats(terms, rows)
        k1, b = self.k1, self.b
        maxtf = F.array_max(
            F.transform("blocks", lambda bl: bl["max_tf"])
        ).cast("double")
        rowub = (
            self._idf_expr() * (maxtf * (k1 + 1)) / (maxtf + k1 * (1 - b))
        )
        last_doc = F.element_at(F.col("blocks"), -1)["last_doc"]
        bucket_ubs = (
            rows.select("term", "bucket", "blocks", "first_doc")  # index df
            .join(F.broadcast(stats), "term")       # col would shadow stats.df
            .select(
                "bucket",
                rowub.alias("ub"),
                F.col("first_doc").alias("lo"),
                last_doc.alias("hi"),
            )
            .groupBy("bucket")
            .agg(
                F.sum("ub").alias("ub"),
                F.min("lo").alias("lo"),   # bucket = contiguous doc range:
                F.max("hi").alias("hi"),   # lo/hi bound every posting in it
            )
            .collect()
        )
        if not bucket_ubs:
            return _local_df(self.spark, [], "doc_id long, score double")
        best_row = max(bucket_ubs, key=lambda r: r.ub)
        best = best_row.bucket
        probe = (
            self._score_rows(
                rows.filter(F.col("bucket") == best),
                stats,
                doc_range=(int(best_row.lo), int(best_row.hi)),
            )
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
            .collect()
        )
        theta = probe[-1].score if len(probe) == k else -math.inf
        surv = [r for r in bucket_ubs if r.ub >= theta]
        self.last_blockmax = {
            "buckets_total": len(bucket_ubs),
            "buckets_scored": len(surv),
            "theta": theta,
        }
        if len(probe) == k and all(r.bucket == best for r in surv):
            # the probe bucket is the only survivor: its top-k IS the
            # answer — skip the redundant final scoring job
            return _local_df(self.spark, 
                [(int(r.doc_id), float(r.score)) for r in probe],
                "doc_id long, score double",
            )
        final = self._score_rows(
            rows.filter(F.col("bucket").isin([int(r.bucket) for r in surv])),
            stats,
            doc_range=(
                min(int(r.lo) for r in surv),
                max(int(r.hi) for r in surv),
            ),
        )
        return final.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def _want_blockmax(self, terms: list[str]) -> bool:
        """Auto-select the bucket-pruning plan: explicit True wins;
        None = on when cached term stats say Σdf crosses the threshold
        (the same budget notion that bounds the driver fast path — big
        skewed queries prune, small queries keep the 1-job plan)."""
        if self.use_blockmax is not None:
            return self.use_blockmax
        if self.term_stats is None:
            return False  # no free Σdf estimate: stay exhaustive
        sumdf = sum(self.term_stats.get(t, (0, 0))[0] for t in set(terms))
        return sumdf >= self.blockmax_min_sumdf

    def ranked(
        self,
        node: qt.RankedNode,
        raw_query: str,
        k: int = 10,
        where=None,
        boost=None,
    ) -> DataFrame:
        terms = self._query_terms(raw_query)
        serving = self._bucket_doclens is not None and self.term_stats is not None
        if all(leaf.kind == "keyword" for leaf in node.children):
            # serving mode: bucket-local DAAT moves only compressed
            # frames (see score_terms_bucketed) — strictly less shuffle
            # than both the decoded-join and block-max plans
            if serving:
                return self.score_terms_bucketed(
                    terms, k, where=where, boost=boost
                )
            if where is None and boost is None and self._want_blockmax(terms):
                # a metadata scope thins every block below its stored
                # score bound — pruning stays SOUND but stops paying
                # (bounds grow slack as selectivity rises), so scoped
                # queries keep the exhaustive filtered-doclen plan; a
                # boost can RAISE a doc past a block's stored UB, which
                # would make pruning UNSOUND — boosted queries always
                # take the exhaustive plan
                return self.score_terms_blockmax(terms, k)
        elif serving and where is None and boost is None:
            # mixed-leaf serving: one frames-shuffle job scores AND
            # resolves phrase/prefix candidates bucket-locally
            try:
                return self.ranked_bucketed(node, terms, k)
            except _ServingFallback:
                pass  # reply_to leaf / over-budget phrase: distributed
        scored = self.score_terms(terms, where=where, boost=boost)
        # candidates = union of leaf results (reference SearchEngine.py:274-276);
        # differs from plain disjunctive BM25 when leaves are phrases.
        # Left join keeps candidates none of whose terms survived (score
        # 0.0) — the reference's smoothed zero-tf branch analogue.
        if any(leaf.kind != "keyword" for leaf in node.children):
            cand = None
            for leaf in node.children:
                d = self._leaf_docids(leaf)
                cand = d if cand is None else cand.unionByName(d)
            cand = cand.distinct()
            if where is not None:
                # score-0 candidates must respect the scope too (the
                # scored side is already doclen-filtered)
                cand = cand.join(self._allowed_docs(where), "doc_id", "left_semi")
            scored = (
                cand
                .join(scored, "doc_id", "left")
                .fillna(0.0, subset=["score"])
            )
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def wand_search(
        self, query: str, k: int = 10, *, max_postings: int = 5_000_000
    ) -> list[tuple[int, float]]:
        """Low-latency single-query path: block-max WAND over postings
        pulled to the driver (reference's DAAT loop, SearchEngine.py:94-126,
        upgraded with pruning).  Returns the same ranking as the
        distributed plan (tested).

        Guard: if the query's total df exceeds ``max_postings`` the
        driver-side collect would OOM on a Zipf-head term, so the
        distributed plan (:meth:`score_terms`) takes over — the check is
        free with cached term stats, else one pruned metadata-scale job.
        """
        terms = self._query_terms(query)
        if not terms:
            return []
        if self.term_stats is not None:
            total_df = sum(self.term_stats.get(t, (0, 0))[0] for t in set(terms))
        else:
            row = (
                self._index_rows(terms).agg(F.sum("df").alias("s")).collect()[0]
            )
            total_df = int(row.s or 0)
        if total_df > max_postings:  # hot term: stay distributed
            return [
                (int(r.doc_id), float(r.score))
                for r in self.score_terms(terms, k).collect()
            ]
        rows = self._index_rows(terms).select("term", "postings").collect()
        if not rows:  # no query term exists in the dictionary
            return []
        postings: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        for r in rows:  # concat the term's doc-range-disjoint shards
            d, t, _ = decode_frames(bytes(r.postings), want_positions=False)
            if r.term in postings:
                d0, t0 = postings[r.term]
                d, t = np.concatenate([d0, d]), np.concatenate([t0, t])
            postings[r.term] = (d, t)
        for term, (d, t) in postings.items():
            order = np.argsort(d, kind="stable")
            postings[term] = (d[order].astype(np.int64), t[order].astype(np.int64))
        dfs = {term: len(d) for term, (d, t) in postings.items()}
        # doclens only for candidate docs (semi-join, not a full scan)
        all_docs = np.unique(np.concatenate([d for d, _ in postings.values()]))
        cand = _local_df(self.spark, 
            [(int(x),) for x in all_docs], "doc_id long"
        )
        dl_rows = self.docs.join(F.broadcast(cand), "doc_id").select(
            "doc_id", "doclen"
        ).collect()
        doclens = {r.doc_id: r.doclen for r in dl_rows}
        return wand_topk(
            postings, dfs, doclens, self.n_docs, self.avgdl, k,
            k1=self.k1, b=self.b,
        )

    # ---- driver-side fast path (low-latency small queries) ---------------
    # The distributed plan costs 3-5 Spark stages (~0.6-1 s of scheduling
    # at any size); for queries whose pruned postings fit a Σdf budget,
    # the reference's own execution model — decode on the driver, numpy
    # set algebra / exhaustive BM25 — answers with no Spark job when the
    # driver posting store is loaded (see _load; phrase verification
    # needs the content cache too), else with one pruned-scan job.
    # Results are identical to the distributed plan (tested per shape);
    # the budget guard falls back to the distributed plan, which remains
    # the scale path.

    def _postings_arrays(self, terms: list[str]) -> dict[str, tuple[np.ndarray, np.ndarray]]:
        uniq = sorted(set(terms))
        if not uniq:
            return {}
        if (
            sum(self.term_stats.get(t, (0, 0))[0] for t in uniq)
            > self.fast_max_postings
        ):
            raise _FastFallback
        frames = self._frames
        if frames is None:
            frames = {}
            for r in self._index_rows(uniq).select("term", "postings").collect():
                # the term's doc-range-disjoint shards concatenate into
                # one valid frame stream
                frames[r.term] = frames.get(r.term, b"") + bytes(r.postings)
        postings: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        for term in uniq:
            if term not in frames:
                continue
            d, t, _ = decode_frames(frames[term], want_positions=False)
            order = np.argsort(d, kind="stable")
            postings[term] = (d[order].astype(np.int64), t[order].astype(np.int64))
        return postings

    def _doclen_of(self, docs: np.ndarray) -> np.ndarray:
        if self._doclen_ids is None:
            # unreachable when constructed through __init__ (fast_path
            # requires the cache); guards against silent all-zero doclens
            raise RuntimeError("doclen cache not loaded (cache_doclens=False)")
        if len(self._doclen_ids) == 0:
            return np.zeros(len(docs), dtype=np.int64)
        pos = np.searchsorted(self._doclen_ids, docs)
        pos = np.clip(pos, 0, len(self._doclen_ids) - 1)
        vals = self._doclen_vals[pos]
        return np.where(self._doclen_ids[pos] == docs, vals, 0)

    def _leaf_ids_fast(self, leaf: qt.Leaf) -> np.ndarray:
        empty = np.empty(0, dtype=np.int64)
        if leaf.kind == "keyword":
            p = self._postings_arrays(self._q(leaf.value))
            if not p:
                return empty
            return np.unique(np.concatenate([d for d, _ in p.values()]))
        if leaf.kind == "prefix":
            p = self._postings_arrays(self.expand_prefix(leaf.value))
            if not p:
                return empty
            return np.unique(np.concatenate([d for d, _ in p.values()]))
        if leaf.kind == "phrase":
            return self._phrase_ids_fast(leaf.value)
        if leaf.kind == "phrase_prefix":
            return self._phrase_ids_fast(leaf.value, leaf.suffix)
        if leaf.kind == "reply_to":
            rows = self.reply_to_docids(leaf.value).collect()
            return np.array(sorted(r.doc_id for r in rows), dtype=np.int64)
        raise ValueError(leaf.kind)

    def _phrase_ids_fast(self, phrase: str, suffix: str = "") -> np.ndarray:
        empty = np.empty(0, dtype=np.int64)
        terms = self._q(phrase)
        needle = f"{phrase} {suffix}".strip().lower()
        if not terms:
            if not suffix:
                return empty
            return self._leaf_ids_fast(qt.Leaf("prefix", suffix))
        if any(t not in self.term_stats for t in set(terms)):
            return empty
        rare = sorted(set(terms), key=lambda t: self.term_stats[t][0])[:2]
        p = self._postings_arrays(rare)
        cand: np.ndarray | None = None
        for t in rare:
            d = p[t][0] if t in p else empty
            cand = d if cand is None else np.intersect1d(cand, d)
        if cand is None or cand.size == 0:
            return empty
        if self._content_cache is not None:
            # zero-job verify: the driver-side document store (loaded
            # under a byte budget) answers the substring check directly —
            # same semantics as contains(lower(content), needle)
            hits = [
                int(d)
                for d in cand
                if needle in self._content_cache.get(int(d), "")
            ]
            return np.array(sorted(hits), dtype=np.int64)
        if self.content_df is None:
            raise ValueError(
                "phrase verification needs a document store: docs table "
                "has no content column and no corpus was provided"
            )
        if cand.size <= 1000:
            # IN-list predicate pushes down to the doc_id-sorted parquet
            # (row-group pruning) — one scan job, no join
            store = self.content_df.filter(
                F.col("doc_id").isin([int(x) for x in cand])
            )
        else:
            cdf = _local_df(self.spark, 
                [(int(x),) for x in cand], "doc_id long"
            )
            store = self.content_df.join(F.broadcast(cdf), "doc_id")
        rows = (
            store.filter(F.contains(F.lower("content"), F.lit(needle)))
            .select("doc_id")
            .collect()
        )
        return np.array(sorted(r.doc_id for r in rows), dtype=np.int64)

    def _boolean_fast(self, node: qt.OrNode) -> np.ndarray:
        # ONE postings collect for every keyword/prefix leaf in the whole
        # tree (a per-leaf collect would cost one Spark job each)
        leaf_terms: dict[int, list[str]] = {}
        all_terms: list[str] = []
        for and_node in node.children:
            for c in and_node.children:
                if c.kind == "keyword":
                    leaf_terms[id(c)] = self._q(c.value)
                elif c.kind == "prefix":
                    leaf_terms[id(c)] = self.expand_prefix(c.value)
                all_terms.extend(leaf_terms.get(id(c), []))
        shared = self._postings_arrays(all_terms)

        def ids_of(c: qt.Leaf) -> np.ndarray:
            if id(c) in leaf_terms:
                ds = [shared[t][0] for t in leaf_terms[id(c)] if t in shared]
                if not ds:
                    return np.empty(0, dtype=np.int64)
                return np.unique(np.concatenate(ds))
            return self._leaf_ids_fast(c)

        res: np.ndarray | None = None
        for and_node in node.children:
            pos = [c for c in and_node.children if not c.negated]
            neg = [c for c in and_node.children if c.negated]
            acc = ids_of(pos[0])
            for c in pos[1:]:
                acc = np.intersect1d(acc, ids_of(c))
            for c in neg:
                acc = np.setdiff1d(acc, ids_of(c))
            res = acc if res is None else np.union1d(res, acc)
        return res

    def _ranked_fast(self, node: qt.RankedNode, raw_query: str, k: int):
        terms = self._query_terms(raw_query)
        postings = self._postings_arrays(terms)
        # exhaustive scoring, accumulated in sorted-term order — the same
        # canonical summation order as the distributed plan's
        # aggregate(array_sort(collect_list(...)))
        all_docs = (
            np.unique(np.concatenate([d for d, _ in postings.values()]))
            if postings
            else np.empty(0, dtype=np.int64)
        )
        scores = np.zeros(len(all_docs))
        k1, b = self.k1, self.b
        for t in sorted(postings):
            d, tfs = postings[t]
            idf = bm25_idf(self.n_docs, self.term_stats.get(t, (len(d), 0))[0])
            dl = self._doclen_of(d).astype(np.float64)
            tf = tfs.astype(np.float64)
            s = idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / self.avgdl))
            np.add.at(scores, np.searchsorted(all_docs, d), s)
        if any(leaf.kind != "keyword" for leaf in node.children):
            cand: np.ndarray | None = None
            for leaf in node.children:
                d = self._leaf_ids_fast(leaf)
                cand = d if cand is None else np.union1d(cand, d)
            pos = np.searchsorted(all_docs, cand) if len(all_docs) else None
            out = []
            for i, doc in enumerate(cand):
                if (
                    pos is not None
                    and pos[i] < len(all_docs)
                    and all_docs[pos[i]] == doc
                ):
                    out.append((int(doc), float(scores[pos[i]])))
                else:
                    out.append((int(doc), 0.0))
        else:
            out = [(int(d), float(s)) for d, s in zip(all_docs, scores)]
        out.sort(key=lambda x: (-x[1], x[0]))
        return out[:k]

    def _search_fast(self, node, query: str, k: int) -> DataFrame | None:
        try:
            if isinstance(node, qt.OrNode):
                ids = self._boolean_fast(node)
                return _local_df(self.spark, 
                    [(int(x),) for x in ids], "doc_id long"
                )
            rows = self._ranked_fast(node, query, k)
            return _local_df(self.spark, 
                rows, "doc_id long, score double"
            )
        except _FastFallback:
            return None

    # ---- entry point -----------------------------------------------------
    def search(self, query: str, k: int = 10, where=None, boost=None) -> DataFrame:
        """Boolean queries → unranked doc_id set; else BM25 top-k
        (reference dispatch SearchEngine.py:251-292).  Routes through
        the driver-side fast path when its caches are loaded and the
        query fits the Σdf budget; identical results either way.

        ``where`` scopes results to docs passing a metadata predicate
        over the docs-table columns (e.g. ``"lang = 'py'"``,
        ``"repo = 'org/x' AND path LIKE 'src/%'"``) — the code-search
        facility the input table's (repo, path, lang) columns exist
        for.  BM25 stats stay global; scoped queries skip the driver
        fast path (its caches carry no metadata) and route to the
        filtered distributed/serving plans.

        ``boost`` (list of (predicate, factor) pairs) multiplies a
        matching doc's summed BM25 score by the product of its
        predicates' factors before top-k — recency/source/language
        boosting, the standard serving-side ranking control.  Ranked
        queries only (boolean shapes have no score to boost)."""
        node = qt.parse(query)
        if boost and isinstance(node, qt.OrNode):
            raise qt.QueryError(
                "boost applies to ranked queries; boolean shapes have "
                "no score to boost"
            )
        if where is None and boost is None and self.fast_path and not (
            self.phrase_via_positions and _has_phrase(node)
        ):
            # the driver fast path verifies phrases by substring; under
            # phrase_via_positions the positional plans must answer
            res = self._search_fast(node, query, k)
            if res is not None:
                return res
        # NOTE (round 6): a prepared-plan cache (returning the same
        # DataFrame for a repeated query) was prototyped and REJECTED:
        # repeats collapsed to ~0.05 s because AQE reuses the shared
        # DataFrame's already-materialized shuffle stages — i.e. the
        # second run no longer computes from the parquet inputs, which
        # is persisted-intermediate reuse, not planning reuse.  Every
        # search() therefore builds a fresh DataFrame.
        if isinstance(node, qt.OrNode):
            if self._bucket_doclens is not None:
                try:
                    res = self.boolean_docids_bucketed(node)
                except _ServingFallback:
                    res = None  # reply_to / over-budget phrase
            else:
                res = None
            if res is None:
                res = self.boolean_docids(node)
            if where is not None:
                res = res.join(self._allowed_docs(where), "doc_id", "left_semi")
            return res.orderBy("doc_id")
        return self.ranked(node, query, k, where=where, boost=boost)

    def search_page(
        self,
        query: str,
        page_size: int = 100,
        after_doc_id: int | None = None,
        where=None,
    ) -> DataFrame:
        """Keyset-paginated match set: the ``page_size`` smallest
        doc_ids matching ``query`` that are strictly greater than
        ``after_doc_id`` (the last id of the previous page), ordered
        ascending.

        Web-scale serving never ships O(matches) rows per request — a
        Zipf-head boolean query matches most of the corpus.  The page
        key drives three bounds in serving mode: the kernel drops
        ids <= key before they leave numpy, each bucket emits at most
        page_size ids (exact, because per-bucket results are ascending
        over disjoint contiguous doc ranges), and every bucket strictly
        below the key's grid bucket is pruned BEFORE its compressed
        frames shuffle — deep pages cost O(frontier buckets), not
        O(rows already paged).  Ranked (operator-free) queries page
        their MATCH SET — the docs BM25 would score, the OR of the
        leaves; relevance-ordered paging is ``search(query, k)`` with a
        larger k."""
        node = qt.parse(query)
        if isinstance(node, qt.RankedNode):
            if any(c.negated for c in node.children):
                raise qt.QueryError("cannot paginate a negated ranked query")
            node = qt.OrNode([qt.AndNode([c]) for c in node.children])
        if where is not None:
            # metadata scope + pagination: the serving kernel's
            # per-bucket page_size cap runs BEFORE any post-filter could
            # — capped-away ids might have been in-page after filtering,
            # so scoped pages take the distributed plan (semi-join on a
            # pushdown-filtered docs scan), keeping exactness
            rel = self.boolean_docids(node).join(
                self._allowed_docs(where), "doc_id", "left_semi"
            )
            if after_doc_id is not None:
                rel = rel.filter(F.col("doc_id") > after_doc_id)
            return rel.orderBy("doc_id").limit(page_size)
        if self._bucket_doclens is not None:
            try:
                tree, frame_terms = self._compile_serving_tree(node)
                page = self._bucketed_eval(
                    tree,
                    frame_terms,
                    after=after_doc_id,
                    cap=page_size,
                    min_bucket=(
                        self._bucket_of(after_doc_id)
                        if after_doc_id is not None
                        else None
                    ),
                )
                return page.orderBy("doc_id").limit(page_size)
            except _ServingFallback:
                pass  # reply_to / over-budget phrase: distributed
        rel = self.boolean_docids(node)
        if after_doc_id is not None:
            rel = rel.filter(F.col("doc_id") > after_doc_id)
        return rel.orderBy("doc_id").limit(page_size)

    def proximity_rerank(
        self, query: str, k: int = 10, pool: int = 100, weight: float = 0.5
    ) -> DataFrame:
        """Two-stage retrieve-then-rerank — the standard serving
        architecture for position-aware relevance at scale: stage 1
        retrieves the BM25 top-``pool`` candidates (any physical
        strategy), stage 2 fetches ONLY those candidates' position
        lists for the query terms (pruned index scan + semi-join) and
        adds a proximity bonus ``weight / (1 + d)`` where ``d`` is the
        minimum token distance between occurrences of two DISTINCT
        query terms in the doc.  Docs containing fewer than two
        distinct query terms keep their BM25 score unchanged.  The
        expensive positional work is O(pool), never O(corpus) — at
        10^12 docs the rerank cost is fixed by the pool knob.

        The per-doc minimum cross-term distance is exact: in the
        merged position-sorted sequence, the closest pair of
        different-term occurrences is always adjacent (any element
        strictly between a closest cross pair would itself form a
        closer cross pair with one endpoint), so one sort + one
        adjacent-label scan suffices.

        Requires ``store_positions=True`` at build; ranked keyword
        queries only."""
        import pandas as pd

        node = qt.parse(query)
        if not isinstance(node, qt.RankedNode) or any(
            c.kind != "keyword" for c in node.children
        ):
            raise qt.QueryError(
                "proximity_rerank reranks ranked keyword queries"
            )
        terms = sorted(set(self._query_terms(query)))
        base = self.score_terms(terms, k=pool)
        posdf = self._decode_positional(self._index_rows(terms)).join(
            base.select("doc_id"), "doc_id", "left_semi"
        )

        def mind(pdf: pd.DataFrame) -> pd.DataFrame:
            out_d, out_m = [], []
            for doc, g in pdf.groupby("doc_id"):
                if g["term"].nunique() < 2:
                    continue
                arrs = [np.asarray(p, dtype=np.int64) for p in g["positions"]]
                codes = pd.factorize(g["term"])[0]  # label = TERM, not row
                labels = np.concatenate(
                    [
                        np.full(len(a), codes[i], dtype=np.int64)
                        for i, a in enumerate(arrs)
                    ]
                )
                allp = np.concatenate(arrs)
                order = np.argsort(allp, kind="stable")
                sp, sl = allp[order], labels[order]
                gaps = (sp[1:] - sp[:-1])[sl[1:] != sl[:-1]]
                if gaps.size:
                    out_d.append(int(doc))
                    out_m.append(int(gaps.min()))
            return pd.DataFrame({"doc_id": out_d, "mind": out_m})

        md = posdf.groupBy("doc_id").applyInPandas(
            mind, "doc_id long, mind long"
        )
        out = (
            base.join(md, "doc_id", "left")
            .withColumn(
                "score",
                F.col("score")
                + F.when(
                    F.col("mind").isNotNull(),
                    F.lit(float(weight)) / (F.lit(1.0) + F.col("mind")),
                ).otherwise(F.lit(0.0)),
            )
            .drop("mind")
        )
        return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def search_batch(
        self, queries: list[str], k: int = 10, where=None
    ) -> DataFrame:
        """Execute MANY ranked queries in one Spark job →
        (qid, doc_id, score), qid = position in ``queries``, top-k per
        query under (score desc, doc_id asc).

        A serving tier amortizes per-job overhead across concurrent
        requests: Q queries one-at-a-time pay Q × (planning + stage
        launch + frame shuffle), and buckets touched by several queries
        ship the shared terms' frames repeatedly.  Batched, the UNION
        of all queries' terms shuffles ONCE, each bucket decodes each
        term once, and every query reuses the decoded (positions,
        scores) vectors — per-query cost approaches the pure numpy
        accumulation.  Per-query results are bit-identical to
        :meth:`score_terms_bucketed` (same term-sorted float64
        accumulation per query; tested).

        ``where`` applies one metadata scope to every query in the
        batch (per-bucket allowed-id arrays masked in the shared
        kernel, exactly as in :meth:`score_terms_bucketed`).

        Shapes: pure-keyword ranked queries ride the shared kernel;
        ranked queries with phrase/prefix/reply leaves fall back to
        their per-query plans and union in (qid tagged); boolean
        queries are rejected (no score — batch their matched PAGES via
        :meth:`search_page` instead).  Without serving mode every query
        takes the per-query path."""
        parsed = []
        for i, q in enumerate(queries):
            node = qt.parse(q)
            if isinstance(node, qt.OrNode):
                raise qt.QueryError(
                    f"search_batch executes ranked queries; query {i} "
                    f"is boolean: {q!r}"
                )
            parsed.append((i, node, q))
        serving = self._bucket_doclens is not None and self.term_stats is not None
        batched: list[tuple[int, list[str]]] = []
        fallback: list[tuple[int, "qt.RankedNode", str]] = []
        for i, node, raw in parsed:
            if serving and all(c.kind == "keyword" for c in node.children):
                terms = self._query_terms(raw)
                batched.append(
                    (
                        i,
                        sorted(
                            {
                                t
                                for t in terms
                                if self.term_stats.get(t, (0, 0))[0] > 0
                            }
                        ),
                    )
                )
            else:
                fallback.append((i, node, raw))
        outs = []
        if batched:
            outs.append(self._score_batch_bucketed(batched, k, where=where))
        for i, node, raw in fallback:
            outs.append(
                self.ranked(node, raw, k, where=where).select(
                    F.lit(i).cast("int").alias("qid"), "doc_id", "score"
                )
            )
        if not outs:
            return _local_df(self.spark, 
                [], "qid int, doc_id long, score double"
            )
        res = outs[0]
        for o in outs[1:]:
            res = res.unionByName(o)
        return res.orderBy("qid", F.desc("score"), F.asc("doc_id"))

    def _score_batch_bucketed(
        self, batched: list[tuple[int, list[str]]], k: int | None, where=None
    ) -> DataFrame:
        """Shared bucket-local DAAT kernel for a batch of keyword
        queries: one frames shuffle for the union of terms; per bucket,
        each term decodes + scores ONCE into (positions, scores)
        vectors, then each query accumulates its own terms' vectors in
        term-sorted order (the single-query float64 sequence) and emits
        its local top-k.  Global per-query top-k is a window over
        O(k × buckets × Q) rows."""
        import pandas as pd

        qspec = [(qid, terms) for qid, terms in batched if terms]
        empty = _local_df(self.spark, 
            [], "qid int, doc_id long, score double"
        )
        if not qspec:
            return empty
        all_terms = sorted({t for _, ts in qspec for t in ts})
        idf = {t: bm25_idf(self.n_docs, self.term_stats[t][0]) for t in all_terms}
        k1, b, avgdl = self.k1, self.b, self.avgdl

        joined = (
            self._index_rows(all_terms)
            .groupBy("bucket")
            .agg(F.collect_list(F.struct("term", "postings")).alias("frames"))
            .join(self._bucket_doclens, "bucket")
        )
        if where is not None:
            # same per-bucket allowed-id arrays as score_terms_bucketed
            allowed = (
                self.docs.filter(self._where_cond(where))
                .select("doc_id")
                .withColumn("bucket", self._bexpr)
                .where(F.col("bucket").isNotNull())
                .groupBy("bucket")
                .agg(F.sort_array(F.collect_list("doc_id")).alias("allow_ids"))
            )
            joined = joined.join(allowed, "bucket").select(
                "bucket", "frames", "dl_ids", "dl_lens", "allow_ids"
            )
        else:
            joined = joined.select("bucket", "frames", "dl_ids", "dl_lens")
        cache_tag = (
            (self.index_dir, self.version) if self.frame_cache else None
        )

        def gen(batches):
            for pdf in batches:
                out_q, out_d, out_s = [], [], []
                allow_col = (
                    pdf["allow_ids"]
                    if "allow_ids" in pdf.columns
                    else [None] * len(pdf)
                )
                for bkt, frames, dl_ids, dl_lens, allow in zip(
                    pdf["bucket"], pdf["frames"], pdf["dl_ids"],
                    pdf["dl_lens"], allow_col,
                ):
                    ids = np.asarray(dl_ids, dtype=np.int64)
                    lens = np.asarray(dl_lens, dtype=np.float64)
                    svec: dict[str, tuple[np.ndarray, np.ndarray]] = {}
                    for fr in frames:
                        d, t, _ = _cached_decode(
                            cache_tag, fr["term"], bkt,
                            bytes(fr["postings"]), want_positions=False,
                        )
                        pos = np.searchsorted(ids, d)
                        pos_c = (
                            np.minimum(pos, len(ids) - 1) if len(ids) else pos
                        )
                        # same cache-invariant check as the single-query
                        # kernel: a posting doc absent from the bucket's
                        # doclen array must fail loudly, not mis-credit
                        if len(ids) == 0 or not np.array_equal(ids[pos_c], d):
                            raise ValueError(
                                "serving doclen cache is missing posting "
                                f"doc_ids for term {fr['term']!r}: the "
                                "docs table and the index disagree — "
                                "rebuild or reload() the engine"
                            )
                        tf = t.astype(np.float64)
                        s = (
                            idf[fr["term"]]
                            * (tf * (k1 + 1))
                            / (tf + k1 * (1 - b + b * lens[pos_c] / avgdl))
                        )
                        svec[fr["term"]] = (pos_c, s)
                    allow_mask = (
                        _sorted_member(ids, np.asarray(allow, dtype=np.int64))
                        if allow is not None
                        else None
                    )
                    for qid, terms in qspec:
                        acc = np.zeros(len(ids))
                        touched = np.zeros(len(ids), dtype=bool)
                        for t in terms:  # sorted ⇒ single-query order
                            hit = svec.get(t)
                            if hit is None:
                                continue  # term absent from this bucket
                            pos, s = hit
                            acc[pos] += s
                            touched[pos] = True
                        if allow_mask is not None:
                            touched &= allow_mask
                        bd, bs = ids[touched], acc[touched]
                        if k:
                            bd, bs = _local_topk(bd, bs, k)
                        if len(bd):
                            out_q.append(np.full(len(bd), qid, dtype=np.int32))
                            out_d.append(bd)
                            out_s.append(bs)
                if out_q:
                    yield pd.DataFrame(
                        {
                            "qid": np.concatenate(out_q),
                            "doc_id": np.concatenate(out_d),
                            "score": np.concatenate(out_s),
                        }
                    )

        scored = joined.mapInPandas(gen, "qid int, doc_id long, score double")
        if k:
            from pyspark.sql import Window

            w = Window.partitionBy("qid").orderBy(
                F.desc("score"), F.asc("doc_id")
            )
            scored = (
                scored.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") <= k)
                .drop("rn")
            )
        return scored


def _has_phrase(node) -> bool:
    """True if the parsed tree contains a phrase / phrase_prefix leaf."""
    if isinstance(node, qt.RankedNode):
        return any(c.kind in ("phrase", "phrase_prefix") for c in node.children)
    return any(
        c.kind in ("phrase", "phrase_prefix")
        for a in node.children
        for c in a.children
    )




# ---- WAND fast path (numpy, block-max) ----------------------------------
def wand_topk(
    postings: dict[str, tuple[np.ndarray, np.ndarray]],
    dfs: dict[str, int],
    doclens: np.ndarray,
    n_docs: int,
    avgdl: float,
    k: int,
    k1: float = 1.2,
    b: float = 0.75,
    block_size: int = 128,
) -> list[tuple[int, float]]:
    """Block-max WAND top-k over decoded postings (Ding & Suel BMW).

    ``postings[term] = (doc_ids ascending, tfs)``; ``doclens`` is indexed
    by doc_id.  Upper bound per block: idf * maxtf*(k1+1)/(maxtf+k1*(1-b))
    (doclen→0 bound — valid since tfp decreases in doclen).

    Soundness split (this is what makes pruning correct):

    * pivot selection AND termination use each term's **global** upper
      bound (max over all its blocks) — a block-local UB does not bound
      later blocks, so using it there silently drops high-tf docs in
      later blocks;
    * the per-**block** maxima are only the secondary check: when the
      lists aligned at the pivot can't beat the threshold even by their
      current-block bounds, skip to the nearest block boundary instead
      of scoring.

    Returns [(doc_id, score)] sorted by (-score, doc_id): identical
    results to the exhaustive plan, fewer scored docs.
    """
    terms = [t for t in postings if len(postings[t][0])]
    if not terms:
        return []
    idf = {t: bm25_idf(n_docs, dfs[t]) for t in terms}

    # per-term block maxima + global term bound
    block_ub: dict[str, np.ndarray] = {}
    block_last: dict[str, np.ndarray] = {}
    term_gub: dict[str, float] = {}
    for t in terms:
        tfs = postings[t][1].astype(np.float64)
        docs = postings[t][0]
        nb = (len(docs) + block_size - 1) // block_size
        ubs = np.empty(nb)
        last = np.empty(nb, dtype=np.int64)
        for i in range(nb):
            mt = tfs[i * block_size : (i + 1) * block_size].max()
            ubs[i] = idf[t] * (mt * (k1 + 1)) / (mt + k1 * (1 - b))
            last[i] = docs[min((i + 1) * block_size, len(docs)) - 1]
        block_ub[t] = ubs
        block_last[t] = last
        term_gub[t] = float(ubs.max())

    cursors = {t: 0 for t in terms}
    heap: list[tuple[float, int]] = []  # (score, -doc_id) min-heap of top-k
    threshold = -math.inf

    def cur_doc(t: str) -> int:
        return int(postings[t][0][cursors[t]])

    def cur_block(t: str, doc: int) -> int:
        return int(np.searchsorted(block_last[t], doc))

    while True:
        live = [t for t in terms if cursors[t] < len(postings[t][0])]
        if not live:
            break
        live.sort(key=lambda t: (cur_doc(t), t))
        # pivot: smallest prefix whose GLOBAL UB sum can beat OR TIE the
        # threshold — ties must not be pruned: a doc scoring exactly the
        # k-th heap score could win the (-score, doc_id) tie-break, so
        # pruning uses strict <, candidacy uses >= (conservative)
        acc = 0.0
        pivot_i = None
        for i, t in enumerate(live):
            acc += term_gub[t]
            if len(heap) < k or acc >= threshold:
                pivot_i = i
                break
        if pivot_i is None:
            break  # sound: global UBs bound every remaining posting
        pivot_doc = cur_doc(live[pivot_i])
        first_doc = cur_doc(live[0])
        if first_doc == pivot_doc:
            # all lists positioned AT pivot_doc (sorted ⇒ the aligned
            # set is every live term whose current doc equals the pivot)
            eq_terms = [t for t in live if cur_doc(t) == pivot_doc]
            gt_docs = [cur_doc(t) for t in live if cur_doc(t) > pivot_doc]
            eq_blocks = {t: cur_block(t, pivot_doc) for t in eq_terms}
            block_bound = sum(float(block_ub[t][eq_blocks[t]]) for t in eq_terms)
            if len(heap) == k and block_bound < threshold:
                # block-max skip: no doc in [pivot_doc, d') can beat the
                # threshold — only eq_terms occur there (others' cursors
                # are >= d') and each is bounded by its CURRENT block max
                d_prime = min(
                    int(block_last[t][eq_blocks[t]]) for t in eq_terms
                ) + 1
                if gt_docs:
                    d_prime = min(d_prime, min(gt_docs))
                d_prime = max(d_prime, pivot_doc + 1)  # guaranteed progress
                for t in eq_terms:
                    cursors[t] = int(np.searchsorted(postings[t][0], d_prime))
                continue
            if isinstance(doclens, dict):  # sparse (hashed doc_ids)
                dl = float(doclens.get(pivot_doc, 0))
            else:
                dl = float(doclens[pivot_doc]) if pivot_doc < len(doclens) else 0.0
            score = 0.0
            for t in sorted(eq_terms):
                tf = float(postings[t][1][cursors[t]])
                score += (
                    idf[t]
                    * (tf * (k1 + 1))
                    / (tf + k1 * (1 - b + b * dl / avgdl))
                )
                cursors[t] += 1
            item = (score, -pivot_doc)
            if len(heap) < k:
                heapq.heappush(heap, item)
            elif item > heap[0]:
                heapq.heapreplace(heap, item)
            if len(heap) == k:
                threshold = heap[0][0]
        else:
            # advance all pre-pivot cursors to >= pivot_doc
            for t in live[:pivot_i]:
                docs = postings[t][0]
                cursors[t] = int(np.searchsorted(docs, pivot_doc))
    out = sorted(heap, key=lambda x: (-x[0], -x[1]))
    return [(-d, s) for s, d in out]
