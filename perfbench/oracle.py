"""Reference answers for every benchmark operation.

Independent of the engine except for the analyzer (the same contract as
``tests/oracle.py``): postings, BM25, the boolean algebra, the query
grammar and phrase verification are re-implemented here with plain
Python/numpy over the generated rows.

Semantics mirrored from the reference engine:

* a ranked query scores the disjunction of its terms: the quote-stripped
  query split on whitespace, where a token ending in ``*`` expands to
  every indexed term with that prefix and every other token goes
  through the analyzer; when any leaf is a phrase or prefix, only docs
  matching some leaf are returned (with score 0 if no term matched);
* a phrase matches a doc that holds every analyzed phrase term and whose
  lower-cased content contains the phrase (``'a b'*``: ``"a b"`` with
  ``b`` a prefix) as a literal substring;
* boolean queries are an OR of ANDs, ``NOT x`` binding to one leaf.
"""

from __future__ import annotations

import math
import re
from bisect import bisect_left

import numpy as np
import pandas as pd

from informationretrieval_en_people_cn_spark.functions.analyze import analyze_batch

_QTOK = re.compile(r"'[^']+'\*?|\S+")
_SHINGLE_TOK = re.compile(r"[a-z0-9_]+")
SCORE_RTOL = 1e-9


def analyze_docs(contents) -> list[list[str]]:
    return list(analyze_batch(pd.Series(list(contents), dtype=object)))


class Oracle:
    def __init__(self, rows: list[dict], k1: float = 1.2, b: float = 0.75):
        self.k1, self.b = k1, b
        self.content = {r["doc_id"]: r["content"].lower() for r in rows}
        post: dict[str, dict[int, int]] = {}
        self.doclen: dict[int, int] = {}
        for r, terms in zip(rows, analyze_docs(r["content"] for r in rows)):
            d = r["doc_id"]
            self.doclen[d] = len(terms)
            for t in terms:
                pd_ = post.setdefault(t, {})
                pd_[d] = pd_.get(d, 0) + 1
        self.postings = {
            t: (np.fromiter(m.keys(), np.int64, len(m)), np.fromiter(m.values(), np.int64, len(m)))
            for t, m in post.items()
        }
        self.vocab = sorted(self.postings)
        self.n_docs = len(self.doclen)
        self.avgdl = (sum(self.doclen.values()) / self.n_docs) if self.n_docs else 1.0
        ids = np.fromiter(self.doclen.keys(), np.int64, self.n_docs)
        self._dl_ids = np.sort(ids)
        self._dl = np.array([self.doclen[int(i)] for i in self._dl_ids], dtype=np.float64)

    # ---- term-level ---------------------------------------------------
    def df(self, term: str) -> int:
        p = self.postings.get(term)
        return 0 if p is None else len(p[0])

    def cf(self, term: str) -> int:
        p = self.postings.get(term)
        return 0 if p is None else int(p[1].sum())

    def expand(self, prefix: str) -> list[str]:
        p = prefix.lower()
        i = bisect_left(self.vocab, p)
        out = []
        while i < len(self.vocab) and self.vocab[i].startswith(p):
            out.append(self.vocab[i])
            i += 1
        return out

    def terms_of(self, text: str) -> list[str]:
        return analyze_docs([text])[0]

    def docs_with(self, terms) -> set[int]:
        out: set[int] = set()
        for t in terms:
            if t in self.postings:
                out.update(self.postings[t][0].tolist())
        return out

    # ---- leaves ---------------------------------------------------------
    def _phrase_docs(self, phrase: str, suffix: str = "") -> set[int]:
        terms = self.terms_of(phrase)
        needle = f"{phrase} {suffix}".strip().lower()
        if not terms:
            return self.docs_with(self.expand(suffix)) if suffix else set()
        cand = None
        for t in set(terms):
            ds = set(self.postings[t][0].tolist()) if t in self.postings else set()
            cand = ds if cand is None else cand & ds
        return {d for d in cand if needle in self.content[d]}

    def leaf_docs(self, tok: str) -> set[int]:
        if tok.startswith("'"):
            if tok.endswith("'*"):
                head, _, suffix = tok[1:-2].rpartition(" ")
                if not head:  # single-word body: a plain prefix
                    return self.docs_with(self.expand(suffix))
                return self._phrase_docs(head, suffix)
            return self._phrase_docs(tok[1:-1])
        if tok.endswith("*"):
            return self.docs_with(self.expand(tok[:-1]))
        return self.docs_with(self.terms_of(tok))

    # ---- queries --------------------------------------------------------
    def is_boolean(self, query: str) -> bool:
        return any(t in ("AND", "OR", "NOT") for t in _QTOK.findall(query))

    def boolean(self, query: str) -> list[int]:
        res: set[int] = set()
        for group in " ".join(_QTOK.findall(query)).split(" OR "):
            toks = _QTOK.findall(group.replace(" NOT ", " AND NOT "))
            pos, neg, negate = [], [], False
            for t in toks:
                if t == "AND":
                    continue
                if t == "NOT":
                    negate = True
                    continue
                (neg if negate else pos).append(t)
                negate = False
            acc = self.leaf_docs(pos[0])
            for t in pos[1:]:
                acc &= self.leaf_docs(t)
            for t in neg:
                acc -= self.leaf_docs(t)
            res |= acc
        return sorted(res)

    def ranked(self, query: str) -> list[tuple[int, float]]:
        """Every candidate doc with its score, in rank order."""
        words, terms = [], []
        for tok in query.replace("'", " ").split():
            if tok.lower().startswith("replyto:"):
                continue
            if tok.endswith("*"):
                terms += self.expand(tok.rstrip("*"))
            else:
                words.append(tok)
        terms = sorted(set(self.terms_of(" ".join(words)) + terms))
        k1, b = self.k1, self.b
        scores: dict[int, float] = {}
        for t in terms:  # canonical term-sorted summation order
            if t not in self.postings:
                continue
            d, tf = self.postings[t]
            n_t = len(d)
            idf = math.log(1.0 + (self.n_docs - n_t + 0.5) / (n_t + 0.5))
            dl = self._dl[np.searchsorted(self._dl_ids, d)]
            tf = tf.astype(np.float64)
            s = idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / self.avgdl))
            for doc, v in zip(d.tolist(), s.tolist()):
                scores[doc] = scores.get(doc, 0.0) + v
        leaves = _QTOK.findall(query)
        if any(t.startswith("'") or t.endswith("*") for t in leaves):
            cand: set[int] = set()
            for t in leaves:
                cand |= self.leaf_docs(t)
            items = [(d, scores.get(d, 0.0)) for d in cand]
        else:
            items = list(scores.items())
        items.sort(key=lambda x: (-x[1], x[0]))
        return items

    def sum_df(self, query: str) -> int:
        """Σdf over the query's scoring and leaf terms (fast-path budget)."""
        terms = set()
        for tok in query.replace("'", " ").split():
            if tok in ("AND", "OR", "NOT"):
                continue
            terms.update(self.expand(tok.rstrip("*")) if tok.endswith("*") else self.terms_of(tok))
        return sum(self.df(t) for t in terms)


def check_ranked(got: list[tuple[int, float]], want: list[tuple[int, float]],
                 oracle_score) -> str | None:
    """None when ``got`` is a valid top-k for the reference ranking: same
    length, the same score at every rank, and every returned doc really
    holds that score (ties at the cut may be broken either way)."""
    if len(got) != len(want):
        return f"{len(got)} rows, want {len(want)}"
    if len({d for d, _ in got}) != len(got):
        return "duplicate doc_id"
    for i, ((gd, gs), (_, ws)) in enumerate(zip(got, want)):
        if not math.isclose(gs, ws, rel_tol=SCORE_RTOL, abs_tol=1e-12):
            return f"rank {i}: score {gs!r}, want {ws!r}"
        os_ = oracle_score(gd)
        if os_ is None or not math.isclose(gs, os_, rel_tol=SCORE_RTOL, abs_tol=1e-12):
            return f"rank {i}: doc {gd} scored {gs!r}, reference {os_!r}"
    return None


def shingles(text: str, n: int = 2) -> set[str]:
    toks = [t for t in _SHINGLE_TOK.findall(text.lower()) if 2 <= len(t) <= 128]
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: set, b: set) -> float:
    if not a and not b:
        return 0.0
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def ngram_pairs(sh: dict[int, set], threshold: float,
                max_df: int | None = None) -> dict[tuple[int, int], float]:
    """Reference result of ``ngram_jaccard_pairs`` over the docs' shingle
    sets: every pair ``(a, b)``, ``a < b``, whose score is at least
    ``threshold``.  The score is ``|A ∩ B| / (|A| + |B| - |A ∩ B|)``,
    where with ``max_df`` the shared shingles held by more than
    ``max_df`` docs are left out of ``|A ∩ B|`` (but not of ``|A|`` and
    ``|B|``), as the operator's capped plan computes it."""
    holders: dict[str, list[int]] = {}
    for d in sorted(sh):
        for s in sh[d]:
            holders.setdefault(s, []).append(d)
    inter: dict[tuple[int, int], int] = {}
    for docs in holders.values():
        if len(docs) < 2 or (max_df is not None and len(docs) > max_df):
            continue
        for k, a in enumerate(docs):
            for b in docs[k + 1 :]:
                inter[(a, b)] = inter.get((a, b), 0) + 1
    out = {}
    for (a, b), i in inter.items():
        j = i / (len(sh[a]) + len(sh[b]) - i)
        if j >= threshold:
            out[(a, b)] = j
    return out


def compare_pairs(got: dict[tuple[int, int], float],
                  want: dict[tuple[int, int], float]) -> str | None:
    """None when ``got`` holds exactly the pairs of ``want``, each with
    its reference score."""
    if got.keys() != want.keys():
        missing, extra = want.keys() - got.keys(), got.keys() - want.keys()
        return (f"{len(missing)} pairs missing (e.g. {sorted(missing)[:3]}), "
                f"{len(extra)} extra (e.g. {sorted(extra)[:3]})")
    bad = [p for p, j in want.items() if not math.isclose(got[p], j, rel_tol=1e-12)]
    return f"{len(bad)} scores differ (e.g. {bad[:3]})" if bad else None
