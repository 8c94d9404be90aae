"""Seeded input generator shared by every workload.

One ``random.Random``/``numpy`` seed produces, deterministically:

* a code-like corpus: a Zipf head of keywords, camelCase/snake_case
  identifiers, stemmable English words, a long tail of rare identifiers
  and literals, log-normal file sizes;
* append batches for the ingest workload (each doc carries a batch
  marker token so its visibility can be checked);
* a near-duplicate corpus with planted clusters at known edit rates;
* a query stream over the 13 non-``ReplyTo`` shapes of
  ``examples/queries.txt``, in fixed proportions, with terms drawn by
  Zipf rank from the corpus's own vocabulary and phrases cut from
  adjacent tokens that occur in the corpus.

The distribution parameters (Zipf exponent and offset, identifier and
literal shares, document size distribution, license-header share) are
assumptions chosen to look like source code, not values fitted to a
measured corpus.

Nothing here imports Spark: the program under test only ever receives
the generated rows and query strings.
"""

from __future__ import annotations

import hashlib
import random
import re

import numpy as np

_KEYWORDS = (
    "return if else for while def class import self true false none null "
    "const static public private void int string new try catch throw "
    "case switch break continue let var func package struct interface "
    "from async await yield lambda with assert final this super"
).split()

_ENGLISH = (
    "merge index query posting buffer offset partition shuffle window "
    "value table token stream parse request compress relation optimize "
    "character segment document collect filter reduce schedule execute "
    "process handle connect register update delete insert select create "
    "resolve encode decode serialize allocate release commit refresh "
    "search match score rank cache load store write read open close "
    "build compile render format validate convert split join sort count"
).split()

_SUFFIXES = ("", "s", "ing", "ed", "er", "ation", "ly", "ment")

_SYLL = (
    "ka ri to mo na lu be si da ve po gra tin sel mar qu ox fen dul "
    "zor pli wen yat hu cre stam bol nix rad em"
).split()

# query shapes, in the fixed order the stream cycles through (equal shares)
SHAPES = (
    "keyword", "and", "ranked_2term", "not", "phrase", "or_phrase",
    "prefix", "and4", "ranked_3term", "not_prefix", "phrase_4word",
    "and_phrase", "ranked_mixed", "phrase_prefix",
)

_TOK = re.compile(r"[A-Za-z0-9_]+")


def build_vocab(rng: random.Random, size: int) -> list[str]:
    """Zipf-ordered vocabulary: keywords first, then stemmable English
    word forms, then seeded pseudo-words for the tail."""
    words: list[str] = list(_KEYWORDS)
    forms = [w + s for w in _ENGLISH for s in _SUFFIXES]
    rng.shuffle(forms)
    words += forms
    seen = set(words)
    while len(words) < size:
        w = "".join(rng.choice(_SYLL) for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words[:size]


def zipf_probs(n: int, s: float = 1.05) -> np.ndarray:
    p = 1.0 / np.power(np.arange(1, n + 1, dtype=np.float64) + 1.7, s)
    return p / p.sum()


class Generator:
    """All inputs of one run, a pure function of ``seed`` and sizes."""

    def __init__(self, seed: int, vocab_size: int = 20_000):
        self.seed = seed
        self.rng = random.Random(seed)
        self.np = np.random.default_rng(seed)
        self.vocab = build_vocab(self.rng, vocab_size)
        self.probs = zipf_probs(len(self.vocab))

    # ---- documents -----------------------------------------------------
    def _words(self, n: int) -> list[str]:
        return [self.vocab[i] for i in self.np.choice(len(self.vocab), n, p=self.probs)]

    def _token(self, w: str, r: float) -> str:
        if r < 0.08:  # camelCase identifier
            a, b = self._words(2)
            return a + b[:1].upper() + b[1:]
        if r < 0.13:  # snake_case identifier
            a, b = self._words(2)
            return f"{a}_{b}"
        if r < 0.135:  # rare literal: hex, number, or one-off identifier
            k = self.rng.random()
            if k < 0.4:
                return f"0x{self.rng.getrandbits(24):06x}"
            if k < 0.7:
                return str(self.rng.randint(100, 99_999))
            return "id" + "".join(self.rng.choice("bcdfghjkmnpqrstvwxz") for _ in range(7))
        return w

    def content(self, n_tokens: int) -> str:
        words = self._words(n_tokens)
        rs = self.np.random(n_tokens)
        toks = [self._token(w, r) for w, r in zip(words, rs)]
        lines, i = [], 0
        while i < len(toks):
            k = self.rng.randint(3, 11)
            indent = "    " * self.rng.randint(0, 2)
            end = self.rng.choice(("", "", ":", ";", " {", "()"))
            lines.append(indent + " ".join(toks[i : i + k]) + end)
            i += k
        return "\n".join(lines)

    def doc_sizes(self, n: int, median_tokens: float) -> np.ndarray:
        s = self.np.lognormal(np.log(median_tokens), 0.8, n)
        return np.clip(s, 8, 40 * median_tokens).astype(int)

    def corpus(self, n_docs: int, median_tokens: float = 110, ids=None,
               marker: str | None = None) -> list[dict]:
        """Rows of the input-hint table (doc_id, repo, path, commit,
        lang, content); doc ids are ``ids`` (default ``0 .. n_docs-1``).
        ``marker`` is appended to every doc's content."""
        langs = ("py", "java", "c", "go", "md")
        ids = range(n_docs) if ids is None else [int(i) for i in ids]
        rows = []
        for i, n_tok in zip(ids, self.doc_sizes(n_docs, median_tokens)):
            text = self.content(int(n_tok))
            if marker:
                text += f"\n# {marker}"
            repo = f"org/repo{i % 16}"
            path = f"src/m{i // 16}/f{i}.{langs[i % 5]}"
            rows.append({
                "doc_id": i, "repo": repo, "path": path,
                "commit": hashlib.sha1(f"{repo}/{path}@{self.seed}".encode()).hexdigest(),
                "lang": langs[i % 5], "content": text,
            })
        return rows

    # ---- near-duplicate corpus -----------------------------------------
    def near_dup_corpus(self, n_background: int, n_clusters: int,
                        edit_rates=(0.02, 0.05, 0.1, 0.2, 0.4),
                        header_share: float = 0.75,
                        median_tokens: float = 90) -> tuple[list[dict], list[tuple]]:
        """Background docs plus ``n_clusters`` planted clusters: a base
        doc and one variant per edit rate, where each token is replaced
        (by a Zipf-drawn word) with that probability.  ``header_share``
        of the background docs and cluster bases start with the same
        license header, the boilerplate whose shingles are ubiquitous in
        code corpora.  Returns rows and the planted pairs
        ``(doc_a, doc_b)`` with doc_a < doc_b."""
        header = (f"# Copyright {self.rng.randint(2000, 2030)} The Project Authors. "
                  "Licensed under the Apache License, Version 2.0;\n"
                  "# you may not use this file except in compliance with the License.\n")
        rows = self.corpus(n_background, median_tokens)
        for r in rows:
            if self.rng.random() < header_share:
                r["content"] = header + r["content"]
        planted = []
        nid = n_background
        for _ in range(n_clusters):
            base = self.content(int(self.doc_sizes(1, median_tokens * 1.5)[0]) + 30)
            if self.rng.random() < header_share:
                base = header + base
            ids = [nid]
            rows.append({"doc_id": nid, "content": base})
            nid += 1
            for rate in edit_rates:
                text = _TOK.sub(
                    lambda m: self._words(1)[0] if self.rng.random() < rate else m.group(0),
                    base,
                )
                rows.append({"doc_id": nid, "content": text})
                ids.append(nid)
                nid += 1
            planted += [(a, b) for k, a in enumerate(ids) for b in ids[k + 1 :]]
        for r in rows:
            r.setdefault("repo", "org/dups")
            r.setdefault("path", f"dup/{r['doc_id']}.py")
            r.setdefault("commit", "0" * 40)
            r.setdefault("lang", "py")
        return rows, planted

    # ---- query stream --------------------------------------------------
    def query_stream(self, rows: list[dict], n_queries: int) -> list[tuple[str, str]]:
        """``(shape, query)`` pairs cycling through SHAPES; terms by Zipf
        rank over the vocabulary, phrases cut from adjacent same-line
        tokens of random corpus docs."""
        rng = self.rng

        def word() -> str:
            return self._words(1)[0]

        def phrase(n: int) -> str:
            while True:
                line = rng.choice(rng.choice(rows)["content"].split("\n")).strip()
                toks = line.split(" ")
                if len(toks) >= n and all(_TOK.fullmatch(t) for t in toks):
                    i = rng.randint(0, len(toks) - n)
                    return " ".join(toks[i : i + n])

        def prefix() -> str:
            w = self.vocab[rng.randint(40, min(2000, len(self.vocab) - 1))]
            return w[: max(3, min(5, len(w) - 1))].lower()

        out = []
        for q in range(n_queries):
            shape = SHAPES[q % len(SHAPES)]
            if shape == "keyword":
                s = word()
            elif shape == "ranked_2term":
                s = f"{word()} {word()}"
            elif shape == "ranked_3term":
                s = f"{word()} {word()} {word()}"
            elif shape == "ranked_mixed":
                s = f"{word()} {word()} '{phrase(2)}'"
            elif shape == "phrase":
                s = f"'{phrase(2)}'"
            elif shape == "phrase_4word":
                s = f"'{phrase(4)}'"
            elif shape == "prefix":
                s = f"{prefix()}*"
            elif shape == "phrase_prefix":
                # boolean context: a standalone 'a b'* is a ranked query
                # whose quote-stripped bare '*' expands to the whole
                # vocabulary (see perfbench/README.md)
                p = phrase(2)
                head, last = p.rsplit(" ", 1)
                s = f"'{head} {last[: max(2, len(last) // 2)]}'* OR {word()}"
            elif shape == "and":
                s = f"{word()} AND {word()}"
            elif shape == "and4":
                s = " AND ".join(word() for _ in range(4))
            elif shape == "not":
                s = f"{word()} NOT {word()}"
            elif shape == "or_phrase":
                s = f"{word()} OR '{phrase(2)}'"
            elif shape == "not_prefix":
                s = f"{word()} NOT {prefix()}*"
            else:  # and_phrase
                s = f"{word()} AND '{phrase(2)}'"
            out.append((shape, s))
        return out


def sha256_hex(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def distinct_raw_tokens(rows: list[dict]) -> int:
    """Distinct raw tokens — the key space of the worker analyzer memo."""
    seen: set[str] = set()
    for r in rows:
        seen.update(_TOK.findall(r["content"]))
    return len(seen)
