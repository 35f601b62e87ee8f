"""Datapipe query templates for the interactive client, and their
reference outside Spark.

Each template runs one ``datapipe`` stage on a window of 200 documents of
the generated corpus: ``quality_filter``, ``exact_duplicates``,
``minhash_signatures``, ``lsh_candidate_pairs``, ``ngram_jaccard``
verification, ``dedup_clusters``, ``decontaminate`` against the held-out
slice and ``token_budget_select``. Stages that take pairs get the
reference's pairs for that window as their input, so each template times
one stage. The reference recomputes every stage in plain Python; results
are compared as sorted rows.
"""

from __future__ import annotations

import hashlib
import re
from collections import defaultdict

from pyspark.sql import functions as F

from aeon_mecha_spark.datapipe.curation import decontaminate, quality_filter, token_budget_select
from aeon_mecha_spark.datapipe.dedup import (dedup_clusters, exact_duplicates, lsh_candidate_pairs,
                                             minhash_signatures, ngram_jaccard)
from aeon_mecha_spark.functions.text import token_count

K, NUM_HASHES, BANDS = 3, 8, 4
JACCARD_MIN = 0.5
BUDGET_SHARE = 0.4
WINDOW = 200
_PUNCT = re.compile(r"[A-Za-z0-9\s]")


def _shingles(toks: list[str]) -> list[str]:
    if len(toks) >= K:
        return [" ".join(toks[i:i + K]) for i in range(len(toks) - K + 1)]
    return [" ".join(toks)]


def _tokens(text: str) -> list[str]:
    # generated texts are single-space separated with no outer spaces
    return text.split(" ") if text.strip(" ") else []


class Reference:
    """Every stage's expected rows for one document window."""

    def __init__(self, docs: list[tuple[int, str, float]], heldout: list[tuple[int, str]]):
        self.text = {i: t for i, t, _s in docs}
        self.score = {i: s for i, _t, s in docs}
        self.toks = {i: _tokens(t) for i, t in self.text.items()}
        self.sets = {i: set(_shingles(tk)) for i, tk in self.toks.items()}
        self.bench = set()
        for _i, t in heldout:
            self.bench |= set(_shingles(_tokens(t)))
        # the pair inputs of the verify and clusters templates, computed
        # here so that no reference work runs inside a timed query
        self.pairs = self.lsh()
        self.verified = self.jaccard(self.pairs)

    def quality(self) -> list[tuple]:
        out = []
        for i, t in self.text.items():
            tk = self.toks[i]
            n = len(tk)
            mtl = sum(len(w) for w in tk) / n if n else 0.0
            pr = len(_PUNCT.sub("", t)) / len(t) if t else 0.0
            sh = _shingles(tk)
            rep = 1.0 - len(set(sh)) / len(sh) if sh else 0.0
            if 5 <= n <= 100_000 and 2.0 <= mtl <= 12.0 and pr <= 0.3 and rep <= 0.5:
                out.append((i,))
        return out

    def exact(self) -> list[tuple]:
        groups: dict[str, list[int]] = defaultdict(list)
        for i, t in self.text.items():
            groups[hashlib.md5(t.encode()).hexdigest()].append(i)
        return [(h, min(ids), len(ids)) for h, ids in groups.items()]

    def minhash(self) -> dict[int, list[int]]:
        sig = {}
        for i, s in self.sets.items():
            hs = []
            for seed in range((NUM_HASHES + 1) // 2):
                ms = [hashlib.md5(f"{seed}:{x}".encode()).hexdigest() for x in s]
                hs += [int(min(m[0:15] for m in ms), 16), int(min(m[15:30] for m in ms), 16)]
            sig[i] = hs[:NUM_HASHES]
        return sig

    def lsh(self) -> list[tuple]:
        rows = NUM_HASHES // BANDS
        buckets = defaultdict(list)
        for i, hs in self.minhash().items():
            for b in range(BANDS):
                key = ",".join(str(v) for v in hs[b * rows:(b + 1) * rows])
                buckets[(b, hashlib.md5(key.encode()).hexdigest())].append(i)
        return sorted({(x, y) for ids in buckets.values() for x in ids for y in ids if x < y})

    def jaccard(self, pairs) -> list[tuple]:
        out = []
        for a, b in pairs:
            j = len(self.sets[a] & self.sets[b]) / len(self.sets[a] | self.sets[b])
            if j >= JACCARD_MIN:
                out.append((a, b, j))
        return out

    def clusters(self, pairs) -> tuple[list[tuple], int]:
        """Connected components by synchronous min-label propagation, and
        the rounds the program's loop runs for them (the last changes
        nothing)."""
        adj = defaultdict(set)
        for a, b in pairs:
            adj[a].add(b)
            adj[b].add(a)
        label = {v: v for v in adj}
        rounds = 0
        while True:
            rounds += 1
            new = {v: min([label[v]] + [label[u] for u in adj[v]]) for v in adj}
            changed = sum(new[v] != label[v] for v in adj)
            label = new
            if changed == 0:
                return sorted(label.items()), rounds

    def decontaminate(self) -> list[tuple]:
        return [(i, len(s), len(s & self.bench)) for i, s in self.sets.items()]

    def budget(self) -> int:
        return int(BUDGET_SHARE * sum(len(tk) for tk in self.toks.values()))

    def select(self) -> list[tuple]:
        budget, cum, out = self.budget(), 0, []
        for i in sorted(self.text, key=lambda i: (-self.score[i], i)):
            cum += len(self.toks[i])
            if cum > budget:
                break
            out.append((i, len(self.toks[i]), self.score[i], cum))
        return out


def references(corpus) -> dict[int, Reference]:
    """Reference per document window (window start -> Reference)."""
    starts = range(1, len(corpus.docs) - WINDOW + 2, WINDOW // 2)
    return {a: Reference([d for d in corpus.docs if a <= d[0] < a + WINDOW], corpus.heldout) for a in starts}


class Datapipe:
    """Templates over one corpus: ``refs`` from ``references``, and
    ``docs_df``/``held_df`` the program's scans of its files."""

    def __init__(self, refs: dict[int, Reference], docs_df, held_df):
        self.refs = refs
        self.docs_df = docs_df
        self.held_df = held_df

    def window(self, p):
        return self.docs_df.filter(F.col("doc_id").between(p["a"], p["a"] + WINDOW - 1))

    def pairs_df(self, spark, pairs):
        return spark.createDataFrame([tuple(x[:2]) for x in pairs], "id_a long, id_b long")

    def templates(self) -> dict:
        """name -> (build(env, p), twin(p)); twins return expected rows."""
        r = self.refs
        return {
            "dp_quality": (lambda e, p: quality_filter(self.window(p)).filter("passes").select("doc_id"),
                           lambda p: r[p["a"]].quality()),
            "dp_exact": (lambda e, p: exact_duplicates(self.window(p)), lambda p: r[p["a"]].exact()),
            "dp_minhash": (lambda e, p: minhash_signatures(self.window(p), k=K, num_hashes=NUM_HASHES),
                           lambda p: [(i, *hs) for i, hs in r[p["a"]].minhash().items()]),
            "dp_lsh": (lambda e, p: lsh_candidate_pairs(
                minhash_signatures(self.window(p), k=K, num_hashes=NUM_HASHES), num_hashes=NUM_HASHES, bands=BANDS),
                lambda p: r[p["a"]].pairs),
            "dp_verify": (lambda e, p: ngram_jaccard(
                self.window(p), self.pairs_df(e.spark, r[p["a"]].pairs), k=K).filter(
                F.col("jaccard") >= JACCARD_MIN).select("id_a", "id_b", "jaccard"),
                lambda p: r[p["a"]].verified),
            "dp_clusters": (lambda e, p: dedup_clusters(self.pairs_df(e.spark, r[p["a"]].verified)),
                            lambda p: r[p["a"]].clusters([v[:2] for v in r[p["a"]].verified])[0]),
            "dp_decontaminate": (lambda e, p: decontaminate(self.window(p), self.held_df, k=K).select(
                "doc_id", "n_shingles", "n_overlap"), lambda p: r[p["a"]].decontaminate()),
            "dp_select": (lambda e, p: token_budget_select(self.window(p).select(
                "doc_id", "quality_score", token_count(F.col("text")).alias("n_tokens")), r[p["a"]].budget()),
                lambda p: r[p["a"]].select()),
        }

    def draw(self, rng) -> dict:
        return {"a": rng.choice(sorted(self.refs))}
