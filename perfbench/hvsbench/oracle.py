"""NumPy oracles, run in the benchmark process, for every response it checks.

- vector:      cosine rescaled to (1 + cos) / 2, rounded to 6 dp, pre-filter
               first, ties broken by id ascending;
- fulltext:    BM25 (k1 = 1.2, b = 0.75) with corpus-global statistics, the
               residual filter after scoring;
- hybrid:      10·σ(vector) + 1·σ(text), a branch that missed contributing 0,
               the vector branch pre-filtered and cut to ``limit``, the text
               branch unfiltered, the residual filter after fusion;
- restaurants: distinct non-null values, ascending;
- knn_join / IVF: exact top-k over the (probed part of the) layout.

Vectors come from ``TextVectors``, the hashing-trick embedding computed here
from its definition, not from the program: query vectors from the request
text, corpus vectors from each row's description. Stored vectors that differ
from them by more than ``EMB_TOL`` are counted as wrong.

Checks are tie-aware: a result passes when its ids are distinct and
eligible, each score is within ``TOL`` of the oracle's, it is ordered by
(score desc, id asc), and it holds every id that scores above the k-th
oracle score by more than ``TOL``.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter
from dataclasses import dataclass, field
from typing import Any, Sequence

import numpy as np

TOL = 1e-6 + 1e-9  # scores are rounded to 6 dp on both sides
EMB_TOL = 1e-6
K1, B = 1.2, 0.75
VECTOR_WEIGHT, TEXT_WEIGHT = 10.0, 1.0
DEFAULT_LIMIT, MAX_LIMIT = 5, 25


def tokens(text: str | None) -> list[str]:
    return [t for t in re.split(r"[\W_]+", (text or "").lower()) if t]


def clamp_limit(payload: dict[str, Any]) -> int:
    try:
        limit = int(payload.get("limit", DEFAULT_LIMIT))
    except (TypeError, ValueError):
        limit = DEFAULT_LIMIT
    return max(1, min(limit, MAX_LIMIT))


class TextVectors:
    """The hashing-trick text embedding: every token and every pair of
    adjacent tokens is md5-hashed; the first four bytes (big-endian) modulo
    ``dim`` pick a bucket and the low bit of the fifth byte a sign of +1 or
    -1; the sum is L2-normalised and stored as float32. Text that is not a
    string embeds as the empty string."""

    def __init__(self, dim: int):
        self.dim = dim
        self._buckets: dict[str, tuple[int, float]] = {}

    def _bucket(self, feature: str) -> tuple[int, float]:
        hit = self._buckets.get(feature)
        if hit is None:
            h = hashlib.md5(feature.encode("utf-8")).digest()
            hit = self._buckets[feature] = (int.from_bytes(h[:4], "big") % self.dim, 1.0 if h[4] & 1 else -1.0)
        return hit

    def one(self, text) -> np.ndarray:
        toks = tokens(text if isinstance(text, str) else "")
        v = np.zeros(self.dim, dtype=np.float64)
        for feature in toks + [f"{a}_{b}" for a, b in zip(toks, toks[1:])]:
            bucket, sign = self._bucket(feature)
            v[bucket] += sign
        n = math.sqrt(float(v @ v))
        return (v / n if n > 0 else v).astype(np.float32)

    def many(self, texts) -> np.ndarray:
        return np.stack([self.one(t) for t in texts]) if len(texts) else np.zeros((0, self.dim), np.float32)


def vectors_from_arrow(column, dim: int) -> np.ndarray:
    """An Arrow list<float> column as an (n, dim) float64 matrix; null or
    short rows become rows of nan, so they never match an oracle vector."""
    import pyarrow.compute as pc

    column = column.combine_chunks()
    if column.null_count == 0 and pc.all(pc.equal(pc.list_value_length(column), dim)).as_py() is not False:
        return column.flatten().to_numpy(zero_copy_only=False).astype(np.float64).reshape(-1, dim)
    out = np.full((len(column), dim), np.nan)
    for i, v in enumerate(column.to_pylist()):
        if v is not None and len(v) == dim:
            out[i] = v
    return out


def wrong_vectors(stored: np.ndarray, expected: np.ndarray) -> np.ndarray:
    """Per row: does the stored vector differ from the oracle's by more than
    ``EMB_TOL`` anywhere (or hold a null)?"""
    with np.errstate(invalid="ignore"):
        return ~(np.abs(stored - expected) <= EMB_TOL).all(axis=1)


def unit_rows(matrix: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(matrix, axis=1, keepdims=True)
    return matrix / np.where(norms == 0, 1.0, norms)


def atlas_cosine(unit_matrix: np.ndarray, query: Sequence[float]) -> np.ndarray:
    q = np.asarray(query, dtype=np.float64)
    qn = np.linalg.norm(q)
    return np.round((1.0 + (unit_matrix @ q) / qn) / 2.0, 6)


@dataclass
class Corpus:
    """The searched table as the benchmark process holds it: ids, filter
    fields, titles, the oracle's unit-normalised float64 vectors of the
    descriptions, and which rows' stored vectors differ from them."""

    ids: np.ndarray  # object (str)
    titles: list[str]
    restaurant: np.ndarray  # object (str | None)
    available: np.ndarray  # object (bool | None)
    price: np.ndarray  # float64, nan when null
    unit: np.ndarray  # (n, dim) float64
    wrong_vectors: np.ndarray  # bool per row
    _bm25: "Bm25Stats | None" = field(default=None, repr=False)

    @staticmethod
    def from_arrow(table, vectors: TextVectors) -> "Corpus":
        expected = vectors.many(table.column("description").to_pylist())
        stored = vectors_from_arrow(table.column("emb"), vectors.dim)
        price = np.array(
            [np.nan if v is None else v for v in table.column("price").to_pylist()],
            dtype=np.float64,
        )
        return Corpus(
            ids=np.array(table.column("_id").to_pylist(), dtype=object),
            titles=table.column("title").to_pylist(),
            restaurant=np.array(table.column("restaurantName").to_pylist(), dtype=object),
            available=np.array(table.column("available").to_pylist(), dtype=object),
            price=price,
            unit=unit_rows(expected.astype(np.float64)),
            wrong_vectors=wrong_vectors(stored, expected),
        )

    def __len__(self) -> int:
        return len(self.ids)

    def mask(self, payload: dict[str, Any]) -> np.ndarray:
        """The reference's filter: equality on available/restaurant, strict
        < on price, AND-combined; nulls never match."""
        m = np.ones(len(self), dtype=bool)
        if payload.get("available") is not None:
            m &= self.available == bool(payload["available"])
        if payload.get("maxPrice") is not None:
            with np.errstate(invalid="ignore"):
                m &= self.price < float(payload["maxPrice"])
        restaurant = (payload.get("restaurant") or "").strip() or None
        if restaurant is not None:
            m &= self.restaurant == restaurant
        return m

    @property
    def bm25(self) -> "Bm25Stats":
        if self._bm25 is None:
            self._bm25 = Bm25Stats(self.titles)
        return self._bm25

    def restaurants(self) -> list[str]:
        return sorted({r for r in self.restaurant if r is not None})


class Bm25Stats:
    """Postings, lengths and document frequencies over the full corpus."""

    def __init__(self, texts: list[str]):
        self.tf = [Counter(tokens(t)) for t in texts]
        dl = np.array([sum(c.values()) for c in self.tf], dtype=np.float64)
        self.dl = dl
        self.indexed = dl > 0
        self.n = float(self.indexed.sum())
        self.avgdl = float(dl[self.indexed].mean()) if self.n else 0.0
        self.df: Counter = Counter()
        for c in self.tf:
            self.df.update(c.keys())

    def scores(self, terms: list[str]) -> np.ndarray:
        """Rounded BM25 per document; nan where no query term matches."""
        out = np.full(len(self.tf), np.nan)
        qs = sorted(set(terms))
        for i, c in enumerate(self.tf):
            hits = [t for t in qs if t in c]
            if not hits:
                continue
            norm = K1 * (1.0 - B + B * self.dl[i] / self.avgdl)
            s = 0.0
            for t in hits:
                df = float(self.df[t])
                idf = math.log(1.0 + (self.n - df + 0.5) / (df + 0.5))
                s += idf * c[t] * (K1 + 1.0) / (c[t] + norm)
            out[i] = round(s, 6)
        return out


def sigmoid(x: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-x))


def check_ranked(
    got: list[tuple[str, float]],
    ids: np.ndarray,
    scores: np.ndarray,
    eligible: np.ndarray,
    k: int,
) -> str | None:
    """None when ``got`` is a correct top-``k`` of the eligible rows under
    (score desc, id asc), else the reason it is not."""
    elig = np.flatnonzero(eligible & ~np.isnan(scores))
    want_n = min(k, len(elig))
    if len(got) != want_n:
        return f"returned {len(got)} rows, expected {want_n}"
    if want_n == 0:
        return None
    by_id = {ids[i]: float(scores[i]) for i in elig}
    seen = set()
    for rid, s in got:
        if rid in seen:
            return f"duplicate id {rid}"
        seen.add(rid)
        if rid not in by_id:
            return f"id {rid} is not eligible"
        if s is None or abs(s - by_id[rid]) > TOL:
            return f"id {rid} score {s} != oracle {by_id[rid]}"
    for (a, sa), (b, sb) in zip(got, got[1:]):
        if sa < sb - TOL or (sa == sb and a > b):
            return f"order broken at {a} ({sa}) / {b} ({sb})"
    kth = np.sort(scores[elig])[::-1][want_n - 1]
    must = {ids[i] for i in elig if scores[i] > kth + TOL}
    missing = must - seen
    if missing:
        return f"missing {sorted(missing)[:3]} scoring above the k-th oracle score {kth}"
    return None


def tie_aware_recall(
    got_ids: Sequence[str], ids: np.ndarray, exact_scores: np.ndarray, k: int
) -> float:
    """Share of the exact top-k found: returned ids scoring at least the
    exact k-th score (less TOL), over k. Exact search scores 1.0."""
    want_n = min(k, int((~np.isnan(exact_scores)).sum()))
    if want_n == 0:
        return 1.0
    kth = np.sort(exact_scores[~np.isnan(exact_scores)])[::-1][want_n - 1]
    pos = {rid: i for i, rid in enumerate(ids)}
    hit = sum(1 for r in set(got_ids) if r in pos and exact_scores[pos[r]] >= kth - TOL)
    return min(hit, want_n) / want_n


class ServingOracle:
    """Checks API responses against the corpus the engine was built over."""

    def __init__(self, corpus: Corpus, vectors: TextVectors):
        self.c = corpus
        self.vectors = vectors

    def vector_scores(self, description: str) -> np.ndarray:
        return atlas_cosine(self.c.unit, self.vectors.one(description))

    def check(self, kind: str, payload, response, error) -> tuple[str | None, float | None]:
        """(failure reason or None, recall@k of the vector part or None)."""
        if kind == "invalid":
            status = getattr(error, "status", None)
            return (None if status == 400 else f"invalid payload gave {error or response!r}"), None
        if error is not None:
            return f"{type(error).__name__}: {error}", None
        if kind == "restaurants":
            return (None if response == self.c.restaurants() else "restaurants differ"), None
        got = [(r["_id"], r.get("score")) for r in response["results"]]
        if response.get("mode") != kind:
            return f"mode {response.get('mode')!r} != {kind!r}", None
        k = clamp_limit(payload)
        m = self.c.mask(payload)
        if kind == "vector":
            s = self.vector_scores(payload["description"])
            reason = check_ranked(got, self.c.ids, s, m, k)
            recall = tie_aware_recall([g[0] for g in got], self.c.ids, np.where(m, s, np.nan), k)
            return reason, recall
        text = self.c.bm25.scores(tokens(payload["title"]))
        if kind == "fulltext":
            return check_ranked(got, self.c.ids, text, m, k), None
        return check_ranked(got, self.c.ids, self.hybrid_scores(payload, text), m, k), None

    def hybrid_scores(self, payload, text: np.ndarray) -> np.ndarray:
        k = clamp_limit(payload)
        m = self.c.mask(payload)
        vec = self.vector_scores(payload["description"])
        elig = np.flatnonzero(m)
        # the vector branch is the pre-filtered top-k (score desc, id asc)
        order = sorted(elig, key=lambda i: (-vec[i], self.c.ids[i]))[:k]
        vec_branch = np.full(len(self.c), np.nan)
        vec_branch[order] = vec[order]
        fused = np.where(np.isnan(vec_branch), 0.0, VECTOR_WEIGHT * sigmoid(vec_branch))
        fused = fused + np.where(np.isnan(text), 0.0, TEXT_WEIGHT * sigmoid(text))
        found = ~np.isnan(vec_branch) | ~np.isnan(text)
        return np.where(found, np.round(fused, 6), np.nan)

