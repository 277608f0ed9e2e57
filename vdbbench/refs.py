"""Reference answers computed without the code under test.

Each function reproduces one documented engine rule with numpy or the
standard library, in the same IEEE operation order the engine uses (a
left-to-right fold from 0.0 for every dot product, ``numpy.cumsum``
being a sequential fold), so ids compare exactly and scores to 1e-6.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

from gen import chunk, pattern


def fold_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise dot product as a sequential left-to-right fold."""
    return np.cumsum(a * b, axis=-1)[..., -1]


def spark_round(x: float, places: int) -> float:
    """Spark's ``round`` on a double: HALF_UP on the shortest decimal
    representation."""
    return float(Decimal(repr(float(x))).quantize(Decimal(1).scaleb(-places), ROUND_HALF_UP))


# -- /search ------------------------------------------------------------------


class SearchIndex:
    """The serving index as the reference sees it: chunk ids and texts,
    patterns recomputed from the texts."""

    def __init__(self, ids: list[str], texts: list[str]):
        self.ids = np.array(ids, dtype=object)
        self.patterns = np.stack([pattern(t) for t in texts])
        self.pnorm = np.sqrt(fold_dot(self.patterns, self.patterns))

    def __len__(self) -> int:
        return len(self.ids)

    def topk(self, query: str, k: int) -> tuple[list[tuple[str, float]], bool]:
        """(id, rounded score) in response order, and whether a score tie
        decided membership or order among the returned rows."""
        qv = pattern(query)
        qnorm = math.sqrt(sum(float(x) * float(x) for x in qv))
        raw = fold_dot(self.patterns, qv) / (self.pnorm * qnorm)
        # top k by unrounded score, ties by ascending id
        cand = np.argsort(-raw, kind="stable")[: k + 64]
        best = sorted(cand, key=lambda i: (-raw[i], self.ids[i]))[:k]
        rows = [(self.ids[i], spark_round(raw[i], 6)) for i in best]
        tie = len({raw[i] for i in cand[: k + 1]}) <= k
        # response order: rounded score descending, then id
        return sorted(rows, key=lambda r: (-r[1], r[0])), tie


# -- /vectors/query -------------------------------------------------------------


def _half_up_units(values: np.ndarray, places: int) -> np.ndarray:
    """round(value * 10**places) with HALF_UP on the shortest decimal
    representation (Spark's double -> decimal cast), as int64. Values
    near a half-way point are redone exactly with ``decimal``."""
    scaled = values * 10.0**places
    units = np.floor(np.abs(scaled) + 0.5) * np.sign(scaled)
    frac = np.abs(scaled) - np.floor(np.abs(scaled))
    for idx in zip(*np.nonzero(np.abs(frac - 0.5) < 1e-6)):
        d = Decimal(repr(float(values[idx]))).scaleb(places)
        units[idx] = float(d.quantize(Decimal(1), ROUND_HALF_UP))
    return units.astype(np.int64)


def ivf_centroids(vectors: np.ndarray, n_cells: int) -> np.ndarray:
    """Per-cell centroids as ``train_ivf_router`` stores them: each value
    cast to decimal(30,8), summed exactly, cast to double, divided by the
    count, rounded to 6 places."""
    cells = np.arange(len(vectors)) % n_cells
    units = _half_up_units(vectors.astype(np.float64), 8)
    out = np.empty((n_cells, vectors.shape[1]))
    for c in range(n_cells):
        sums = units[cells == c].sum(axis=0)
        count = int((cells == c).sum())
        for j, s in enumerate(sums):
            mean = float(Decimal(int(s)).scaleb(-8)) / count
            out[c, j] = spark_round(mean, 6)
    return out


def _cosine(rows: np.ndarray, q: np.ndarray) -> np.ndarray:
    return fold_dot(rows, q) / (np.sqrt(fold_dot(rows, rows)) * np.sqrt(fold_dot(q, q)))


class VectorStore:
    """The built IVF store: vec_id = row index, cell = vec_id % n_cells."""

    def __init__(self, vectors: np.ndarray, n_cells: int):
        self.n_cells = n_cells
        self.centroids = ivf_centroids(vectors, n_cells)
        self.ids = np.arange(len(vectors), dtype=np.int64)
        self.vecs = vectors.astype(np.float64)

    def probe(self, q: np.ndarray, nprobe: int) -> list[int]:
        cs = _cosine(self.centroids, q)
        return sorted(range(self.n_cells), key=lambda c: (-cs[c], c))[:nprobe]

    def topk(self, q: np.ndarray, k: int, nprobe: int):
        """(matches [(id, rounded score)], probed cells, candidates scored)."""
        cells = self.probe(q, nprobe)
        mask = np.isin(self.ids % self.n_cells, cells)
        ids, raw = self.ids[mask], _cosine(self.vecs[mask], q)
        order = sorted(range(len(ids)), key=lambda i: (-raw[i], ids[i]))[:k]
        return [(int(ids[i]), spark_round(raw[i], 6)) for i in order], cells, len(ids)


# -- comparison helpers -----------------------------------------------------------


def same_matches(got: list[tuple], want: list[tuple], tol: float = 1e-6) -> bool:
    return len(got) == len(want) and all(
        g[0] == w[0] and abs(g[1] - w[1]) <= tol for g, w in zip(got, want)
    )


def chunk_rows(source: str, text: str) -> list[tuple[str, str]]:
    """(chunk id, chunk text) the ingest path must write for one source."""
    return [(f"{source}_{p}", c) for p, c in enumerate(chunk(text))]
