"""Seeded input generation.

Every input the engine sees is made here from the ``--seed`` argument,
with this module's own writers (pyarrow, zlib, hand-built PDF bytes), so
the inputs do not move when the package changes. Each input family draws
from its own random stream (``numpy.random.default_rng([seed, stream])``),
so adding a family never shifts another.

The documented engine rules the writers follow (and the reference answers
in ``refs.py`` rely on):

- chunks are 1000 characters at stride 800; chunk id is ``{source}_{pos}``
  (``functions/chunking.py``);
- a chunk's embedding is ``digest[i % 32] / 255 * 2 - 1`` over the
  sha256 of its UTF-8 text, 1024 dimensions (``functions/embedding.py``);
- the stored chunk table is parquet partitioned by ``source`` with columns
  ``id, pos, text, embedding`` (``operators/ingest.py:write_chunk_table``).
"""

from __future__ import annotations

import hashlib
import json
import os
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CHUNK_SIZE = 1000
STRIDE = 800
EMBED_DIM = 1024
DIGEST_BYTES = 32

# random streams, one per input family
_S_VOCAB, _S_CORPUS, _S_QUERIES, _S_VECTORS, _S_INGEST, _S_SCHEDULE, _S_DOCS = range(7)


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _vocab() -> np.ndarray:
    """2,000 lowercase pseudo-words (fixed: seed 0), drawn Zipf-weighted."""
    rng = _rng(0, _S_VOCAB)
    syl = [c + v for c in "bcdfghklmnprstvz" for v in "aeiou"]
    words = set()
    while len(words) < 2000:
        words.add("".join(rng.choice(syl, rng.integers(1, 4))))
    return np.array(sorted(words))


VOCAB = _vocab()
_ZIPF = 1.0 / np.arange(1, len(VOCAB) + 1)
_ZIPF /= _ZIPF.sum()


def make_text(rng: np.random.Generator, n_chars: int) -> str:
    """Space-separated vocabulary words, about ``n_chars`` long, with no
    leading or trailing space."""
    n_words = n_chars // 5 + 8
    s = " ".join(VOCAB[rng.choice(len(VOCAB), n_words, p=_ZIPF)])
    while len(s) < n_chars:
        s += " " + make_text(rng, n_chars - len(s))
    return s[:n_chars].strip()


def chunk(text: str) -> list[str]:
    """1000-char windows at stride 800; the last window may be short."""
    return [text[s : s + CHUNK_SIZE] for s in range(0, len(text), STRIDE)]


def pattern(chunk_text: str) -> np.ndarray:
    """The 32-dim scoring pattern of a chunk (one period of its embedding)."""
    digest = np.frombuffer(
        hashlib.sha256(chunk_text.encode("utf-8")).digest(), dtype=np.uint8
    )
    return digest / 255 * 2 - 1


# -- serving inputs ---------------------------------------------------------


@dataclass
class ServingInputs:
    sources: dict[str, str]  # stored chunk table: source -> document text
    queries: list[str]
    vectors: np.ndarray  # (n, 1024) float32, vec_id = row index
    query_vecs: np.ndarray  # (m, 1024) float64
    ingest_files: dict[str, bytes]  # file name -> bytes
    ingest_texts: dict[str, str]  # source -> extracted text, exact formats
    ingest_good: list[str]  # sources expected to ingest
    ingest_corrupt: list[str]  # planted corrupt file names
    requests: list[tuple[str, int]]  # (kind, query or vector index)


def serving_inputs(
    seed: int,
    n_sources: int,
    chunks_per_source: int,
    n_vectors: int,
) -> ServingInputs:
    rng = _rng(seed, _S_CORPUS)
    doc_len = (chunks_per_source - 1) * STRIDE + CHUNK_SIZE
    sources: dict[str, str] = {}
    n_dup = max(1, n_sources // 10)  # exact duplicates: score ties
    for i in range(n_sources - n_dup):
        sources[f"doc{i:03d}"] = make_text(rng, doc_len)
    originals = list(sources)
    for j in range(n_dup):
        sources[f"dup{j:03d}"] = sources[originals[int(rng.integers(len(originals)))]]

    qrng = _rng(seed, _S_QUERIES)
    queries = [make_text(qrng, int(qrng.integers(8, 40))) for _ in range(400)]

    vrng = _rng(seed, _S_VECTORS)
    centers = vrng.normal(size=(16, EMBED_DIM))
    labels = vrng.integers(0, 16, n_vectors)
    vectors = (centers[labels] + 0.6 * vrng.normal(size=(n_vectors, EMBED_DIM))).astype(
        np.float32
    )
    qlabels = vrng.integers(0, 16, 256)
    query_vecs = centers[qlabels] + 0.6 * vrng.normal(size=(256, EMBED_DIM))

    files, texts, good, corrupt = _ingest_batch(_rng(seed, _S_INGEST), seed)

    # the request sequence: a quarter /vectors/query at fixed positions, so
    # every seed sends one mix pattern; the query or vector each request
    # carries follows the seed
    n = 400
    kinds = np.array(["search"] * (n - n // 4) + ["vquery"] * (n // 4))
    _rng(0, _S_SCHEDULE).shuffle(kinds)
    srng = _rng(seed, _S_SCHEDULE)
    requests = [
        (str(k), int(srng.integers(len(queries) if k == "search" else len(query_vecs))))
        for k in kinds
    ]
    return ServingInputs(
        sources, queries, vectors, query_vecs, files, texts, good,
        corrupt, requests,
    )


def _pdf(lines: list[str]) -> bytes:
    """Single-font (Helvetica) one-page PDF, one BT/ET block per line,
    Flate-compressed content stream."""
    ops = b"".join(
        b"BT /F1 9 Tf 36 %d Td (%s) Tj ET\n" % (760 - 10 * i, ln.encode("ascii"))
        for i, ln in enumerate(lines)
    )
    stream = zlib.compress(ops, 6)
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 4 0 R >> >> /Contents 5 0 R >>",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream"
        % (len(stream), stream),
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, 1):
        offsets.append(len(out))
        out += b"%d 0 obj\n%s\nendobj\n" % (i, body)
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    out += b"".join(b"%010d 00000 n \n" % o for o in offsets)
    out += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (
        len(objs) + 1, xref,
    )
    return bytes(out)


def _zstd(data: bytes) -> bytes:
    return pa.compress(data, codec="zstd", asbytes=True)


def _ingest_batch(rng: np.random.Generator, seed: int):
    """Mixed-format ingest batch: 6 PDF, 6 .txt, 6 .html, 4 .jsonl.zst,
    plus 3 planted corrupt files. Returns (files, exact texts by source,
    good sources, corrupt file names)."""
    files: dict[str, bytes] = {}
    texts: dict[str, str] = {}
    good: list[str] = []
    for i in range(6):
        lines = [make_text(rng, int(rng.integers(60, 90))) for _ in range(60)]
        src = f"ing{seed}_p{i}"
        files[f"{src}.pdf"] = _pdf(lines)
        texts[src] = "\n".join(lines)
        good.append(src)
    for i in range(6):
        src = f"ing{seed}_t{i}"
        body = make_text(rng, int(rng.integers(3000, 9000)))
        files[f"{src}.txt"] = body.encode("utf-8")
        texts[src] = body
        good.append(src)
    for i in range(6):
        src = f"ing{seed}_h{i}"
        paras = "".join(
            f"<p>{make_text(rng, int(rng.integers(200, 600)))}</p>\n" for _ in range(10)
        )
        files[f"{src}.html"] = (
            f"<html><head><title>{src}</title></head><body>"
            f"<nav><a href='/'>home</a> | <a href='/x'>about</a></nav>"
            f"<main><h1>{src}</h1>\n{paras}</main>"
            f"<footer>footer text</footer></body></html>"
        ).encode("utf-8")
        good.append(src)
    for i in range(4):
        # source keeps the inner extension: basename minus the last suffix
        src = f"ing{seed}_j{i}.jsonl"
        recs = [make_text(rng, int(rng.integers(300, 1500))) for _ in range(6)]
        lines = "\n".join(json.dumps({"text": r}) for r in recs) + "\n"
        files[f"{src}.zst"] = _zstd(lines.encode("utf-8"))
        texts[src] = "\n\n".join(recs)
        good.append(src)
    corrupt = [f"ing{seed}_bad0.pdf", f"ing{seed}_bad1.jsonl.zst", f"ing{seed}_bad2.txt"]
    files[corrupt[0]] = b"not a pdf " + bytes(rng.integers(0, 256, 64, dtype=np.uint8))
    files[corrupt[1]] = _zstd(b'{"text": "truncated"}\n' * 50)[:-9]
    files[corrupt[2]] = b"\xff\xfe\xfa invalid utf-8 \xc3\x28"
    return files, texts, sorted(good), corrupt


# -- batch curation inputs --------------------------------------------------

LANGS = ("en", "de", "fr", "es", "zh")


def documents(seed: int, n_docs: int) -> dict[str, list]:
    """The ``documents`` table: log-normal lengths (median ~300 chars,
    clipped to 40..3000), 5% exact and 15% near duplicates of earlier
    documents (one word in ~40 replaced), 20 sources, 5 language tags."""
    rng = _rng(seed, _S_DOCS)
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 0 and r < 0.05:
            texts.append(texts[int(rng.integers(i))])
        elif i > 0 and r < 0.20:
            words = texts[int(rng.integers(i))].split(" ")
            for j in rng.choice(len(words), max(1, len(words) // 40), replace=False):
                words[j] = str(VOCAB[int(rng.integers(len(VOCAB)))])
            texts.append(" ".join(words))
        else:
            n = int(np.clip(rng.lognormal(np.log(300), 0.7), 40, 3000))
            texts.append(make_text(rng, n))
    return {
        "doc_id": list(range(n_docs)),
        "text": texts,
        "lang": [LANGS[int(x)] for x in rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": [len(t) for t in texts],
    }


# -- writers ----------------------------------------------------------------

_CHUNK_SCHEMA = pa.schema(
    [
        ("id", pa.string()),
        ("pos", pa.int32()),
        ("text", pa.string()),
        ("embedding", pa.list_(pa.float64())),
    ]
)


def write_chunk_table(path: str, sources: dict[str, str]) -> int:
    """Stored chunk table in the ingest sink's layout; returns rows."""
    n = 0
    for src in sorted(sources):
        parts = chunk(sources[src])
        emb = np.stack([np.tile(pattern(c), EMBED_DIM // DIGEST_BYTES) for c in parts])
        table = pa.table(
            [
                pa.array([f"{src}_{p}" for p in range(len(parts))]),
                pa.array(range(len(parts)), pa.int32()),
                pa.array(parts),
                pa.FixedSizeListArray.from_arrays(emb.ravel(), EMBED_DIM).cast(
                    pa.list_(pa.float64())
                ),
            ],
            schema=_CHUNK_SCHEMA,
        )
        d = os.path.join(path, f"source={src}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(table, os.path.join(d, "part-00000.parquet"), compression="zstd")
        n += len(parts)
    return n


def write_vectors(path: str, vectors: np.ndarray) -> None:
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(len(vectors), dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(
                vectors.ravel(), vectors.shape[1]
            ).cast(pa.list_(pa.float32())),
        }
    )
    pq.write_table(table, path, compression="zstd")


def write_files(path: str, files: dict[str, bytes]) -> None:
    os.makedirs(path, exist_ok=True)
    for name, data in files.items():
        with open(os.path.join(path, name), "wb") as f:
            f.write(data)


def write_documents(sf_dir: str, docs: dict[str, list]) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    table = pa.table(
        {
            "doc_id": pa.array(docs["doc_id"], pa.int64()),
            "text": pa.array(docs["text"], pa.string()),
            "lang": pa.array(docs["lang"], pa.string()),
            "source": pa.array(docs["source"], pa.string()),
            "n_chars": pa.array(docs["n_chars"], pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(sf_dir, "documents.parquet"), compression="zstd")


def tree_digest(path: str) -> str:
    """sha256 over every file under ``path`` (relative name + bytes)."""
    h = hashlib.sha256()
    for root, dirs, names in os.walk(path):
        dirs.sort()
        for name in sorted(names):
            full = os.path.join(root, name)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def array_digest(a: np.ndarray) -> str:
    return hashlib.sha256(np.ascontiguousarray(a).tobytes()).hexdigest()


def json_digest(obj) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True).encode()).hexdigest()
