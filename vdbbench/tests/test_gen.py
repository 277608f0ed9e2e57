"""The generator is deterministic: one seed gives byte-identical inputs
with a recorded digest, another seed gives different inputs."""

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402

# digest of write_all(seed 7) with numpy 1.26 and pyarrow 16 (zstd frames
# and parquet bytes depend on the library versions)
RECORDED_DIGEST = "e39191830f89b009da5cdb411f4a978b5b59ad27af7338d1418d91dae59f9a5a"


def write_all(path: str, seed: int) -> str:
    inp = gen.serving_inputs(seed, 4, 6, 64)
    gen.write_chunk_table(os.path.join(path, "chunks"), inp.sources)
    gen.write_vectors(os.path.join(path, "vectors.parquet"), inp.vectors)
    gen.write_files(os.path.join(path, "ingest"), inp.ingest_files)
    gen.write_documents(os.path.join(path, "sf"), gen.documents(seed, 50))
    return gen.json_digest(
        [
            gen.tree_digest(path),
            inp.queries,
            gen.array_digest(inp.query_vecs),
            inp.requests,
        ]
    )


def test_same_seed_same_bytes(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    assert write_all(str(a), 7) == write_all(str(b), 7)
    for root, _dirs, names in os.walk(a):
        for name in names:
            other = os.path.join(b, os.path.relpath(os.path.join(root, name), a))
            with open(os.path.join(root, name), "rb") as f, open(other, "rb") as g:
                assert f.read() == g.read()


def test_recorded_digest(tmp_path):
    assert write_all(str(tmp_path), 7) == RECORDED_DIGEST


def test_other_seed_other_inputs(tmp_path):
    assert write_all(str(tmp_path / "a"), 7) != write_all(str(tmp_path / "b"), 8)


def test_planted_shapes():
    inp = gen.serving_inputs(7, 20, 3, 64)
    assert len(inp.ingest_corrupt) == 3
    assert len(inp.ingest_good) == 22
    assert any(k.startswith("dup") for k in inp.sources)  # exact duplicates
    docs = gen.documents(7, 400)
    assert len(set(docs["text"])) < len(docs["text"])  # exact duplicates
    assert docs["n_chars"] == [len(t) for t in docs["text"]]
