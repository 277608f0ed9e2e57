"""Search contract fixtures (FIXTURES.md B3; reference
/root/reference/main.py:314-333 semantics)."""

from __future__ import annotations

import pytest

from articulation_vector_db_api_spark.operators.search import (
    assemble_context,
    topk_search,
)
from articulation_vector_db_api_spark.operators.stats import validate_query
from tests.conftest import SF_SMALL


def test_empty_query_rejected(spark):
    for bad in ["", "   ", "\n\t"]:
        with pytest.raises(ValueError):
            topk_search(spark, SF_SMALL, bad)
    with pytest.raises(ValueError):
        validate_query(" ")


def test_total_results_le_top_k(spark):
    rows = topk_search(spark, SF_SMALL, "transfer credits", top_k=3).collect()
    assert 0 < len(rows) <= 3
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_deterministic_tie_order(spark):
    a = [r.id for r in topk_search(spark, SF_SMALL, "customer data", 5).collect()]
    b = [r.id for r in topk_search(spark, SF_SMALL, "customer data", 5).collect()]
    assert a == b


def test_context_format(spark):
    topk = topk_search(spark, SF_SMALL, "transfer credits", 2)
    ctx = assemble_context(topk, "transfer credits").first()
    assert ctx.query == "transfer credits"
    assert ctx.total_results == 2
    parts = ctx.context.split("\n\n---\n\n")
    assert len(parts) == 2
    for p in parts:
        assert p.startswith("[Source: ")  # '[Source: {source}]\n{text}', main.py:324
        assert "]\n" in p


def test_serving_index_parity_and_invalidation(spark, tmp_path):
    """r11: the pre-warmed serving path (open_serving_index +
    topk_search_cached) returns bit-identical results to the per-call
    indexed path, and EngineAPI invalidates the cache when the table
    is re-ingested underneath it."""
    from articulation_vector_db_api_spark.api import EngineAPI
    from articulation_vector_db_api_spark.operators.search import (
        open_serving_index, topk_search_cached, topk_search_indexed,
    )

    table = str(tmp_path / "chunks")
    _write_served_table(spark, table)

    idx = open_serving_index(spark, table)
    try:
        a = [(r.id, r.score) for r in
             topk_search_cached(idx, "transfer credits", 5).collect()]
        b = [(r.id, r.score) for r in
             topk_search_indexed(spark, table, "transfer credits", 5).collect()]
        assert a == b and len(a) == 5
        with pytest.raises(ValueError):
            topk_search_cached(idx, "  ")
    finally:
        idx.unpersist()

    api = EngineAPI(spark=spark, data_dir=SF_SMALL, chunk_table=table)
    resp = api.search("transfer credits", 3)
    assert [(c["id"], c["score"]) for c in resp["chunks"]] == a[:3]
    assert api._serving is not None  # lazily warmed
    # re-ingesting the serving table drops the cached projection
    corpus = tmp_path / "docs"
    corpus.mkdir()
    (corpus / "fresh.txt").write_text("entirely new corpus text " * 120)
    api.ingest(str(corpus), table, glob="*.txt")
    assert api._serving is None
    resp2 = api.search("entirely new corpus", 3)
    assert resp2["total_results"] > 0
    assert api._serving is not None  # re-warmed over the upserted table
    # the re-warm sees the upserted partition
    assert api._serving.filter("source = 'fresh'").count() > 0
    api._invalidate()


def test_score_chunks_raw_is_the_vector_fold_bit_for_bit(spark):
    """score_chunks' one SQL scoring expression must equal
    functions/vector.py's ``dot(pattern, q) / (l2_norm(pattern) *
    qnorm)`` bit for bit. Parity compares scores rounded to 6 decimals
    only, so this pins the raw doubles the top-k tie order cuts on."""
    from pyspark.sql import functions as F

    from articulation_vector_db_api_spark.functions.vector import dot, l2_norm
    from articulation_vector_db_api_spark.operators.search import (
        PATTERN_DIM, chunk_patterns, query_vector_literals, score_chunks,
    )

    for query in ("transfer credits", "customer data"):
        qv, qnorm = query_vector_literals(query, PATTERN_DIM)
        qvec = F.array(*[F.lit(v) for v in qv])
        want = chunk_patterns(spark, SF_SMALL).select(
            "id",
            (dot(F.col("pattern"), qvec)
             / (l2_norm(F.col("pattern")) * F.lit(qnorm))).alias("raw"),
        )
        got = score_chunks(spark, SF_SMALL, query).select("id", "raw")
        a = {r.id: r.raw.hex() for r in got.collect()}
        b = {r.id: r.raw.hex() for r in want.collect()}
        assert a == b and len(a) > 0


def _write_served_table(spark, table: str) -> None:
    from articulation_vector_db_api_spark.operators.ingest import (
        build_chunk_rows, write_chunk_table,
    )
    from articulation_vector_db_api_spark.sources.readers import load_table

    docs = load_table(spark, SF_SMALL, "documents").selectExpr(
        "cast(doc_id as string) AS source", "text",
        "cast(null as string) AS error",
    )
    write_chunk_table(build_chunk_rows(docs), table)


def test_remote_serving_table_keeps_scan_partitioning(
    spark, tmp_path, monkeypatch
):
    """open_serving_index on a table the local file system cannot size
    (``s3a://``) must keep the scan's own partitioning: os.walk of a URI
    yields nothing, which must not read as a 0-byte table and collapse
    the cached index into one partition. A local table is still sized
    (and coalesced) by its bytes."""
    from pyspark.sql.readwriter import DataFrameReader

    from articulation_vector_db_api_spark.operators.search import (
        open_serving_index, topk_search_cached, topk_search_indexed,
    )

    table = str(tmp_path / "chunks")
    _write_served_table(spark, table)
    remote = "s3a://bucket/chunks"
    real_parquet = DataFrameReader.parquet
    monkeypatch.setattr(
        DataFrameReader, "parquet",
        lambda self, *paths, **kw: real_parquet(
            self, *[table if p == remote else p for p in paths], **kw
        ),
    )
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "64k")  # several scan splits from a small table
    try:
        scan_parts = spark.read.parquet(table).rdd.getNumPartitions()
        assert scan_parts > 1
        idx = open_serving_index(spark, remote)
        local = open_serving_index(spark, table)
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    try:
        assert idx.rdd.getNumPartitions() == scan_parts
        assert local.rdd.getNumPartitions() == 1  # < 64 MB of parquet
        want = [tuple(r) for r in
                topk_search_indexed(spark, table, "transfer credits", 5).collect()]
        assert [tuple(r) for r in
                topk_search_cached(idx, "transfer credits", 5).collect()] == want
    finally:
        idx.unpersist()
        local.unpersist()


def test_mmr_arbitrary_k(spark):
    """mmr_rerank generalizes to any k: 8 distinct picks, pick 1 equals
    plain top-1 (no penalty yet), every later pick's relevance is <= the
    pool max, and the pick column is 1..8 in order."""
    from articulation_vector_db_api_spark.operators.search import mmr_rerank

    rows = mmr_rerank(spark, SF_SMALL, "transfer credits", k=8, pool=40).collect()
    assert [r.pick for r in rows] == list(range(1, 9))
    assert len({r.id for r in rows}) == 8
    top1 = topk_search(spark, SF_SMALL, "transfer credits", 1).first()
    assert rows[0].id == top1.id
    assert all(r.score <= rows[0].score + 1e-9 for r in rows)


def test_mmr_k3_matches_oracle_shape(spark):
    """The k=3 loop must reproduce the unrolled-3 pick sequence."""
    from articulation_vector_db_api_spark.operators.search import mmr_rerank

    rows = mmr_rerank(spark, SF_SMALL, "transfer credits", k=3, pool=20).collect()
    assert [r.pick for r in rows] == [1, 2, 3]
    assert len({r.id for r in rows}) == 3


def _naive_rrf(rows, k):
    """Reference fusion: true global row_numbers over every row, rrf
    rounded to 6 places, rounded-score-then-id ordering."""
    by_vec = sorted(rows, key=lambda r: (-r[2], r[0]))
    by_kw = sorted(rows, key=lambda r: (-r[3], r[0]))
    rv = {r[0]: i + 1 for i, r in enumerate(by_vec)}
    rk = {r[0]: i + 1 for i, r in enumerate(by_kw)}
    fused = [
        (r[0], r[1], r[3], rv[r[0]], rk[r[0]],
         round(1.0 / (60 + rv[r[0]]) + 1.0 / (60 + rk[r[0]]), 6))
        for r in rows
    ]
    fused.sort(key=lambda x: (-x[5], x[0]))
    return fused[:k]


def _rrf_rows(n, skew):
    """Synthetic (id, source, raw, kw_hits): ids z-padded so string and
    insert order agree; vec score decreasing in i; kw_hits engineered so
    some rows rank top-kw while sitting far past k' in the vec order."""
    rows = []
    for i in range(n):
        rid = f"c{i:05d}"
        raw = 1.0 - i * 1e-3
        kw = skew(i)
        rows.append((rid, f"s{i % 7}", raw, kw))
    return rows


def test_rrf_fuse_exact_refinement_path(spark):
    """Adversarial case for rrf_fuse_topk: the best keyword rows sit at
    the BOTTOM of the vector order (vec rank ≈ 300 > k'=128) yet tie
    with the best vector rows on rounded rrf, so they can only enter
    the top-5 — with an exact reported vec rank — via the refinement
    pass."""
    from articulation_vector_db_api_spark.operators.search import rrf_fuse_topk

    rows = []
    for i in range(300):  # vec order = ascending i throughout
        if i < 250:
            rows.append((f"c{i:05d}", f"s{i % 7}", 1.0 - i * 1e-3, i))
        else:
            rows.append((f"c{i:05d}", f"s{i % 7}", -1.0 - i * 1e-3, 1000 + i))
    kwdf = spark.createDataFrame(
        rows, "id string, source string, raw double, kw_hits long"
    )
    got = [tuple(r) for r in rrf_fuse_topk(spark, kwdf, 5, shards=8).collect()]
    assert got == _naive_rrf(rows, 5)
    # the winning rows really did need refinement: their reported vec
    # rank exceeds k', and the rounded-rrf/id tie order held exactly
    assert [g[0] for g in got] == ["c00000", "c00299", "c00001", "c00298", "c00002"]
    assert got[1][3] == 300 and got[3][3] == 299  # exact refined ranks


def test_rrf_fuse_matches_naive_fusion_shapes(spark):
    """rrf_fuse_topk == naive global fusion across tie-heavy, tiny, and
    interleaved inputs (including corpora smaller than k')."""
    from articulation_vector_db_api_spark.operators.search import rrf_fuse_topk

    shapes = [
        _rrf_rows(40, lambda i: 0),                      # all-ties kw, < k'
        _rrf_rows(200, lambda i: (200 - i) // 10),       # aligned, banded ties
        _rrf_rows(350, lambda i: (i * 37) % 11),         # interleaved mod kw
        [("only", "s", 0.5, 3)],                         # single row
    ]
    for rows in shapes:
        kwdf = spark.createDataFrame(
            rows, "id string, source string, raw double, kw_hits long"
        )
        got = [tuple(r) for r in rrf_fuse_topk(spark, kwdf, 5, shards=8).collect()]
        assert got == _naive_rrf(rows, 5), rows[:3]


def test_rrf_fuse_rejects_shallow_k_prime(spark):
    from articulation_vector_db_api_spark.operators.search import rrf_fuse_topk

    kwdf = spark.createDataFrame(
        [("a", "s", 1.0, 1)], "id string, source string, raw double, kw_hits long"
    )
    with pytest.raises(ValueError):
        rrf_fuse_topk(spark, kwdf, 40, k_prime=64)
