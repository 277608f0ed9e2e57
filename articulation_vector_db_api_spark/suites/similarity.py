"""Similarity-search suite (north star: ANN over embedding columns).

The reference's entire query engine is remote ANN (Pinecone,
/root/reference/main.py:184-189). Here the same capability is native:

- brute-force exact top-k  — the correctness baseline; Spark plans it
  as TakeOrderedAndProject (per-partition heaps, no global sort)
- hyperplane LSH           — random-projection sign bits → bucket key;
  candidate set = one hash bucket, then exact re-rank. The buckets are
  sha256-derived (functions/embedding.py), so fully deterministic and
  oracle-checkable — swap in real Gaussian planes at deployment
- bucketed similarity join — all-pairs above a cosine threshold
  without an O(n²) cross join
- batch kNN                — per-query top-k via a ranking window

Scale: every variant keys its shuffle on a bucket/query id. The
brute-force path stays useful at 100 TB *per query* (one scan, heap
merge); the LSH path amortizes to sub-scan latency once bucketed
storage (partitionBy(bucket)) makes the probe a partition-pruned read.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.embedding import embedding_sql_duckdb, hash_embedding
from ..functions.vector import cosine, cosine_sql_duckdb, dot, dot_sql_duckdb, l2_norm
from ..operators.vector_store import ivf_cell, ivf_centroids
from ..registry import register
from ..sources.readers import load_table, spread_input

N_PLANES = 4  # 16 buckets; tune to corpus size / recall target
QUERY_VEC_ID = 0


def _plane(p: int) -> Column:
    """Deterministic pseudo-random hyperplane p (64-dim): the hash
    embedding of a fixed seed string — reproducible in any engine."""
    return F.slice(hash_embedding(F.lit(f"plane:{p}")), 1, 64)


def _bucket(emb: Column) -> Column:
    """LSH bucket = integer of sign bits of <v, plane_p>."""
    b = F.lit(0).cast("long")
    for p in range(N_PLANES):
        b = b + F.when(dot(emb, _plane(p)) >= 0, F.lit(2**p).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return b


_BUCKETS_SQL = f"""
    pnums AS (SELECT unnest(generate_series(0, {N_PLANES - 1})) AS p),
    planes AS (
        SELECT p, {embedding_sql_duckdb("'plane:' || CAST(p AS VARCHAR)", 64)} AS w
        FROM pnums
    ),
    buckets AS (
        SELECT e.vec_id, e.label, e.embedding,
               CAST(sum(CASE WHEN {dot_sql_duckdb("e.embedding", "p.w")} >= 0
                        THEN CAST(power(2, p.p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
        FROM embeddings e CROSS JOIN planes p
        GROUP BY e.vec_id, e.label, e.embedding
    )
"""


@register(
    "ann_bruteforce_topk",
    oracle=f"""
    WITH qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
    scored AS (
        SELECT vec_id, {cosine_sql_duckdb("embedding", "q")} AS raw
        FROM embeddings, qv
        WHERE vec_id != {QUERY_VEC_ID}
    )
    SELECT vec_id, round(raw, 6) AS score
    FROM scored ORDER BY raw DESC, vec_id LIMIT 10
    """,
    headline=True,
    tags=("similarity",),
)
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for one query vector — the ANN correctness
    baseline. One scan; no shuffle beyond the k-row heap merge."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("q")
    )
    scored = (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(q))
        .select("vec_id", cosine(F.col("embedding"), F.col("q")).alias("raw"))
    )
    return (
        scored.orderBy(F.desc("raw"), "vec_id")
        .limit(10)
        .select("vec_id", F.round("raw", 6).alias("score"))
    )


@register(
    "ann_lsh_bucketed",
    oracle=f"""
    WITH {_BUCKETS_SQL},
    qb AS (SELECT bucket AS qbucket, embedding AS q FROM buckets
           WHERE vec_id = {QUERY_VEC_ID}),
    cand AS (
        SELECT b.vec_id, b.bucket, {cosine_sql_duckdb("b.embedding", "q")} AS raw
        FROM buckets b, qb
        WHERE b.bucket = qb.qbucket AND b.vec_id != {QUERY_VEC_ID}
    )
    SELECT vec_id, bucket, round(raw, 6) AS score
    FROM cand ORDER BY raw DESC, vec_id LIMIT 10
    """,
    tags=("similarity",),
)
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10: probe only the query's LSH bucket, then
    exact re-rank inside it. At scale the chunk table is WRITTEN
    partitioned by bucket, so this plan reads 1/2^P of the data
    (partition pruning) instead of scanning."""
    e = load_table(spark, sf_dir, "embeddings")
    b = e.select("vec_id", "embedding", _bucket(F.col("embedding")).alias("bucket"))
    q = b.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("bucket").alias("qbucket"), F.col("embedding").alias("q")
    )
    cand = (
        b.join(F.broadcast(q), b.bucket == F.col("qbucket"))
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select(
            "vec_id", "bucket", cosine(F.col("embedding"), F.col("q")).alias("raw")
        )
    )
    return (
        cand.orderBy(F.desc("raw"), "vec_id")
        .limit(10)
        .select("vec_id", "bucket", F.round("raw", 6).alias("score"))
    )


@register(
    "similarity_join_lsh_bucket",
    oracle=f"""
    WITH {_BUCKETS_SQL},
    pairs AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               {cosine_sql_duckdb("a.embedding", "b.embedding")} AS raw
        FROM buckets a JOIN buckets b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, round(raw, 6) AS score
    FROM pairs WHERE raw >= 0.3
    ORDER BY vec_a, vec_b
    """,
    tags=("similarity",),
)
def similarity_join_lsh_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs similarity join above a threshold, restricted to LSH
    bucket co-residents: the O(n²) cross join becomes a hash-partitioned
    self-join on the bucket key. The standard embedding near-dup pass
    for training corpora."""
    e = load_table(spark, sf_dir, "embeddings")
    b = e.select("vec_id", "embedding", _bucket(F.col("embedding")).alias("bucket"))
    a = b.alias("a")
    c = b.alias("b")
    pairs = a.join(
        c,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        cosine(F.col("a.embedding"), F.col("b.embedding")).alias("raw"),
    )
    return (
        pairs.filter(F.col("raw") >= 0.3)
        .select("vec_a", "vec_b", F.round("raw", 6).alias("score"))
        .orderBy("vec_a", "vec_b")
    )


@register(
    "similarity_knn_batch",
    oracle=f"""
    WITH queries AS (
        SELECT vec_id AS qid, embedding AS q FROM embeddings WHERE vec_id % 100 = 0
    ),
    scored AS (
        SELECT qid, e.vec_id,
               {cosine_sql_duckdb("e.embedding", "q")} AS raw
        FROM embeddings e CROSS JOIN queries
        WHERE e.vec_id != qid
    ),
    ranked AS (
        SELECT qid, vec_id, raw,
               row_number() OVER (PARTITION BY qid ORDER BY raw DESC, vec_id) AS rn
        FROM scored
    )
    SELECT qid, vec_id, round(raw, 6) AS score, rn
    FROM ranked WHERE rn <= 3
    ORDER BY qid, rn
    """,
    tags=("similarity",),
)
def similarity_knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch kNN: top-3 neighbors for each of a set of query vectors in
    ONE job — broadcast the query set, rank per query id with a window.
    This is the shape of embedding-index bulk construction (MLlib's
    approxNearestNeighbors does one query per job — unusable at scale)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("q"),
        l2_norm(F.col("embedding")).alias("qn"),
    )
    # corpus norm hoisted above the query fan-out (once per vector, not
    # once per pair); same fold, bit-identical to the fused cosine
    en = e.withColumn("en", l2_norm(F.col("embedding")))
    scored = (
        en.join(F.broadcast(q), en.vec_id != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            (dot(F.col("embedding"), F.col("q")) / (F.col("en") * F.col("qn"))).alias(
                "raw"
            ),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("raw"), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("qid", "vec_id", F.round("raw", 6).alias("score"), "rn")
        .orderBy("qid", "rn")
    )


@register(
    "similarity_near_dup_cosine",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round({cosine_sql_duckdb("a.embedding", "b.embedding")}, 6) AS score
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {cosine_sql_duckdb("a.embedding", "b.embedding")} >= 0.3
    ORDER BY vec_a, vec_b
    """,
    tags=("similarity", "dedup"),
)
def similarity_near_dup_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup with attribute blocking (same label):
    the blocked self-join shape used when a cheap partition key (URL
    host, language, cluster id) bounds the candidate set."""
    e = load_table(spark, sf_dir, "embeddings")
    a = e.alias("a")
    b = e.alias("b")
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cosine(F.col("a.embedding"), F.col("b.embedding")).alias("raw"),
        )
        .filter(F.col("raw") >= 0.3)
        .select("vec_a", "vec_b", F.round("raw", 6).alias("score"))
        .orderBy("vec_a", "vec_b")
    )


N_IVF_CELLS = 8
N_IVF_PROBES = 2

# Shared DuckDB CTE prefix: cell assignment + decimal-exact centroids.
# ann_ivf_exact and ann_ivf_nprobe_recall_curve both start from these
# tables; one definition keeps their quantizers from drifting apart.
_IVF_CENT_CTE = f"""
    ivf AS (
        SELECT vec_id, embedding, vec_id % {N_IVF_CELLS} AS cell FROM embeddings
    ),
    flat AS (
        SELECT cell, generate_subscripts(embedding, 1) AS idx,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM ivf
    ),
    cent_flat AS (
        SELECT cell, idx,
               round(CAST(sum(CAST(v AS DECIMAL(30,8))) AS DOUBLE) / count(*), 6)
                   AS cv
        FROM flat GROUP BY cell, idx
    ),
    cent AS (SELECT cell, list(cv ORDER BY idx) AS c FROM cent_flat GROUP BY cell)
"""


def _ivf_cells_and_centroids(e: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The Spark twin of _IVF_CENT_CTE: (vec_id, embedding, cell) plus
    the per-cell decimal-exact (cell, centroid) table — the stored
    index's own quantizer (operators/vector_store.py)."""
    ivf = e.select("vec_id", "embedding", ivf_cell(N_IVF_CELLS))
    return ivf, ivf_centroids(ivf)


# ann_ivf_exact's oracle, shared by every stored-IVF query: identical
# results through a completely different physical path is exactly what
# a storage layer must guarantee.
_IVF_ORACLE = f"""
    WITH {_IVF_CENT_CTE},
    qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
    cellrank AS (
        SELECT cell, {cosine_sql_duckdb("c", "q")} AS cs
        FROM cent, qv
        ORDER BY cs DESC, cell LIMIT {N_IVF_PROBES}
    ),
    cand AS (
        SELECT i.vec_id, i.cell, {cosine_sql_duckdb("i.embedding", "q")} AS raw
        FROM ivf i, cellrank cr, qv
        WHERE i.cell = cr.cell AND i.vec_id != {QUERY_VEC_ID}
    )
    SELECT vec_id, cell, round(raw, 6) AS score
    FROM cand ORDER BY raw DESC, vec_id LIMIT 10
    """


@register("ann_ivf_exact", oracle=_IVF_ORACLE, tags=("similarity",))
def ann_ivf_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN with a full cross-engine oracle: vectors
    are assigned to cells (deterministic coarse quantizer), per-cell
    CENTROIDS are the element-wise decimal-exact means, the query
    probes its nprobe=2 nearest centroids, and only those cells are
    exact-re-ranked — the classic recall/cost dial (mllib_ivf_ann is
    the KMeans-trained variant; this one pins every float so DuckDB
    reproduces it bit-for-bit). At 100 TB the chunk table is written
    partitioned by cell: a probe is a partition-pruned read of
    nprobe/n_cells of the corpus, and centroids (n_cells × dim) stay a
    broadcast table updated by periodic re-clustering."""
    e = load_table(spark, sf_dir, "embeddings")
    ivf, cent = _ivf_cells_and_centroids(e)
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("q")
    )
    cellrank = (
        cent.join(F.broadcast(q))
        .select("cell", cosine(F.col("centroid"), F.col("q")).alias("cs"))
        .orderBy(F.desc("cs"), "cell")
        .limit(N_IVF_PROBES)
    )
    cand = (
        ivf.join(F.broadcast(cellrank.select("cell")), "cell")
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(q))
        .select("vec_id", "cell", cosine(F.col("embedding"), F.col("q")).alias("raw"))
    )
    return (
        cand.orderBy(F.desc("raw"), "vec_id")
        .limit(10)
        .select("vec_id", "cell", F.round("raw", 6).alias("score"))
    )


def _app_scoped_store(spark: SparkSession, prefix: str, sf_dir: str) -> str:
    """Store path under the repo .tmp, unique per (fixture, Spark app)
    so concurrent runs never race on one directory. Prunes SIBLING
    stores from dead runs (same prefix, mtime older than 6 h — far past
    any live session) so per-app uniqueness cannot grow .tmp without
    bound across rounds."""
    import os
    import shutil
    import time

    tmp = os.path.join(
        os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        ),
        ".tmp",
    )
    os.makedirs(tmp, exist_ok=True)
    cutoff = time.time() - 6 * 3600
    for d in os.listdir(tmp):
        full = os.path.join(tmp, d)
        try:
            if (
                d.startswith(prefix + "_")
                and os.path.isdir(full)
                and os.path.getmtime(full) < cutoff
            ):
                shutil.rmtree(full, ignore_errors=True)
            elif (
                d.startswith(f".{prefix}_")
                and d.endswith(".buildlock")
                and os.path.isfile(full)
                and os.path.getmtime(full) < cutoff
            ):
                # _build_once leaves its (deliberately never-unlinked-
                # while-live) lock files behind; a 6h-old holder is
                # dead, and removing the file is only hazardous while
                # someone holds its inode — which nobody can be here.
                os.unlink(full)
        except OSError:
            pass
    return os.path.join(
        tmp,
        "{}_{}_{}".format(
            prefix,
            os.path.basename(os.path.normpath(sf_dir)),
            spark.sparkContext.applicationId,
        ),
    )


def _build_once(spark: SparkSession, prefix: str, sf_dir: str, build) -> str:
    """All-or-nothing build-once contract for side-effectful query
    builders, centralized: resolve the app-scoped store, and if its
    completion marker is missing, wipe any partial build, run
    ``build(store_path)``, then publish the marker. A builder killed
    mid-build leaves no marker and is rebuilt from scratch on the next
    touch — the same contract every stored-artifact query documents
    (ann_ivf_stored_probe et al.). Returns the store path.

    The check-wipe-build-mark sequence runs under the maintenance
    module's flock, so two sessions sharing an app-scoped store can
    never race one's rmtree against the other's in-flight build or
    read. The lock file lives in the store's PARENT directory: a lock
    inside the store would be unlinked by the wipe while held, letting
    later arrivals lock a fresh inode — two holders (the exact hazard
    _manifest_lock's docstring forbids). Completed stores take the
    no-lock fast path.

    ``build`` may return a JSON-serializable payload; it is persisted
    as the marker's content (atomically, tmp+rename — a crash between
    build and publish leaves no marker, so the store rebuilds), which
    lets builders record build-time facts (e.g. the version numbers
    write_snapshot actually returned) instead of hardcoding them."""
    import json
    import os
    import shutil

    from ..operators.maintenance import _manifest_lock

    store = _app_scoped_store(spark, prefix, sf_dir)
    marker = os.path.join(store, "_STORE_COMPLETE")
    if os.path.exists(marker):
        return store
    parent, base = os.path.split(os.path.normpath(store))
    # timeout sized to the slowest builder at the largest local scale
    # factor (multi-epoch snapshot writes), not _manifest_lock's 30 s
    # default: a second thread arriving mid-build must WAIT for the
    # build, not TimeoutError out of it.
    with _manifest_lock(parent, timeout=600.0, lock_name=f".{base}.buildlock"):
        if not os.path.exists(marker):  # re-check under the lock
            shutil.rmtree(store, ignore_errors=True)
            payload = build(store)
            os.makedirs(store, exist_ok=True)
            tmp = marker + ".tmp"
            with open(tmp, "w") as f:
                json.dump(payload, f)
            os.replace(tmp, marker)
    return store


def _query_vec(e: DataFrame) -> list[float]:
    """The probe query (vec_id QUERY_VEC_ID) as Python floats: a 1-row
    collect at DataFrame-build time."""
    row = e.filter(F.col("vec_id") == QUERY_VEC_ID).select("embedding").first()
    return [float(x) for x in row[0]]


@register(
    "ann_ivf_stored_probe",
    oracle=_IVF_ORACLE,
    tags=("similarity",),
)
def ann_ivf_stored_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STORED half of the IVF design ann_ivf_exact verifies
    in-memory: vectors written ``partitionBy(cell)`` with a persisted
    centroid table + catalog schema (operators/vector_store.py), then
    probed — the cell predicate prunes partitions at the scan, so probe
    I/O is nprobe/n_cells of the corpus at any size
    (tests/test_vector_store.py proves the pruning by corrupting every
    unprobed partition). Same oracle as ann_ivf_exact: identical
    results through a completely different physical path is exactly
    what a storage layer must guarantee.

    SIDE-EFFECTFUL BUILDER: unlike most registered queries, this
    builder runs real jobs at DataFrame-build time — the store write
    (first invocation only, through _build_once) and a 1-row collect
    for the query vector. The store path is unique per (fixture, Spark
    application id) so concurrent runs never race on one directory,
    and a completed store is marked and reused, so schema-only tooling
    (tools/check_types.py, repeated plan builds in one session) pays
    the write exactly once."""
    from ..operators.vector_store import probe_ivf_store, write_ivf_store

    e = load_table(spark, sf_dir, "embeddings")
    store = _build_once(
        spark, "ivf_store", sf_dir,
        lambda path: write_ivf_store(e, path, N_IVF_CELLS),
    )
    return probe_ivf_store(
        spark, store, _query_vec(e), nprobe=N_IVF_PROBES, k=10,
        exclude_vec_id=QUERY_VEC_ID,
    )


@register(
    "ann_ivf_incremental_probe",
    oracle=_IVF_ORACLE,
    tags=("similarity",),
)
def ann_ivf_incremental_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance, end to end: the router is trained
    once (operators/vector_store.py:train_ivf_router), the corpus
    arrives as TWO appended batches (append_ivf_store — cost per ingest
    scales with the batch, the store is never rebuilt), small files are
    folded by per-cell compaction (compact_ivf_cells — rewrites ONLY
    offending cells, into a new store version), and the probe is
    partition-pruned as ever. The oracle is the SAME SQL as
    ann_ivf_stored_probe: grow-by-append + compact must be
    indistinguishable from a batch build — the maintenance-path
    invariant every production vector store owes its users.

    SIDE-EFFECTFUL BUILDER (same contract as ann_ivf_stored_probe):
    store writes happen at build time, keyed by (fixture, app id),
    completed-store marker skips rebuilds."""
    from ..operators.vector_store import (
        append_ivf_store,
        compact_ivf_cells,
        probe_ivf_store,
        train_ivf_router,
    )

    e = load_table(spark, sf_dir, "embeddings")

    def build(path: str) -> None:
        mid = int(e.agg(F.max("vec_id")).first()[0]) // 2
        train_ivf_router(e, path, N_IVF_CELLS)
        append_ivf_store(e.filter(F.col("vec_id") <= mid), path)
        append_ivf_store(e.filter(F.col("vec_id") > mid), path)
        compact_ivf_cells(spark, path, max_files_per_cell=1)

    store = _build_once(spark, "ivf_incr", sf_dir, build)
    return probe_ivf_store(
        spark, store, _query_vec(e), nprobe=N_IVF_PROBES, k=10,
        exclude_vec_id=QUERY_VEC_ID,
    )


@register(
    "ann_ivf_delete_probe",
    oracle=_IVF_ORACLE.replace(
        "ORDER BY raw DESC, vec_id LIMIT 10",
        # deleting the top-2 neighbors then probing top-10 must equal
        # ranks 3..12 of the undeleted ranking (routing is unchanged —
        # deletes never move surviving vectors between cells)
        "ORDER BY raw DESC, vec_id LIMIT 10 OFFSET 2",
    ),
    tags=("similarity",),
)
def ann_ivf_delete_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletes in the stored index, end to end: probe for the query's
    top-2 neighbors, tombstone them (logical delete — O(ids), no data
    file touched, probes anti-join the broadcast tombstone set), purge
    (physical delete — ONLY the affected cells rewritten, into a new
    store version), then probe again. The oracle is the stored
    ranking at OFFSET 2: removal of the top-2 must slide ranks 3..12
    into the top-10 exactly — deletes may never perturb surviving
    scores or routing.

    SIDE-EFFECTFUL BUILDER (same contract as ann_ivf_stored_probe):
    app-scoped store, completed-store marker skips rebuilds."""
    from ..operators.vector_store import (
        delete_from_ivf_store,
        probe_ivf_store,
        purge_ivf_tombstones,
        write_ivf_store,
    )

    e = load_table(spark, sf_dir, "embeddings")
    qvec = _query_vec(e)

    def build(path: str) -> None:
        write_ivf_store(e, path, N_IVF_CELLS)
        top2 = probe_ivf_store(
            spark, path, qvec, nprobe=N_IVF_PROBES, k=2,
            exclude_vec_id=QUERY_VEC_ID,
        ).collect()
        delete_from_ivf_store(spark, path, [int(r.vec_id) for r in top2])
        purge_ivf_tombstones(spark, path)

    store = _build_once(spark, "ivf_del", sf_dir, build)
    return probe_ivf_store(
        spark, store, qvec, nprobe=N_IVF_PROBES, k=10,
        exclude_vec_id=QUERY_VEC_ID,
    )


_INT_DOT_SQL = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(generate_series(1, len({a})), i -> {a}[i] * {b}[i])), "
    "(acc, v) -> acc + v)"
)


def _int_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two quantized vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def _quantize(emb: Column, scale: Column) -> Column:
    """Symmetric int8 quantization: floor(x*scale + 0.5) — identical
    half-up rounding in every engine (no libm, no round() divergence)."""
    return F.transform(
        emb, lambda x: F.floor(x.cast("double") * scale + F.lit(0.5)).cast("bigint")
    )


@register(
    "ann_int8_quantized_topk",
    oracle=f"""
    WITH stats AS (
        SELECT 127.0 / max(list_reduce(
            list_prepend(0.0, list_transform(embedding,
                                             x -> abs(CAST(x AS DOUBLE)))),
            (acc, v) -> greatest(acc, v))) AS scale
        FROM embeddings
    ),
    quant AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS BIGINT))
                 AS qv
        FROM embeddings, stats
    ),
    qq AS (SELECT qv AS q FROM quant WHERE vec_id = {QUERY_VEC_ID})
    SELECT vec_id, {_INT_DOT_SQL.format(a="qv", b="q")} AS qscore
    FROM quant, qq
    WHERE vec_id != {QUERY_VEC_ID}
    ORDER BY qscore DESC, vec_id
    LIMIT 10
    """,
    tags=("similarity",),
)
def ann_int8_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized ANN: embeddings compress to int8 with one global
    symmetric scale (127/max|x|), and top-k runs on exact integer dot
    products. At 100 TB this is the bandwidth play — the quantized
    column is 4× smaller than float32 (16× vs float64), scans SIMD over
    integers, and the full-precision column is only fetched for the
    final k candidates. Quantization uses floor(x*s + 0.5), and integer
    dots are exact, so the whole pipeline is bit-identical across
    engines — unusual for an ANN operator, which is why this one keeps a
    full value oracle rather than rows-only."""
    e = load_table(spark, sf_dir, "embeddings")
    maxabs_fold = F.aggregate(
        F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double"))),
        F.lit(0.0),
        lambda acc, v: F.greatest(acc, v),
    )
    scale_df = e.agg((F.lit(127.0) / F.max(maxabs_fold)).alias("scale"))
    quant = e.join(F.broadcast(scale_df)).select(
        "vec_id", _quantize(F.col("embedding"), F.col("scale")).alias("qv")
    )
    q = quant.filter(F.col("vec_id") == QUERY_VEC_ID).select(F.col("qv").alias("q"))
    return (
        quant.filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(q))
        .select("vec_id", _int_dot(F.col("qv"), F.col("q")).alias("qscore"))
        .orderBy(F.desc("qscore"), "vec_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Product quantization (ADC) — compressed-domain ANN.
# ---------------------------------------------------------------------------

_PQ_SUBS = 8      # subspaces of 8 dims each over the 64-dim vectors
_PQ_SUBDIM = 8
_PQ_CODES = 16    # codebook entries per subspace (vec_id 0..15 sub-vectors)
_PQ_RERANK = 50   # ADC shortlist size re-ranked exactly

def _pq_sq(a, b):
    """0.0-seeded left-to-right squared-distance fold (oracle order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )


def _pq_sub(col, s):
    return F.slice(col, s * _PQ_SUBDIM + 1, _PQ_SUBDIM)


def _pq_query_lut(tiny) -> Column:
    """ADC lookup table, computed ONCE on the driver (a 17-row read):
    lut[s][code] = ||q_sub - c_sub||² with the same 0.0-seeded
    left-to-right accumulation the oracle uses, so riding it into the
    plan as a literal changes nothing bit-wise. Shared by the flat-PQ
    and IVFPQ queries — the two must stay accumulation-identical for
    their oracles."""
    small = {
        int(r.vec_id): [float(x) for x in r.v]
        for r in tiny.filter(
            (F.col("vec_id") < _PQ_CODES) | (F.col("vec_id") == QUERY_VEC_ID)
        ).collect()
    }
    qv = small[QUERY_VEC_ID]
    lut = []
    for s in range(_PQ_SUBS):
        row = []
        for code in range(_PQ_CODES):
            acc = 0.0
            for i in range(_PQ_SUBDIM):
                d = qv[s * _PQ_SUBDIM + i] - small[code][s * _PQ_SUBDIM + i]
                acc = acc + d * d
            row.append(acc)
        lut.append(row)
    return F.array(*[F.array(*[F.lit(d) for d in row]) for row in lut])


def _pq_encode_columns() -> tuple[Column, Column, Column]:
    """(best, codes, adc_d) expressions over columns v/cb/best/lut:
    per-subspace argmin structs hoisted into ONE projected column
    (codes and adc_d both read it, so each fold runs once per row),
    then the code string and the LUT-gather distance accumulated in
    subspace order like the oracle."""

    def best_for(s: int):
        def entry(cbe):
            return F.struct(
                _pq_sq(_pq_sub(F.col("v"), s), _pq_sub(cbe["c"], s)).alias(
                    "d_enc"
                ),
                cbe["code"].alias("code"),
            )

        return F.array_min(F.transform("cb", entry))

    best_col = F.array(*[best_for(s) for s in range(_PQ_SUBS)])
    codes = F.concat_ws(
        "-", F.transform("best", lambda b: b["code"].cast("string"))
    )
    adc_d = F.aggregate(
        F.zip_with(
            F.lit(list(range(_PQ_SUBS))),
            F.col("best"),
            lambda s, b: F.element_at(
                F.element_at(F.col("lut"), (s + 1).cast("int")),
                (b["code"] + 1).cast("int"),
            ),
        ),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )
    return best_col, codes, adc_d



def _pq_sq_duckdb(a: str, b: str, dim: int) -> str:
    return (
        f"list_reduce(list_prepend(0.0, list_transform("
        f"generate_series(1, {dim}), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), "
        f"(acc, e) -> acc + e)"
    )


@register(
    "ann_pq_adc_topk",
    oracle=f"""
    WITH vec AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    cb AS (SELECT vec_id AS code, v AS c FROM vec WHERE vec_id < {_PQ_CODES}),
    qv AS (SELECT v AS q FROM vec WHERE vec_id = {QUERY_VEC_ID}),
    subs AS (SELECT unnest(generate_series(0, {_PQ_SUBS - 1})) AS s),
    enc0 AS (
        SELECT vec_id, s, code,
               {_pq_sq_duckdb(
                   f"list_slice(v, s * {_PQ_SUBDIM} + 1, s * {_PQ_SUBDIM} + {_PQ_SUBDIM})",
                   f"list_slice(c, s * {_PQ_SUBDIM} + 1, s * {_PQ_SUBDIM} + {_PQ_SUBDIM})",
                   _PQ_SUBDIM,
               )} AS d_enc,
               {_pq_sq_duckdb(
                   f"list_slice(q, s * {_PQ_SUBDIM} + 1, s * {_PQ_SUBDIM} + {_PQ_SUBDIM})",
                   f"list_slice(c, s * {_PQ_SUBDIM} + 1, s * {_PQ_SUBDIM} + {_PQ_SUBDIM})",
                   _PQ_SUBDIM,
               )} AS dq
        FROM vec CROSS JOIN subs CROSS JOIN cb CROSS JOIN qv
        WHERE vec_id != {QUERY_VEC_ID}
    ),
    enc AS (
        SELECT vec_id, s, code, dq FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, s
                                         ORDER BY d_enc, code) AS rn
            FROM enc0
        ) WHERE rn = 1
    ),
    adc AS (
        SELECT vec_id,
               array_to_string(list(code ORDER BY s), '-') AS codes,
               list_reduce(list_prepend(0.0, list(dq ORDER BY s)),
                           (acc, e) -> acc + e) AS adc_d
        FROM enc GROUP BY vec_id
    ),
    cand AS (
        SELECT a.vec_id, a.codes, a.adc_d, v.v
        FROM adc a JOIN vec v USING (vec_id)
        ORDER BY a.adc_d, a.vec_id LIMIT {_PQ_RERANK}
    )
    SELECT vec_id, codes, round(adc_d, 6) AS adc_dist,
           round({_pq_sq_duckdb("v", "q", 64)}, 6) AS exact_dist
    FROM cand CROSS JOIN qv
    ORDER BY exact_dist, vec_id LIMIT 10
    """,
    headline=True,
    tags=("similarity",),
)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation —
    the compressed-domain scale path (Jégou et al., PQ): each vector is
    encoded as 8 sub-space codes (here 16-entry codebooks from the
    vec_id<16 sub-vectors; k-means-trained at deployment), the query
    scans CODES not vectors (64 bits/vector instead of 2 KB — a 256×
    scan-bandwidth cut at 100 TB), and only the ADC top-50 shortlist
    touches full vectors for exact re-rank.

    Spark shape: the codebook is ONE broadcast row and the
    query-to-codebook ADC table is a LITERAL — real PQ computes the
    8x16 lookup table once per query on the query node, never per
    corpus row, so the big scan folds only the row-dependent encode
    distances (half the arithmetic of folding both sides). Encoding
    is a pure map-side nested higher-order function (no shuffle, stays
    in codegen); both the shortlist and the final top-k are
    TakeOrderedAndProject heap merges. Every fold — including the
    driver-side LUT — is 0.0-seeded left-to-right so the DuckDB twin
    is bit-exact."""
    e = load_table(spark, sf_dir, "embeddings")
    # single-file fixture = one split; spread the 128-fold/row encode
    vec = e.transform(spread_input, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    # codebook/query come off the raw scan (16+1 rows) — routing them
    # through the repartitioned frame would shuffle the corpus twice
    # more just to read 17 rows
    tiny = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    cb_row = (
        tiny.filter(F.col("vec_id") < _PQ_CODES)
        .select(F.col("vec_id").alias("code"), F.col("v").alias("c"))
        .agg(F.collect_list(F.struct("code", "c")).alias("cb"))
    )
    q_row = tiny.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("v").alias("q")
    )
    lut_col = _pq_query_lut(tiny)
    best_col, codes, adc_d = _pq_encode_columns()
    cand = (
        vec.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(cb_row))
        .select("vec_id", "v", best_col.alias("best"), lut_col.alias("lut"))
        .select("vec_id", "v", codes.alias("codes"), adc_d.alias("adc_d"))
        .orderBy("adc_d", "vec_id")
        .limit(_PQ_RERANK)
    )
    # full vectors + the query touch only the 50-row shortlist
    return (
        cand.crossJoin(F.broadcast(q_row))
        .select(
            "vec_id",
            "codes",
            F.round("adc_d", 6).alias("adc_dist"),
            F.round(_pq_sq(F.col("v"), F.col("q")), 6).alias("exact_dist"),
        )
        .orderBy("exact_dist", "vec_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Index-quality evaluation: recall@k of the LSH index against the
# exact scan, measured inside the engine. Every vector store ships
# this harness; at 100 TB it is the only way to tune N_PLANES /
# nprobe without exporting data.
# ---------------------------------------------------------------------------

_EVAL_NQ = 20  # query batch: vec_ids 0..19
_EVAL_K = 10


@register(
    "ann_recall_eval",
    oracle=f"""
    WITH {_BUCKETS_SQL},
    q AS (SELECT vec_id AS qid, bucket AS qbucket, embedding AS qv
          FROM buckets WHERE vec_id < {_EVAL_NQ}),
    exact AS (
        SELECT qid, vec_id FROM (
            SELECT q.qid, e.vec_id,
                   row_number() OVER (
                       PARTITION BY q.qid
                       ORDER BY {cosine_sql_duckdb("e.embedding", "q.qv")} DESC,
                                e.vec_id) AS rn
            FROM embeddings e CROSS JOIN q
            WHERE e.vec_id != q.qid
        ) WHERE rn <= {_EVAL_K}
    ),
    approx AS (
        SELECT qid, vec_id FROM (
            SELECT q.qid, b.vec_id,
                   row_number() OVER (
                       PARTITION BY q.qid
                       ORDER BY {cosine_sql_duckdb("b.embedding", "q.qv")} DESC,
                                b.vec_id) AS rn
            FROM buckets b JOIN q ON b.bucket = q.qbucket
            WHERE b.vec_id != q.qid
        ) WHERE rn <= {_EVAL_K}
    )
    SELECT e.qid,
           count(a.vec_id) AS n_hit,
           round(CAST(count(a.vec_id) AS DOUBLE) / {_EVAL_K}, 6) AS recall
    FROM exact e
    LEFT JOIN approx a ON a.qid = e.qid AND a.vec_id = e.vec_id
    GROUP BY e.qid
    ORDER BY e.qid
    """,
    tags=("similarity", "eval"),
)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the hyperplane-LSH index vs the exact scan for a
    20-query batch, computed entirely in-engine: exact top-k via the
    batch-kNN window, approximate top-k probing only each query's
    bucket, then a per-query hit join.

    Scale shape: the 20-row query set broadcasts to both sides; the
    exact side is one corpus scan amortized over the whole batch, the
    approx side reads only the probed buckets (partition-pruned under
    bucketed storage). The hit join keys on (qid, vec_id) — tiny."""
    e = load_table(spark, sf_dir, "embeddings")
    b = e.select("vec_id", "embedding", _bucket(F.col("embedding")).alias("bucket"))
    q = b.filter(F.col("vec_id") < _EVAL_NQ).select(
        F.col("vec_id").alias("qid"),
        F.col("bucket").alias("qbucket"),
        F.col("embedding").alias("qv"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("raw"), "vec_id")
    exact = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid", "vec_id", cosine(F.col("embedding"), F.col("qv")).alias("raw")
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _EVAL_K)
        .select("qid", "vec_id")
    )
    approx = (
        b.join(F.broadcast(q), b.bucket == F.col("qbucket"))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid", "vec_id", cosine(F.col("embedding"), F.col("qv")).alias("raw")
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _EVAL_K)
        .select("qid", F.col("vec_id").alias("avid"))
    )
    return (
        exact.join(
            approx,
            (exact.qid == approx.qid) & (exact.vec_id == approx.avid),
            "left",
        )
        .groupBy(exact.qid.alias("qid"))
        .agg(
            F.count("avid").alias("n_hit"),
            F.round(F.count("avid").cast("double") / _EVAL_K, 6).alias("recall"),
        )
        .orderBy("qid")
    )


# ---------------------------------------------------------------------------
# IVF + PQ composed (the FAISS IVFPQ layout): coarse cells bound WHICH
# vectors are scanned, PQ codes bound HOW MANY bytes each costs. The
# two dials multiply: nprobe/n_cells of the corpus at 64 bits/vector.
# ---------------------------------------------------------------------------


@register(
    "ann_ivfpq_adc_topk",
    oracle=f"""
    WITH {_IVF_CENT_CTE},
    qe AS (SELECT embedding AS q FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
    cellrank AS (
        SELECT cell, {cosine_sql_duckdb("c", "q")} AS cs
        FROM cent, qe
        ORDER BY cs DESC, cell LIMIT {N_IVF_PROBES}
    ),
    vec AS (
        SELECT i.vec_id, i.cell,
               list_transform(i.embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM ivf i
    ),
    cb AS (SELECT vec_id AS code, v AS c FROM vec WHERE vec_id < {_PQ_CODES}),
    qv AS (SELECT v AS q FROM vec WHERE vec_id = {QUERY_VEC_ID}),
    subs AS (SELECT unnest(generate_series(0, {_PQ_SUBS - 1})) AS s),
    enc0 AS (
        SELECT v.vec_id, v.cell, s, code,
               {_pq_sq_duckdb(
                   f"list_slice(v.v, s * {_PQ_SUBDIM} + 1, s * {_PQ_SUBDIM} + {_PQ_SUBDIM})",
                   f"list_slice(c, s * {_PQ_SUBDIM} + 1, s * {_PQ_SUBDIM} + {_PQ_SUBDIM})",
                   _PQ_SUBDIM,
               )} AS d_enc,
               {_pq_sq_duckdb(
                   f"list_slice(q, s * {_PQ_SUBDIM} + 1, s * {_PQ_SUBDIM} + {_PQ_SUBDIM})",
                   f"list_slice(c, s * {_PQ_SUBDIM} + 1, s * {_PQ_SUBDIM} + {_PQ_SUBDIM})",
                   _PQ_SUBDIM,
               )} AS dq
        FROM vec v CROSS JOIN subs CROSS JOIN cb CROSS JOIN qv
        WHERE v.vec_id != {QUERY_VEC_ID}
          AND v.cell IN (SELECT cell FROM cellrank)
    ),
    enc AS (
        SELECT vec_id, cell, s, code, dq FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, s
                                         ORDER BY d_enc, code) AS rn
            FROM enc0
        ) WHERE rn = 1
    ),
    adc AS (
        SELECT vec_id, cell,
               array_to_string(list(code ORDER BY s), '-') AS codes,
               list_reduce(list_prepend(0.0, list(dq ORDER BY s)),
                           (acc, e) -> acc + e) AS adc_d
        FROM enc GROUP BY vec_id, cell
    ),
    cand AS (
        SELECT a.vec_id, a.cell, a.codes, a.adc_d, v.v
        FROM adc a JOIN vec v USING (vec_id)
        ORDER BY a.adc_d, a.vec_id LIMIT {_PQ_RERANK}
    )
    SELECT vec_id, cell, codes, round(adc_d, 6) AS adc_dist,
           round({_pq_sq_duckdb("v", "q", 64)}, 6) AS exact_dist
    FROM cand CROSS JOIN qv
    ORDER BY exact_dist, vec_id LIMIT 10
    """,
    tags=("similarity",),
)
def ann_ivfpq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF routing composed with PQ compression — the production ANN
    layout (FAISS IVFPQ): the query probes its nprobe=2 nearest cells
    (decimal-exact centroids, as ann_ivf_exact), and inside those cells
    candidates are ranked by asymmetric PQ distance over 8-byte codes
    (as ann_pq_adc_topk) before the top-50 exact re-rank. At 100 TB
    the table is partitioned by cell and stores the code column next
    to each row: a query reads nprobe/n_cells of the corpus at 64
    bits/vector — the two savings multiply — and only the shortlist
    touches full vectors.

    Spark shape: centroids and the codebook are broadcast rows; cell
    routing is a 2-row broadcast join (partition pruning under
    partitioned storage); encode + ADC stay map-side codegen; both
    shortlist and final top-k are TakeOrderedAndProject heap merges."""
    e = load_table(spark, sf_dir, "embeddings")
    _, cent = _ivf_cells_and_centroids(e)  # ann_ivf_exact's quantizer
    qe = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("q")
    )
    probed = (
        cent.crossJoin(F.broadcast(qe))
        .select("cell", cosine(F.col("centroid"), F.col("q")).alias("cs"))
        .orderBy(F.desc("cs"), "cell")
        .limit(N_IVF_PROBES)
        .select("cell")
    )
    # PQ encode + ADC (identical folds to ann_pq_adc_topk), probed cells only
    vec = e.transform(spread_input, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        ivf_cell(N_IVF_CELLS),
    )
    tiny = e.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    cb_row = (
        tiny.filter(F.col("vec_id") < _PQ_CODES)
        .select(F.col("vec_id").alias("code"), F.col("v").alias("c"))
        .agg(F.collect_list(F.struct("code", "c")).alias("cb"))
    )
    q_row = tiny.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("v").alias("q")
    )

    # shared driver-side LUT + encode expressions (ann_pq_adc_topk)
    lut_col = _pq_query_lut(tiny)
    best_col, codes, adc_d = _pq_encode_columns()
    cand = (
        vec.join(F.broadcast(probed), "cell")
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(cb_row))
        .select(
            "vec_id", "cell", "v",
            best_col.alias("best"), lut_col.alias("lut"),
        )
        .select(
            "vec_id", "cell", "v", codes.alias("codes"), adc_d.alias("adc_d")
        )
        .orderBy("adc_d", "vec_id")
        .limit(_PQ_RERANK)
    )
    return (
        cand.crossJoin(F.broadcast(q_row))
        .select(
            "vec_id",
            "cell",
            "codes",
            F.round("adc_d", 6).alias("adc_dist"),
            F.round(_pq_sq(F.col("v"), F.col("q")), 6).alias("exact_dist"),
        )
        .orderBy("exact_dist", "vec_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Metadata-filtered ANN + binary quantization — the two remaining
# serving-side features of a production vector store.
# ---------------------------------------------------------------------------


@register(
    "ann_filtered_topk",
    oracle=f"""
    WITH qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
    scored AS (
        SELECT vec_id, label, {cosine_sql_duckdb("embedding", "q")} AS raw
        FROM embeddings, qv
        WHERE vec_id != {QUERY_VEC_ID} AND label = 1
    )
    SELECT vec_id, label, round(raw, 6) AS score
    FROM scored ORDER BY raw DESC, vec_id LIMIT 10
    """,
    tags=("similarity",),
)
def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered vector search (the Pinecone `filter=` surface
    the reference's client exposes): top-10 cosine among vectors whose
    label matches the predicate. The filter is pushed to the parquet
    scan BEFORE any scoring — pre-filtering, not post-filtering, so
    top_k results are guaranteed even for selective predicates; under
    label-partitioned storage the scan prunes to matching partitions
    and the cost drops with selectivity instead of rising."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("q")
    )
    return (
        e.filter((F.col("vec_id") != QUERY_VEC_ID) & (F.col("label") == 1))
        .join(F.broadcast(q))
        .select(
            "vec_id", "label", cosine(F.col("embedding"), F.col("q")).alias("raw")
        )
        .orderBy(F.desc("raw"), "vec_id")
        .limit(10)
        .select("vec_id", "label", F.round("raw", 6).alias("score"))
    )


_BQ_RERANK = 50


def _bq_word_sql(lo: int) -> str:
    """32 sign bits from dims lo..lo+31 as a BIGINT word (fits 2^32)."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(generate_series({lo}, {lo + 31}), "
        f"i -> CASE WHEN embedding[i] >= 0 "
        f"THEN CAST(power(2, i - {lo}) AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END)), (acc, b) -> acc + b)"
    )


@register(
    "ann_binary_quantized_topk",
    oracle=f"""
    WITH vec AS (
        SELECT vec_id, embedding,
               {_bq_word_sql(1)} AS sig_lo,
               {_bq_word_sql(33)} AS sig_hi
        FROM embeddings
    ),
    qv AS (SELECT sig_lo AS qlo, sig_hi AS qhi, embedding AS q FROM vec
           WHERE vec_id = {QUERY_VEC_ID}),
    cand AS (
        SELECT v.vec_id, v.embedding,
               bit_count(xor(v.sig_lo, qlo)) + bit_count(xor(v.sig_hi, qhi))
                   AS hamming
        FROM vec v, qv
        WHERE v.vec_id != {QUERY_VEC_ID}
        ORDER BY hamming, v.vec_id LIMIT {_BQ_RERANK}
    )
    SELECT vec_id, hamming,
           round({cosine_sql_duckdb("embedding", "q")}, 6) AS score
    FROM cand, qv
    ORDER BY score DESC, vec_id LIMIT 10
    """,
    tags=("similarity",),
)
def ann_binary_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary quantization: each 64-dim vector collapses to 64 SIGN
    BITS (two 32-bit words — 32x smaller than even int8); candidates
    rank by Hamming distance — xor + popcount per word, the cheapest
    scan a vector store can run — and the top-50 re-rank exactly.
    At 100 TB the signature column rides next to the parquet rows and
    the scan reads 8 bytes/vector; signatures build map-side in pure
    codegen (no shuffle, no Python)."""
    e = load_table(spark, sf_dir, "embeddings")

    def word(lo: int):
        return F.aggregate(
            F.transform(
                F.sequence(F.lit(lo), F.lit(lo + 31)),
                lambda i: F.when(
                    F.element_at(F.col("embedding"), i) >= 0,
                    F.pow(F.lit(2.0), (i - F.lit(lo)).cast("double")).cast("long"),
                ).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda acc, b: acc + b,
        )

    vec = e.select(
        "vec_id", "embedding", word(1).alias("sig_lo"), word(33).alias("sig_hi")
    )
    q = vec.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("sig_lo").alias("qlo"),
        F.col("sig_hi").alias("qhi"),
        F.col("embedding").alias("q"),
    )
    cand = (
        vec.filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(q))
        .select(
            "vec_id",
            "embedding",
            "q",
            (
                F.bit_count(F.col("sig_lo").bitwiseXOR(F.col("qlo")))
                + F.bit_count(F.col("sig_hi").bitwiseXOR(F.col("qhi")))
            ).alias("hamming"),
        )
        .orderBy("hamming", "vec_id")
        .limit(_BQ_RERANK)
    )
    return (
        cand.select(
            "vec_id",
            "hamming",
            F.round(cosine(F.col("embedding"), F.col("q")), 6).alias("score"),
        )
        .orderBy(F.desc("score"), "vec_id")
        .limit(10)
    )


@register(
    "ann_range_query",
    oracle=f"""
    WITH qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
    scored AS (
        SELECT vec_id, label, {cosine_sql_duckdb("embedding", "q")} AS raw
        FROM embeddings, qv
        WHERE vec_id != {QUERY_VEC_ID}
    )
    SELECT vec_id, label, round(raw, 6) AS score
    FROM scored WHERE raw >= 0.2
    ORDER BY raw DESC, vec_id
    """,
    tags=("similarity",),
)
def ann_range_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range search — ALL vectors within a similarity radius, not a
    fixed k (the `score_threshold` surface of Qdrant/Milvus/pgvector;
    radius queries in FAISS). The result size is data-dependent, so
    there is no top-k heap shortcut: the scalable form is a map-side
    scored filter that keeps the scan embarrassingly parallel and
    pushes NOTHING to the driver until the (small) qualifying set
    sorts. Under an IVF layout the same predicate prunes to the cells
    whose centroid bound can reach the radius (triangle inequality) —
    this brute-force form is the correctness oracle for that."""
    e = load_table(spark, sf_dir, "embeddings")
    qe = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("q")
    )
    return (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(qe))
        .select(
            "vec_id",
            "label",
            cosine(F.col("embedding"), F.col("q")).alias("raw"),
        )
        .filter(F.col("raw") >= 0.2)
        .select("vec_id", "label", F.round("raw", 6).alias("score"), "raw")
        .orderBy(F.desc("raw"), "vec_id")
        .drop("raw")
    )


@register(
    "ann_ivf_range_query",
    oracle=_IVF_ORACLE.replace(
        "SELECT vec_id, cell, round(raw, 6) AS score\n"
        "    FROM cand ORDER BY raw DESC, vec_id LIMIT 10",
        "SELECT vec_id, cell, round(raw, 6) AS score\n"
        "    FROM cand WHERE raw >= 0.2 ORDER BY raw DESC, vec_id",
    ),
    tags=("similarity",),
)
def ann_ivf_range_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range search through the STORED IVF index: all vectors above the
    similarity threshold within the probed cells — the composition of
    score_threshold semantics (ann_range_query proves the brute-force
    baseline) with partition-pruned storage (ann_ivf_stored_probe
    proves the layout). I/O stays nprobe/n_cells of the corpus even
    though the result size is unbounded, which is why range queries —
    not top-k — are where IVF pruning pays most at 100 TB.

    SIDE-EFFECTFUL BUILDER (same contract as ann_ivf_stored_probe):
    app-scoped store, completed-store marker skips rebuilds."""
    from ..operators.vector_store import probe_ivf_range, write_ivf_store

    e = load_table(spark, sf_dir, "embeddings")
    store = _build_once(
        spark, "ivf_range", sf_dir,
        lambda path: write_ivf_store(e, path, N_IVF_CELLS),
    )
    return probe_ivf_range(
        spark, store, _query_vec(e), nprobe=N_IVF_PROBES, min_score=0.2,
        exclude_vec_id=QUERY_VEC_ID,
    )


@register(
    "embedding_matryoshka_topk",
    oracle=f"""
    WITH trunc AS (
        SELECT vec_id, embedding[1:256] AS e FROM embeddings
    ),
    qv AS (SELECT e AS q FROM trunc WHERE vec_id = {QUERY_VEC_ID}),
    scored AS (
        SELECT vec_id, {cosine_sql_duckdb("e", "q")} AS raw
        FROM trunc, qv
        WHERE vec_id != {QUERY_VEC_ID}
    )
    SELECT vec_id, round(raw, 6) AS score
    FROM scored ORDER BY raw DESC, vec_id LIMIT 10
    """,
    tags=("similarity",),
)
def embedding_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncated search (Kusupati et al. 2022, public
    paper): score in the first 256 of 1024 dims — cosine renormalizes,
    so truncation is just a slice. The 4× cheaper scan is the coarse
    pass of a two-stage retrieve-then-rerank cascade.

    Scale: the slice happens before the fold, so the per-row work AND
    the bytes a columnar reader must materialize drop 4×; at 100 TB the
    full-width vectors would live in a separate column family and never
    be read by this pass. Plan: TakeOrderedAndProject (per-partition
    heaps), no global sort."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.slice("embedding", 1, 256).alias("e")
    )
    q = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("e").alias("q")
    )
    return (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select("vec_id", cosine(F.col("e"), F.col("q")).alias("raw"))
        .orderBy(F.desc("raw"), "vec_id")
        .limit(10)
        .select("vec_id", F.round("raw", 6).alias("score"))
    )


@register(
    "embedding_dim_stats",
    oracle="""
    SELECT CAST(i - 1 AS BIGINT) AS dim,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(CAST(v AS DOUBLE)), 6) AS mean_v,
           round(stddev_samp(CAST(v AS DOUBLE)), 6) AS std_v,
           round(min(CAST(v AS DOUBLE)), 6) AS min_v,
           round(max(CAST(v AS DOUBLE)), 6) AS max_v
    FROM (
        SELECT unnest(list_transform(generate_series(1, 64),
                                     i -> struct_pack(i := i,
                                                      v := embedding[i]))) AS s
        FROM embeddings
    ), LATERAL (SELECT s.i AS i, s.v AS v)
    GROUP BY i ORDER BY i
    """,
    tags=("similarity",),
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension distribution audit over the first 64 dims: mean,
    spread, range — the embedding-QA pass that catches dead dimensions
    (std≈0), saturated ones, and drift between ingest batches before
    they poison recall.

    Scale: posexplode is map-side; the aggregate keys on 64 dims, so
    partial aggregation collapses every partition to ≤64 rows before a
    64-row shuffle — constant shuffle volume no matter how many billion
    vectors the scan covers."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("v").cast("double")
    return (
        emb.select(
            F.posexplode(F.slice("embedding", 1, 64)).alias("dim", "v")
        )
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.avg(v), 6).alias("mean_v"),
            F.round(F.stddev_samp(v), 6).alias("std_v"),
            F.round(F.min(v), 6).alias("min_v"),
            F.round(F.max(v), 6).alias("max_v"),
        )
        .select(F.col("dim").cast("long"), "n", "mean_v", "std_v", "min_v", "max_v")
        .orderBy("dim")
    )


@register(
    "ann_ivf_nprobe_recall_curve",
    oracle=f"""
    WITH {_IVF_CENT_CTE},
    qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
    cellrank AS (
        SELECT cell,
               row_number() OVER (
                   ORDER BY {cosine_sql_duckdb("c", "q")} DESC, cell) AS rn
        FROM cent, qv
    ),
    scored AS (
        SELECT i.vec_id, cr.rn, {cosine_sql_duckdb("i.embedding", "q")} AS raw
        FROM ivf i JOIN cellrank cr ON i.cell = cr.cell, qv
        WHERE i.vec_id != {QUERY_VEC_ID}
    ),
    exact AS (
        SELECT vec_id FROM scored ORDER BY raw DESC, vec_id LIMIT 10
    ),
    probes AS (SELECT unnest([1, 2, 3, 4]) AS np),
    swept AS (
        SELECT p.np, s.vec_id, s.raw,
               row_number() OVER (PARTITION BY p.np
                                  ORDER BY s.raw DESC, s.vec_id) AS k,
               count(*) OVER (PARTITION BY p.np) AS n_scanned
        FROM probes p JOIN scored s ON s.rn <= p.np
    )
    SELECT np,
           round(CAST(count(*) FILTER (WHERE k <= 10
                      AND vec_id IN (SELECT vec_id FROM exact)) AS DOUBLE)
                 / 10, 6) AS recall_at_10,
           CAST(max(n_scanned) AS BIGINT) AS n_scanned
    FROM swept
    GROUP BY np
    ORDER BY np
    """,
    tags=("similarity",),
)
def ann_ivf_nprobe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF accuracy/cost dial QUANTIFIED: one query sweeps
    nprobe 1..4 and reports recall@10 against the exact top-10
    alongside the candidate-scan cost — the table an operator reads
    before picking a probe budget. Cells are ranked once (broadcast,
    8 rows); the sweep reuses one scored candidate frame, so the cost
    of 4 settings is one cell-pruned scan + windows over ≤ |scanned|×4
    rows, not 4 independent probes.

    Scale: candidates join on the broadcast cell rank (no shuffle of
    vectors); the per-np windows run over the pruned candidate set
    only. Ground truth is the EXACT global top-10: cellrank ranks all
    8 cells with no limit, so `scored` covers the full corpus and the
    `exact` CTE is the true answer set (recall@4-probes < 1.0 is a
    real measurement, not an artifact of a truncated universe)."""
    e = load_table(spark, sf_dir, "embeddings")
    ivf, cent = _ivf_cells_and_centroids(e)
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("q")
    )
    cellrank = cent.join(F.broadcast(q)).select(
        "cell",
        F.row_number()
        .over(
            Window.orderBy(
                F.desc(cosine(F.col("centroid"), F.col("q"))), F.col("cell")
            )
        )
        .alias("rn"),
    )
    scored = (
        ivf.join(F.broadcast(cellrank), "cell")
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(q))
        .select("vec_id", "rn", cosine(F.col("embedding"), F.col("q")).alias("raw"))
    )
    exact = (
        scored.orderBy(F.desc("raw"), "vec_id").limit(10).select("vec_id")
    )
    probes = spark.range(1, 5).select(F.col("id").cast("int").alias("np"))
    swept = (
        probes.join(scored, scored.rn <= probes.np)
        .withColumn(
            "k",
            F.row_number().over(
                Window.partitionBy("np").orderBy(F.desc("raw"), "vec_id")
            ),
        )
        .withColumn("n_scanned", F.count(F.lit(1)).over(Window.partitionBy("np")))
    )
    hit = swept.join(F.broadcast(exact), "vec_id", "left_semi").filter(
        F.col("k") <= 10
    )
    per_np = swept.groupBy("np").agg(F.max("n_scanned").cast("long").alias("n_scanned"))
    hits = hit.groupBy("np").agg(F.count(F.lit(1)).alias("n_hits"))
    return (
        per_np.join(hits, "np", "left")
        .na.fill(0, ["n_hits"])
        .select(
            "np",
            F.round(F.col("n_hits").cast("double") / 10, 6).alias("recall_at_10"),
            "n_scanned",
        )
        .orderBy("np")
    )
