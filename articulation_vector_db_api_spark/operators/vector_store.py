"""Stored vector index: the IVF cell assignment persisted as the
table's PARTITION layout, so a probe is a partition-pruned read.

``ann_ivf_exact`` (suites/similarity.py) oracle-verifies the IVF
SEMANTICS in one plan; this module is the storage half of the same
design — the claim its docstring makes ("at 100 TB the chunk table is
written partitioned by cell") realized as operators:

- ``train_ivf_router``: start a store — pin its cell count
  (``store_meta.json``) and catalog schema (``schema.json``), publish
  the per-cell centroid table as the broadcastable routing "index",
  and open an empty version ``v0``.
- ``write_ivf_store`` / ``append_ivf_store``: assign each vector its
  cell and write parquet ``partitionBy(cell)`` (clustered first — same
  small-files discipline as operators/ingest.py).
- ``probe_ivf_store``: route the query against the (tiny) centroid
  table, then read ONLY the probed cells — the cell predicate reaches
  the scan as a partition filter, so I/O is nprobe/n_cells of the
  corpus no matter how large the corpus grows. Exact re-rank inside
  the probed cells, top-k as a heap merge.

``n_cells`` is fixed when the router is trained: every later append,
upsert, delete and purge routes with the store's own value (the
``/vectors/*`` request bodies carry none). Every store is versioned:
readers scan ``vectors/v{K}`` pinned by ``_store_manifest.json``.

``ann_ivf_exact`` builds its cells and centroids with this module's
quantizer (:func:`ivf_cell`, :func:`ivf_centroids`), so both halves
describe one index.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions.numeric import davg
from ..functions.vector import cosine
from .maintenance import _manifest_lock

_WRITER_LOCK = ".writer.lock"
_STORE_MANIFEST = "_store_manifest.json"


def _current_version(path: str) -> int:
    """Version pinned by the store manifest."""
    with open(os.path.join(path, _STORE_MANIFEST)) as f:
        return int(json.load(f)["current"])


def _version_dir(path: str, version: int) -> str:
    return os.path.join(path, "vectors", f"v{version}")


def current_vectors_dir(path: str) -> str:
    """The vector tree readers should scan RIGHT NOW: the manifest's
    pinned version directory (``vectors/v{K}``). Readers pin this once
    per probe — every file under a published version is immutable, so
    a probe can never observe a half-rewritten cell."""
    return _version_dir(path, _current_version(path))


def _publish_version(path: str, new_version: int, keep: int = 2) -> None:
    """Atomically flip the manifest to ``new_version`` (tmp + rename),
    then garbage-collect version dirs older than the newest ``keep``.
    Keeping the previous version protects in-flight probes that pinned
    it just before the flip — a reader would have to outlive TWO full
    rewrites to ever see a vanished file."""
    mpath = os.path.join(path, _STORE_MANIFEST)
    tmp = f"{mpath}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        f.write(json.dumps({"current": new_version}))
    os.replace(tmp, mpath)
    vdir = os.path.join(path, "vectors")
    for d in os.listdir(vdir):
        if d.startswith("v") and d[1:].isdigit():
            if int(d[1:]) <= new_version - keep:
                shutil.rmtree(os.path.join(vdir, d), ignore_errors=True)


def _hardlink_cell(src_cell_dir: str, dst_cell_dir: str) -> None:
    """Carry an untouched cell into the next version for free: hardlink
    every data file (the local analog of a table format's manifest
    reusing unchanged data files — no bytes copied, no bytes read)."""
    os.makedirs(dst_cell_dir, exist_ok=True)
    for f in os.listdir(src_cell_dir):
        if f.endswith(".parquet"):
            os.link(
                os.path.join(src_cell_dir, f), os.path.join(dst_cell_dir, f)
            )


def _store_n_cells(path: str) -> int:
    """The cell count is a STORE property, not a per-call parameter:
    tombstone routing computes cell = id % n_cells, so any modulus but
    the one the store was built with would purge the WRONG cells — the
    tombstoned ids' real cells stay untouched, the tombstone table is
    then cleared, and the 'deleted' rows silently resurrect. It is
    pinned in store_meta.json at router-training time."""
    with open(os.path.join(path, "store_meta.json")) as f:
        return int(json.load(f)["n_cells"])


def _store_schema(path: str) -> StructType:
    """The store's catalog schema (schema.json): probes and rewrites
    read with it instead of footer-inferring, and incoming batches are
    cast to it."""
    with open(os.path.join(path, "schema.json")) as f:
        return StructType.fromJson(json.load(f))


def ivf_cell(n_cells: int) -> Column:
    """The deterministic coarse quantizer: cell = vec_id % n_cells. A
    trained variant swaps this one projection for a broadcast-codebook
    argmin (see mllib_ivf_ann) — everything downstream is identical
    either way."""
    return (F.col("vec_id") % n_cells).alias("cell")


def ivf_centroids(ivf: DataFrame) -> DataFrame:
    """Per-cell centroids of a (cell, embedding) relation: (cell,
    centroid), the element-wise mean of the cell's vectors.
    Decimal-exact means rounded to 6 (the same pin as ann_ivf_exact's
    oracle): routing is then bit-reproducible on any engine and any
    row order."""
    flat = ivf.select("cell", F.posexplode("embedding")).select(
        "cell", F.col("pos").alias("idx"), F.col("col").cast("double").alias("v")
    )
    return (
        flat.groupBy("cell", "idx")
        .agg(F.round(davg(F.col("v")), 6).alias("cv"))
        .groupBy("cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "cv"))),
                lambda x: x["cv"],
            ).alias("centroid")
        )
    )


def _writer_lock(path: str):
    """Single-writer critical section for the store's MUTATORS (upsert /
    delete / purge / compact / append). Probes never take it — readers
    see immutable files and at worst miss the newest batch. Without it,
    an append racing a purge/compact rewrite of the same cell can lose
    the appended rows (the rewrite's scan predates them, its dynamic
    overwrite then replaces the partition), and two upserts interleaving
    delete→purge→append can duplicate ids. Same flock primitive as the
    snapshot manifest (kernel-released on crash, no staleness
    heuristic), under its own lock file so store writes and snapshot
    commits don't contend."""
    return _manifest_lock(path, lock_name=_WRITER_LOCK)


def train_ivf_router(
    vectors: DataFrame, path: str, n_cells: int
) -> None:
    """Train and persist the store's ROUTER: per-cell centroids, the
    catalog schema and the pinned ``n_cells``, and open the store's
    version history with an empty ``v0``. Split from the vector write
    because the router's lifecycle is different (FAISS/ScaNN
    semantics): it is trained once on a representative corpus, FROZEN
    while vectors stream in through :func:`append_ivf_store`, and only
    rebuilt by an explicit re-train + re-index — so training starts a
    fresh store: vectors routed by an earlier router (and tombstones
    aimed at them) are dropped.

    Locked like every other mutator. Re-training an existing LIVE store
    in place drops its version history (readers pinned to an old
    version lose their files) — production rebuilds into a fresh path
    and repoints; this operator is the initial-build/testing form."""
    ivf = vectors.select("vec_id", "embedding", ivf_cell(n_cells))
    cent = ivf_centroids(ivf)
    with _writer_lock(path):
        # persist the schema as the store's catalog entry: probes read
        # with it instead of footer-inferring, so opening the store
        # touches NO data files until the pruned scan itself
        with open(os.path.join(path, "schema.json"), "w") as f:
            f.write(ivf.schema.json())
        with open(os.path.join(path, "store_meta.json"), "w") as f:
            f.write(json.dumps({"n_cells": int(n_cells)}))
        cent.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(path, "centroids")
        )
        for d in ("vectors", "tombstones"):
            shutil.rmtree(os.path.join(path, d), ignore_errors=True)
        os.makedirs(_version_dir(path, 0))
        _publish_version(path, 0)


def write_ivf_store(
    vectors: DataFrame, path: str, n_cells: int
) -> None:
    """Batch build: train the router on ``vectors`` and write them all,
    partitioned by cell. (Incremental growth instead uses
    :func:`train_ivf_router` once + :func:`append_ivf_store` per
    batch.)"""
    train_ivf_router(vectors, path, n_cells)
    append_ivf_store(vectors, path)


def append_ivf_store(new_vectors: DataFrame, path: str) -> None:
    """Incremental index maintenance: route a NEW batch into the
    existing cell layout and append — cost scales with the batch, not
    the store (a full ``write_ivf_store`` rebuild re-shuffles the whole
    corpus for every ingest, which no production pipeline survives).

    The cell assignment is the store's frozen router (deterministic
    here; a trained store freezes its centroid codebook between
    re-trainings the same way — FAISS/ScaNN semantics: adding vectors
    never moves existing ones), so centroids are NOT recomputed: an
    append touches only ``vectors/v{K}/cell=*/`` with new files.
    Parquet's append mode writes fresh files per partition directory —
    existing files are never rewritten, so concurrent probes stay
    consistent (they read a file listing; the worst case is missing the
    newest batch, never torn data). Periodic :func:`compact_ivf_cells`
    folds the accumulated small files.

    Takes the store writer lock: an append racing a purge/compact
    rewrite of the same cell would otherwise vanish (the rewrite's scan
    predates it; its partition overwrite then replaces the directory)."""
    with _writer_lock(path):
        # append INTO the current version: only adds files, so readers
        # that pinned this version stay consistent (worst case: miss
        # the batch)
        _route_and_cast(new_vectors, path).repartition(
            "cell"
        ).write.mode("append").partitionBy("cell").parquet(
            current_vectors_dir(path)
        )


def _route_and_cast(new_vectors: DataFrame, path: str) -> DataFrame:
    """Assign each incoming row its frozen-router cell and conform it to
    the store's catalog schema (mixed physical types across files —
    float vs double arrays — would poison every later scan)."""
    ivf = new_vectors.select(
        "vec_id", "embedding", ivf_cell(_store_n_cells(path))
    )
    return ivf.select(
        *[F.col(f.name).cast(f.dataType) for f in _store_schema(path).fields]
    )


def delete_from_ivf_store(
    spark: SparkSession, path: str, vec_ids: list[int]
) -> None:
    """Logical delete: append the ids to the store's tombstone table.
    O(deleted ids) — no data file is touched; probes anti-join the
    (tiny, broadcast) tombstone set until :func:`purge_ivf_tombstones`
    rewrites the affected cells. The same write-ahead-delete shape
    every immutable-file table format uses (delete vectors / tombstone
    files), because in-place mutation of columnar files is not a thing.

    Locked: a tombstone landing between a purge's tombstone read and
    its table clear would be silently dropped."""
    if not vec_ids:
        return
    ids = spark.createDataFrame([(int(v),) for v in vec_ids], "vec_id long")
    with _writer_lock(path):
        ids.coalesce(1).write.mode("append").parquet(
            os.path.join(path, "tombstones")
        )


def _tombstones(spark: SparkSession, path: str) -> DataFrame | None:
    tdir = os.path.join(path, "tombstones")
    if not os.path.isdir(tdir):
        return None
    return spark.read.schema("vec_id long").parquet(tdir)


def upsert_ivf_store(
    spark: SparkSession, new_vectors: DataFrame, path: str
) -> None:
    """Keyed upsert (the reference's last-write-wins id semantics,
    main.py:163,172, in the stored index): MERGE-ON-WRITE — one
    versioned rewrite of the affected cells drops the old rows under
    the incoming ids (plus any outstanding tombstones) and folds the
    replacements into the same write. Cost ~ the affected cells plus
    the batch, scanned ONCE; the store is never rebuilt. A high-churn
    deployment would instead version rows with an ingest epoch and
    resolve last-write-wins at probe time — this is the
    compact-on-write variant.

    A batch carrying the same vec_id twice collapses to ONE row before
    the merge (the reference's dict-keyed upsert can't hold two values
    under one id) — last row in the batch's encounter order wins,
    mirroring dict insertion semantics.

    The rewrite holds the writer lock: two interleaved upserts of the
    same id could otherwise both fold their replacement in after both
    dropped (duplicate rows under one id), and a concurrent append
    could be erased by this upsert's cell rewrite. Crash-atomic: the
    batch applies entirely at the manifest flip or not at all (the old
    tombstone→purge→append sequence could crash after hiding the old
    rows but before appending the replacements).

    The id set never materializes on the driver: the deduped batch is
    STAGED to parquet once (one job, cost ~ the batch) and the drop
    set / replacement rows both read the staged files — so a 100M-row
    upsert holds nothing in driver memory and compiles no giant
    IN-list into any plan (the rewrite anti-joins the drop set)."""
    import uuid

    w = Window.partitionBy("vec_id").orderBy(F.col("__seq").desc())
    deduped = (
        new_vectors.withColumn("__seq", F.monotonically_increasing_id())
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__seq", "__rn")
    )
    # private per-CALL staging dir (uuid, not pid: two threads of one
    # process upserting concurrently must not share it)
    staging = os.path.join(path, f".upsert_staging.{uuid.uuid4().hex}")
    deduped.write.mode("overwrite").parquet(staging)
    try:
        batch = spark.read.parquet(staging)
        if batch.isEmpty():
            return
        with _writer_lock(path):
            drop = batch.select("vec_id")
            tomb = _tombstones(spark, path)
            if tomb is not None:
                # fold outstanding logical deletes into the same
                # rewrite (their cells are rewritten anyway if they
                # overlap; disjoint ones ride along at one extra
                # cell-scan each, and the tombstone table empties).
                # No distinct(): the anti-join and the distinct-cell
                # projection both tolerate duplicate ids for free
                drop = drop.unionByName(tomb)
            _rewrite_cells_unlocked(spark, path, drop, add_batch=batch)
            if tomb is not None:
                shutil.rmtree(
                    os.path.join(path, "tombstones"), ignore_errors=True
                )
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def purge_ivf_tombstones(spark: SparkSession, path: str) -> list[int]:
    """Physical delete: rewrite ONLY the cells that contain tombstoned
    ids (cell = the store's frozen routing of the id) into a NEW store
    version, dropping those rows, then clear the tombstone table. Scan
    cost ~ the affected cells, never the store. Returns the rewritten
    cell ids.

    Versioned rewrite (the table-format pattern, :func:`_rewrite_version`):
    fully-tombstoned cells simply have no directory in the new version
    — the resurrection hazard of an in-place dynamic overwrite cannot
    exist here.

    Locked (rewrite + tombstone clear must exclude appends/deletes)."""
    with _writer_lock(path):
        tomb = _tombstones(spark, path)
        if tomb is None:
            return []
        cells = _rewrite_cells_unlocked(spark, path, tomb)
        shutil.rmtree(os.path.join(path, "tombstones"), ignore_errors=True)
        return cells


def _rewrite_cells_unlocked(
    spark: SparkSession,
    path: str,
    drop_ids: DataFrame,
    add_batch: DataFrame | None = None,
) -> list[int]:
    """The cell rewrite shared by purge and upsert: in ONE pass over
    the cells the ``drop_ids`` route to, drop every ``drop_ids`` row
    and (for upserts) fold ``add_batch`` rows into the same write —
    survivors and replacements land together in the next version.

    Only the DISTINCT CELL list comes to the driver — bounded by
    n_cells (a store property), never by the drop count. The ids stay
    a DataFrame end-to-end: a rewrite after a 100M-row delete holds
    ~n_cells ints in driver memory and compiles no IN-list plan."""
    cells = sorted(
        r.cell
        for r in drop_ids.select(ivf_cell(_store_n_cells(path)))
        .distinct()
        .collect()
    )
    if not cells:
        return []

    def edit(scan: DataFrame) -> DataFrame:
        # drop as an anti-join — no driver id list, no compiled
        # IN-list plan. No broadcast HINT on purpose: probes broadcast
        # because tombstones are tiny between purges, but the rewrite
        # is exactly where a huge delete/upsert batch lands — AQE picks
        # broadcast when the table is small and shuffles when it isn't
        out = scan.join(drop_ids.select("vec_id"), "vec_id", "left_anti")
        if add_batch is None:
            return out
        # every add row's cell is in `cells` by construction (the
        # caller's drop set contains the batch ids), so the union
        # cannot leak rows into a cell the hardlink loop also copies
        return out.unionByName(_route_and_cast(add_batch, path))

    _rewrite_version(spark, path, cells, edit)
    return cells


def _rewrite_version(spark: SparkSession, path: str, cells, edit) -> None:
    """The one versioned rewrite (the table-format pattern), under the
    writer lock: pin version K, clear ``v{K+1}`` (a crashed prior
    attempt), scan ONLY ``cells`` of v{K} (partition-pruned), write
    ``edit(scan)`` partitioned by cell as ``v{K+1}``, hardlink every
    untouched cell's files across (no bytes read or copied), and flip
    the manifest atomically — a concurrent probe either pinned v{K}
    (still fully intact; the previous version is retained) or pins
    v{K+1}."""
    k = _current_version(path)
    src, dst = _version_dir(path, k), _version_dir(path, k + 1)
    shutil.rmtree(dst, ignore_errors=True)
    scan = spark.read.schema(_store_schema(path)).parquet(src)
    edit(scan.filter(F.col("cell").isin(cells))).repartition(
        "cell"  # one file per rewritten cell
    ).write.mode("overwrite").partitionBy("cell").parquet(dst)
    for d in os.listdir(src):
        if d.startswith("cell=") and int(d.split("=")[1]) not in cells:
            _hardlink_cell(os.path.join(src, d), os.path.join(dst, d))
    _publish_version(path, k + 1)


def compact_ivf_cells(
    spark: SparkSession,
    path: str,
    max_files_per_cell: int = 4,
) -> dict:
    """Fold the small files incremental appends accumulate, ONLY in the
    cells that need it: per-cell file counts come from the directory
    listing (no data read), each offending cell is rewritten by a scan
    of that cell alone into the NEXT store version, and every other
    cell's files hardlink across untouched (the same versioned rewrite
    as the purge — concurrent probes keep their pinned version).
    Returns {cell: n_files_before} for the rewritten cells. Scan cost ~
    size of the compacted cells, never the store.

    Locked: the rewrite must not race an append into a compacting cell
    (the append's files would be replaced by a scan that never saw
    them)."""
    with _writer_lock(path):
        src = current_vectors_dir(path)
        counts = {
            int(d.split("=")[1]): sum(
                1
                for f in os.listdir(os.path.join(src, d))
                if f.endswith(".parquet")
            )
            for d in os.listdir(src)
            if d.startswith("cell=")
        }
        fat = {c: n for c, n in counts.items() if n > max_files_per_cell}
        if fat:
            _rewrite_version(spark, path, list(fat), lambda scan: scan)
        return fat


def probe_ivf_store(
    spark: SparkSession,
    path: str,
    query_vec: list[float],
    nprobe: int,
    k: int,
    exclude_vec_id: int | None = None,
) -> DataFrame:
    """Top-k cosine search reading ONLY the probed cells.

    The centroid table (n_cells rows) routes the query; the resulting
    cell ids become an IN-filter on the partitioned vector table, which
    Spark turns into partition pruning at the scan — the probe's I/O is
    nprobe partitions regardless of corpus size.
    """
    scored = _scored_candidates(spark, path, query_vec, nprobe, exclude_vec_id)
    return (
        scored.orderBy(F.desc("raw"), "vec_id")  # raw order: exact tie cut
        .limit(k)
        .select("vec_id", "cell", F.round("raw", 6).alias("score"))
    )


def _scored_candidates(
    spark: SparkSession,
    path: str,
    query_vec: list[float],
    nprobe: int,
    exclude_vec_id: int | None,
) -> DataFrame:
    """Shared probe prologue for top-k and range search: route against
    the centroid table, validate the query dimension, pin ONE published
    store version (immutable files, retained through the next rewrite),
    apply the tombstone anti-join, and score the probed cells —
    returning (vec_id, cell, raw)."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    cent = spark.read.parquet(os.path.join(path, "centroids"))
    routed = (
        cent.select(
            "cell",
            F.size("centroid").alias("dim"),
            cosine(F.col("centroid"), q).alias("cs"),
        )
        .orderBy(F.desc("cs"), "cell")
        .limit(nprobe)
        .collect()
    )
    # a wrong-length query would zip_with-pad to null scores and return
    # arbitrary rows — fail loudly instead (free: centroids are already
    # collected for routing)
    if routed and routed[0].dim != len(query_vec):
        raise ValueError(
            f"query vector has {len(query_vec)} dims, store has "
            f"{routed[0].dim}"
        )
    cells = [r.cell for r in routed]
    vecs = spark.read.schema(_store_schema(path)).parquet(
        current_vectors_dir(path)
    )
    if exclude_vec_id is not None:
        vecs = vecs.filter(F.col("vec_id") != exclude_vec_id)
    tomb = _tombstones(spark, path)
    if tomb is not None:
        # logical deletes: tiny tombstone set, broadcast anti-join
        vecs = vecs.join(F.broadcast(tomb), "vec_id", "left_anti")
    return vecs.filter(F.col("cell").isin(cells)).select(
        "vec_id", "cell", cosine(F.col("embedding"), q).alias("raw")
    )


def probe_ivf_range(
    spark: SparkSession,
    path: str,
    query_vec: list[float],
    nprobe: int,
    min_score: float,
    exclude_vec_id: int | None = None,
) -> DataFrame:
    """Range search over the stored index: every vector in the probed
    cells whose cosine reaches ``min_score`` — the score_threshold
    surface, same partition-pruned I/O as the top-k probe but with no
    result-size bound, so no heap: a scored filter over nprobe cells.
    (Recall is bounded by routing exactly as for top-k probes; raising
    nprobe trades I/O for radius coverage.)"""
    scored = _scored_candidates(spark, path, query_vec, nprobe, exclude_vec_id)
    return (
        scored.filter(F.col("raw") >= min_score)
        .select("vec_id", "cell", F.round("raw", 6).alias("score"), "raw")
        .orderBy(F.desc("raw"), "vec_id")
        .drop("raw")
    )
