"""The stored-IVF claim, verified behaviorally: a probe of the
partitioned vector table must READ only the probed cells. Proof: after
corrupting every NON-probed partition's files on disk, the probe still
returns correct results (it never touches those partitions), while an
unfiltered scan of the same table fails on the corruption.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from articulation_vector_db_api_spark.functions.vector import cosine
from articulation_vector_db_api_spark.operators.vector_store import (
    current_vectors_dir,
    probe_ivf_store,
    write_ivf_store,
)
from articulation_vector_db_api_spark.sources.readers import load_table

SF = "/root/testdata/sf0.001"
N_CELLS = 8
NPROBE = 2


def test_ivf_store_probe_is_partition_pruned(spark, tmp_path):
    e = load_table(spark, SF, "embeddings")
    store = str(tmp_path / "ivf_store")
    write_ivf_store(e, store, N_CELLS)

    qvec = [
        float(x)
        for x in e.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    topk = probe_ivf_store(spark, store, qvec, nprobe=NPROBE, k=10)
    # the cell predicate must reach the scan as a partition filter
    plan = topk._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan
    baseline = [tuple(r) for r in topk.collect()]
    probed = {r[1] for r in baseline}
    assert len(probed) <= NPROBE

    # corrupt every non-probed partition on disk
    vdir = current_vectors_dir(store)
    corrupted = 0
    for d in os.listdir(vdir):
        if not d.startswith("cell="):
            continue
        if int(d.split("=")[1]) in probed:
            continue
        for f in os.listdir(os.path.join(vdir, d)):
            if f.endswith(".parquet"):
                with open(os.path.join(vdir, d, f), "wb") as fh:
                    fh.write(b"not a parquet file")
                corrupted += 1
    assert corrupted >= N_CELLS - NPROBE  # every unprobed cell poisoned

    # pruned probe: identical results, corruption never read
    again = [
        tuple(r)
        for r in probe_ivf_store(spark, store, qvec, nprobe=NPROBE, k=10).collect()
    ]
    assert again == baseline

    # whereas a full scan MUST hit the poison (proves the corruption
    # is real and the probe's survival was pruning, not luck)
    with pytest.raises(Exception, match="[Pp]arquet|FAILED_READ_FILE"):
        spark.read.parquet(vdir).agg(F.count(F.lit(1))).collect()

    # semantic check: probe equals an in-memory re-rank of those cells
    q = F.array(*[F.lit(x) for x in qvec])
    ivf = e.select("vec_id", "embedding", (F.col("vec_id") % N_CELLS).alias("cell"))
    expected = [
        tuple(r)
        for r in ivf.filter(F.col("cell").isin([int(c) for c in probed]))
        .select(
            "vec_id", "cell", F.round(cosine(F.col("embedding"), q), 6).alias("score")
        )
        .orderBy(F.desc("score"), "vec_id")
        .limit(10)
        .collect()
    ]
    assert baseline == expected


def test_incremental_append_then_probe_and_compact(spark, tmp_path):
    """Append-only maintenance: a store whose router was trained once,
    loaded with half the corpus and grown by appending the other half,
    must probe identically to a batch-built store over the same rows
    (the router is FROZEN between re-trainings, so both share it);
    per-cell compaction then folds the appended small files without
    changing a single result row."""
    from articulation_vector_db_api_spark.operators.vector_store import (
        append_ivf_store,
        compact_ivf_cells,
        train_ivf_router,
    )

    e = load_table(spark, SF, "embeddings")
    mid = e.count() // 2  # range split: both halves hit every cell
    half_a = e.filter(F.col("vec_id") < mid)
    half_b = e.filter(F.col("vec_id") >= mid)

    grown = str(tmp_path / "grown")
    train_ivf_router(e, grown, N_CELLS)  # router from the full corpus
    append_ivf_store(half_a, grown)
    append_ivf_store(half_b, grown)
    full = str(tmp_path / "full")
    write_ivf_store(e, full, N_CELLS)

    qvec = [
        float(x)
        for x in e.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    want = [
        tuple(r) for r in probe_ivf_store(spark, full, qvec, nprobe=NPROBE, k=10).collect()
    ]
    got = [
        tuple(r) for r in probe_ivf_store(spark, grown, qvec, nprobe=NPROBE, k=10).collect()
    ]
    assert got == want and len(got) == 10

    # the append left >1 file in the probed cells; compaction folds them
    # (resolve the version dir per call — compaction publishes a NEW one)
    def files_in(cell: int) -> int:
        d = os.path.join(current_vectors_dir(grown), f"cell={cell}")
        return sum(1 for f in os.listdir(d) if f.endswith(".parquet"))

    probed = {int(r[1]) for r in got}
    assert all(files_in(c) >= 2 for c in probed)
    rewritten = compact_ivf_cells(spark, grown, max_files_per_cell=1)
    assert set(rewritten) == set(range(N_CELLS))  # every cell had 2 files
    assert all(files_in(c) == 1 for c in rewritten)
    # results identical through the rewrite
    again = [
        tuple(r) for r in probe_ivf_store(spark, grown, qvec, nprobe=NPROBE, k=10).collect()
    ]
    assert again == want
    # idempotent: nothing left to compact
    assert compact_ivf_cells(spark, grown, max_files_per_cell=1) == {}


def test_streaming_foreachbatch_index_maintenance(spark, tmp_path):
    """Streaming index maintenance: micro-batches of embeddings land in
    the stored IVF layout through foreachBatch(append_ivf_store) — the
    streaming half of the ingest story. The final store must probe
    identically to a batch-built store over the same rows."""
    from articulation_vector_db_api_spark.operators.vector_store import (
        append_ivf_store,
        train_ivf_router,
    )

    e = load_table(spark, SF, "embeddings")
    store = str(tmp_path / "streamed")
    # production order: train the router first, then stream vectors in
    train_ivf_router(e, store, N_CELLS)

    src = str(tmp_path / "src")
    # two micro-batch files
    e.filter(F.col("vec_id") % 2 == 0).write.parquet(os.path.join(src, "b0"))
    e.filter(F.col("vec_id") % 2 == 1).write.parquet(os.path.join(src, "b1"))
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda batch, _bid: append_ivf_store(batch, store)
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)

    qvec = [
        float(x)
        for x in e.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    full = str(tmp_path / "full")
    write_ivf_store(e, full, N_CELLS)
    want = [
        tuple(r) for r in probe_ivf_store(spark, full, qvec, nprobe=NPROBE, k=10).collect()
    ]
    got = [
        tuple(r) for r in probe_ivf_store(spark, store, qvec, nprobe=NPROBE, k=10).collect()
    ]
    assert got == want


def test_delete_tombstone_then_purge(spark, tmp_path):
    """Logical delete hides rows immediately (broadcast anti-join on the
    tombstone set); physical purge rewrites only the affected cells and
    clears the tombstones — results identical before and after purge."""
    from articulation_vector_db_api_spark.operators.vector_store import (
        delete_from_ivf_store,
        purge_ivf_tombstones,
    )

    e = load_table(spark, SF, "embeddings")
    store = str(tmp_path / "del_store")
    write_ivf_store(e, store, N_CELLS)
    qvec = [
        float(x)
        for x in e.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    before = [
        tuple(r) for r in probe_ivf_store(spark, store, qvec, nprobe=NPROBE, k=10).collect()
    ]
    victims = [int(before[0][0]), int(before[1][0])]  # top-2 results
    delete_from_ivf_store(spark, store, victims)

    after = [
        tuple(r) for r in probe_ivf_store(spark, store, qvec, nprobe=NPROBE, k=10).collect()
    ]
    assert len(after) == 10
    assert not {int(r[0]) for r in after} & set(victims)
    assert after[:8] == before[2:]  # ranks 3..10 slide up

    cells = purge_ivf_tombstones(spark, store)
    assert cells == sorted({v % N_CELLS for v in victims})
    assert not os.path.exists(os.path.join(store, "tombstones"))
    purged = [
        tuple(r) for r in probe_ivf_store(spark, store, qvec, nprobe=NPROBE, k=10).collect()
    ]
    assert purged == after
    # deleted rows are physically gone from the data files
    vdir = current_vectors_dir(store)
    remaining = spark.read.parquet(vdir).filter(
        F.col("vec_id").isin(victims)
    ).count()
    assert remaining == 0
    # purge with nothing pending is a no-op
    assert purge_ivf_tombstones(spark, store) == []


def test_upsert_replaces_vectors_last_write_wins(spark, tmp_path):
    """Keyed upsert in the stored index: re-ingesting existing ids
    replaces their vectors (the reference's last-write-wins semantics,
    O6) — probes immediately score the NEW embeddings, row count is
    unchanged, and the old rows are physically gone."""
    from articulation_vector_db_api_spark.operators.vector_store import (
        upsert_ivf_store,
    )

    e = load_table(spark, SF, "embeddings")
    store = str(tmp_path / "upsert_store")
    write_ivf_store(e, store, N_CELLS)
    total = e.count()

    qvec = [
        float(x)
        for x in e.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    before = [
        tuple(r) for r in probe_ivf_store(spark, store, qvec, nprobe=NPROBE, k=10).collect()
    ]
    # replace the top result's embedding with the query vector itself
    # (cosine 1.0) and a mid-ranked one with its negation (cosine -1.0)
    winner, loser = int(before[1][0]), int(before[5][0])
    repl = spark.createDataFrame(
        [(winner, qvec), (loser, [-x for x in qvec])],
        "vec_id long, embedding array<double>",
    )
    upsert_ivf_store(spark, repl, store)

    vecs = spark.read.parquet(current_vectors_dir(store))
    assert vecs.count() == total  # replaced, not duplicated
    after = [
        tuple(r) for r in probe_ivf_store(spark, store, qvec, nprobe=NPROBE, k=10).collect()
    ]
    by_id = {int(r[0]): r[2] for r in after}
    assert by_id.get(winner) == 1.0  # now identical to the query
    assert loser not in by_id  # now anti-aligned, out of the top-10
    # old embedding is physically gone: the winner's stored vector is
    # the replacement
    stored = vecs.filter(F.col("vec_id") == winner).first().embedding
    assert [float(x) for x in stored] == qvec


def test_purge_drops_fully_tombstoned_cell(spark, tmp_path):
    """Tombstoning EVERY row of a cell must physically empty that cell.
    Dynamic partition overwrite alone can't: a cell with zero surviving
    rows produces no output partition, so its old files would outlive
    the purge and resurrect once the tombstone table is cleared."""
    from articulation_vector_db_api_spark.operators.vector_store import (
        delete_from_ivf_store,
        purge_ivf_tombstones,
    )

    e = load_table(spark, SF, "embeddings")
    store = str(tmp_path / "cellwipe")
    write_ivf_store(e, store, N_CELLS)
    victim_cell = 3
    victims = [
        int(r.vec_id)
        for r in e.filter(F.col("vec_id") % N_CELLS == victim_cell)
        .select("vec_id")
        .collect()
    ]
    assert victims  # fixture covers every cell
    delete_from_ivf_store(spark, store, victims)
    cells = purge_ivf_tombstones(spark, store)
    assert cells == [victim_cell]
    # the cell directory itself is gone — not just logically hidden
    assert not os.path.exists(
        os.path.join(current_vectors_dir(store), f"cell={victim_cell}")
    )
    vecs = spark.read.parquet(current_vectors_dir(store))
    assert vecs.filter(F.col("vec_id").isin(victims)).count() == 0
    assert vecs.count() == e.count() - len(victims)


def test_upsert_collapses_intra_batch_duplicates(spark, tmp_path):
    """Two rows under one vec_id in a single upsert batch collapse to
    the LAST one (dict insertion semantics, reference main.py:163,172)
    — a probe never returns the same id twice."""
    from articulation_vector_db_api_spark.operators.vector_store import (
        upsert_ivf_store,
    )

    e = load_table(spark, SF, "embeddings")
    store = str(tmp_path / "dup_batch")
    write_ivf_store(e, store, N_CELLS)
    total = e.count()

    qvec = [
        float(x)
        for x in e.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    top = probe_ivf_store(spark, store, qvec, nprobe=NPROBE, k=10)
    target = int([tuple(r) for r in top.collect()][1][0])
    # same id twice in one batch: anti-aligned first, aligned last
    dup = spark.createDataFrame(
        [(target, [-x for x in qvec]), (target, qvec)],
        "vec_id long, embedding array<double>",
    ).coalesce(1)
    upsert_ivf_store(spark, dup, store)

    vecs = spark.read.parquet(current_vectors_dir(store))
    assert vecs.count() == total  # one row survived, not two
    assert vecs.filter(F.col("vec_id") == target).count() == 1
    after = [
        tuple(r) for r in probe_ivf_store(spark, store, qvec, nprobe=NPROBE, k=10).collect()
    ]
    ids = [int(r[0]) for r in after]
    assert len(ids) == len(set(ids))  # no duplicate ids in the probe
    by_id = {int(r[0]): r[2] for r in after}
    assert by_id.get(target) == 1.0  # the LAST row of the batch won


def test_concurrent_upserts_serialize_no_duplicates(spark, tmp_path):
    """Two writers upserting OVERLAPPING ids concurrently: the writer
    lock serializes the tombstone→purge→append sequences, so the final
    store holds exactly ONE row per vec_id (whichever writer ran
    second wins the overlap) and nothing from either batch is lost.
    Unserialized, both writers purge before either appends and the
    overlapping ids come back twice."""
    import threading

    from pyspark.sql.types import StructType

    from articulation_vector_db_api_spark.operators.vector_store import (
        upsert_ivf_store,
    )

    e = load_table(spark, SF, "embeddings")
    store = str(tmp_path / "ivf_upsert_race")
    write_ivf_store(e.filter(F.col("vec_id") < 40), store, N_CELLS)

    def batch(lo, hi, tag):
        return (
            e.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
            .select(
                "vec_id",
                F.transform(
                    "embedding", lambda v: v + F.lit(float(tag))
                ).alias("embedding"),
            )
        )

    errs = []

    def run(lo, hi, tag):
        try:
            upsert_ivf_store(spark, batch(lo, hi, tag), store)
        except Exception as exc:  # noqa: BLE001 - surface in main thread
            errs.append(exc)

    # ids 20..30 overlap between the two writers
    t1 = threading.Thread(target=run, args=(10, 30, 1))
    t2 = threading.Thread(target=run, args=(20, 45, 2))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs

    with open(os.path.join(store, "schema.json")) as f:
        schema = StructType.fromJson(__import__("json").loads(f.read()))
    rows = (
        spark.read.schema(schema)
        .parquet(current_vectors_dir(store))
        .groupBy("vec_id")
        .count()
        .collect()
    )
    by_id = {int(r.vec_id): r["count"] for r in rows}
    # every id exactly once — overlap not duplicated, no batch lost
    assert set(by_id) == set(range(45))
    assert all(n == 1 for n in by_id.values()), {
        k: v for k, v in by_id.items() if v != 1
    }


def test_probe_rejects_wrong_dimension(spark, tmp_path):
    """A query vector of the wrong length must raise, not return the
    silent all-null scoring zip_with padding would produce."""
    import pytest as _pytest

    from articulation_vector_db_api_spark.operators.vector_store import (
        probe_ivf_range,
    )

    e = load_table(spark, SF, "embeddings")
    store = str(tmp_path / "ivf_dim")
    write_ivf_store(e.filter(F.col("vec_id") < 32), store, N_CELLS)
    with _pytest.raises(ValueError, match="dims"):
        probe_ivf_store(spark, store, [1.0, 2.0, 3.0], nprobe=2, k=5)
    with _pytest.raises(ValueError, match="dims"):
        probe_ivf_range(spark, store, [1.0] * 999, nprobe=2, min_score=0.5)


def test_reader_pinned_before_purge_survives_rewrite(spark, tmp_path):
    """The versioned rewrite's whole point: a probe that pinned version
    K keeps working — and returns K's consistent snapshot — even after
    a purge publishes K+1 and a compaction publishes K+2 (the previous
    version is retained; only K-2 and older are garbage-collected)."""
    from articulation_vector_db_api_spark.operators.vector_store import (
        _current_version,
        compact_ivf_cells,
        delete_from_ivf_store,
        purge_ivf_tombstones,
    )

    e = load_table(spark, SF, "embeddings")
    store = str(tmp_path / "ivf_mvcc")
    write_ivf_store(e.filter(F.col("vec_id") < 64), store, N_CELLS)
    assert _current_version(store) == 0

    # reader pins v0 (plan built now; not yet executed)
    pinned = spark.read.parquet(current_vectors_dir(store))

    victim = 9
    delete_from_ivf_store(spark, store, [victim])
    purged = purge_ivf_tombstones(spark, store)
    assert purged == [victim % N_CELLS]
    assert _current_version(store) == 1

    # the pinned v0 reader still executes fine and still SEES the
    # deleted row — a consistent historical snapshot, not an error
    old_ids = {int(r.vec_id) for r in pinned.select("vec_id").collect()}
    assert victim in old_ids and len(old_ids) == 64

    # the current version does not
    now_ids = {
        int(r.vec_id)
        for r in spark.read.parquet(current_vectors_dir(store))
        .select("vec_id")
        .collect()
    }
    assert victim not in now_ids and len(now_ids) == 63

    # hardlinked carry-over: untouched cells share inodes across versions
    v0 = os.path.join(store, "vectors", "v0")
    v1 = os.path.join(store, "vectors", "v1")
    untouched = f"cell={(victim % N_CELLS) + 1}"
    inodes = lambda d: {  # noqa: E731
        os.stat(os.path.join(d, f)).st_ino
        for f in os.listdir(d)
        if f.endswith(".parquet")
    }
    assert inodes(os.path.join(v0, untouched)) == inodes(
        os.path.join(v1, untouched)
    )

    # one more rewrite: v0 is garbage-collected (keep = 2), v1 retained
    spark.createDataFrame(
        [(200 + i, [0.5] * 64) for i in range(8)],
        "vec_id long, embedding array<float>",
    ).write.mode("append").parquet(v1 + "/cell=0")  # fake extra files
    compact_ivf_cells(spark, store, max_files_per_cell=1)
    assert _current_version(store) == 2
    versions = {
        d for d in os.listdir(os.path.join(store, "vectors"))
        if d.startswith("v")
    }
    assert versions == {"v1", "v2"}


def test_purge_routes_with_pinned_n_cells_not_resurrecting(spark, tmp_path):
    """The review-found resurrection path: purging with a different
    modulus than the store's would rewrite the WRONG cells and then
    clear the tombstones, silently resurrecting the 'deleted' rows.
    n_cells is pinned in store_meta.json and no mutator takes it as an
    argument, so the purge routes with the store's own value."""
    from articulation_vector_db_api_spark.operators.vector_store import (
        delete_from_ivf_store,
        purge_ivf_tombstones,
    )

    e = load_table(spark, SF, "embeddings")
    store = str(tmp_path / "ivf_pinned")
    write_ivf_store(e.filter(F.col("vec_id") < 32), store, 16)

    delete_from_ivf_store(spark, store, [9])
    assert purge_ivf_tombstones(spark, store) == [9 % 16]
    ids = {
        int(r.vec_id)
        for r in spark.read.parquet(current_vectors_dir(store))
        .select("vec_id")
        .collect()
    }
    assert 9 not in ids and len(ids) == 31


def test_rebuild_starts_a_fresh_store(spark, tmp_path):
    """write_ivf_store over an existing store starts a fresh one: version
    history back at v0 and no tombstones left over from the old vectors
    (they would hide the rebuilt rows that reuse those ids)."""
    from articulation_vector_db_api_spark.operators.vector_store import (
        _current_version,
        delete_from_ivf_store,
        purge_ivf_tombstones,
    )

    e = load_table(spark, SF, "embeddings").filter(F.col("vec_id") < 32)
    store = str(tmp_path / "ivf_rebuilt")
    write_ivf_store(e, store, N_CELLS)
    delete_from_ivf_store(spark, store, [4])
    purge_ivf_tombstones(spark, store)
    delete_from_ivf_store(spark, store, [5])
    assert _current_version(store) == 1

    write_ivf_store(e, store, N_CELLS)
    assert _current_version(store) == 0
    assert not os.path.exists(os.path.join(store, "tombstones"))
    for vid in (4, 5):
        qvec = [
            float(x) for x in
            e.filter(F.col("vec_id") == vid).select("embedding").first()[0]
        ]
        hits = probe_ivf_store(spark, store, qvec, nprobe=N_CELLS, k=3)
        assert vid in {int(r.vec_id) for r in hits.collect()}


def test_purge_recovers_from_crashed_prior_attempt(spark, tmp_path):
    """A purge that crashed after writing (part of) vectors/v1 but
    before publishing leaves a half-built version dir; the next purge
    must discard it and rebuild cleanly — the manifest, not directory
    existence, decides what is live."""
    from articulation_vector_db_api_spark.operators.vector_store import (
        _current_version,
        delete_from_ivf_store,
        purge_ivf_tombstones,
    )

    e = load_table(spark, SF, "embeddings")
    store = str(tmp_path / "ivf_crash")
    write_ivf_store(e.filter(F.col("vec_id") < 40), store, N_CELLS)

    # simulate the crashed attempt: junk v1 never published
    junk = os.path.join(store, "vectors", "v1", "cell=0")
    os.makedirs(junk)
    with open(os.path.join(junk, "garbage.parquet"), "wb") as f:
        f.write(b"not parquet")
    assert _current_version(store) == 0  # manifest untouched by junk

    delete_from_ivf_store(spark, store, [3])
    assert purge_ivf_tombstones(spark, store) == [3 % N_CELLS]
    assert _current_version(store) == 1
    ids = {
        int(r.vec_id)
        for r in spark.read.parquet(current_vectors_dir(store))
        .select("vec_id")
        .collect()
    }
    assert ids == set(range(40)) - {3}


def test_maintenance_never_materializes_ids_on_driver(spark, tmp_path):
    """The scale contract for the maintenance path (upsert -> tombstone
    -> purge -> append): NO step may pull the id set into driver
    memory. Proven behaviorally — every ``DataFrame.collect`` issued
    during an upsert of a batch far larger than ``n_cells`` must return
    at most ``n_cells`` rows (the distinct-cell routing list, the one
    legitimately driver-sized value). A driver-side id list (the old
    ``collect()`` + ``isin([...])`` plumbing) returns batch-sized
    results and fails this immediately."""
    from articulation_vector_db_api_spark.operators.vector_store import (
        purge_ivf_tombstones,
        upsert_ivf_store,
    )

    e = load_table(spark, SF, "embeddings")
    # patch the CONCRETE class (pyspark 4's pyspark.sql.DataFrame is a
    # dispatch parent whose collect the classic subclass overrides)
    DataFrame = type(e)
    store = str(tmp_path / "no_driver_ids_store")
    write_ivf_store(e, store, N_CELLS)
    batch_size = e.count()
    assert batch_size > N_CELLS * 4  # the test is vacuous otherwise

    # upsert EVERY vector (shifted values): worst-case maintenance load
    repl = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x + F.lit(0.25)).alias(
            "embedding"
        ),
    )

    collect_sizes: list[int] = []
    real_collect = DataFrame.collect

    def spying_collect(self):
        rows = real_collect(self)
        collect_sizes.append(len(rows))
        return rows

    DataFrame.collect = spying_collect
    try:
        upsert_ivf_store(spark, repl, store)
        purge_ivf_tombstones(spark, store)
    finally:
        DataFrame.collect = real_collect

    assert collect_sizes, "expected at least the distinct-cell collect"
    assert max(collect_sizes) <= N_CELLS, (
        f"a maintenance collect returned {max(collect_sizes)} rows "
        f"(> n_cells={N_CELLS}): the id set reached the driver"
    )

    # and the upsert actually took effect
    stored = (
        spark.read.parquet(current_vectors_dir(store))
        .filter(F.col("vec_id") == 0)
        .first()
        .embedding
    )
    orig = e.filter(F.col("vec_id") == 0).first().embedding
    assert [round(float(a) - float(b), 6) for a, b in zip(stored, orig)] == [
        0.25
    ] * len(orig)


def test_upsert_folds_outstanding_tombstones_one_version(spark, tmp_path):
    """Merge-on-write upsert: outstanding logical deletes ride the
    upsert's single versioned rewrite — after one upsert call the
    tombstoned ids are physically gone, the replacements are in, the
    tombstone table is cleared, and the store advanced exactly ONE
    version (the old tombstone→purge→append sequence cost a purge
    version plus appended files)."""
    from articulation_vector_db_api_spark.operators.vector_store import (
        _current_version,
        delete_from_ivf_store,
        upsert_ivf_store,
    )

    e = load_table(spark, SF, "embeddings").filter(F.col("vec_id") < 40)
    store = str(tmp_path / "fold_tomb_store")
    write_ivf_store(e, store, N_CELLS)

    # logical-delete ids in two different cells, NOT purged yet
    delete_from_ivf_store(spark, store, [7, 12])
    assert os.path.isdir(os.path.join(store, "tombstones"))
    v_before = _current_version(store)

    # upsert a batch overlapping neither deleted id
    repl = spark.createDataFrame(
        [(3, [1.0] * 4), (21, [2.0] * 4)],
        "vec_id long, embedding array<double>",
    )
    upsert_ivf_store(spark, repl, store)

    assert _current_version(store) == v_before + 1  # one bump, not two
    assert not os.path.isdir(os.path.join(store, "tombstones"))
    ids = {
        int(r.vec_id)
        for r in spark.read.parquet(current_vectors_dir(store))
        .select("vec_id")
        .collect()
    }
    assert ids == set(range(40)) - {7, 12}  # deletes applied physically
    got = (
        spark.read.parquet(current_vectors_dir(store))
        .filter(F.col("vec_id") == 3)
        .first()
        .embedding
    )
    assert [float(x) for x in got][:4] == [1.0] * 4  # replacement in


def test_upsert_recovers_from_crashed_prior_attempt(spark, tmp_path):
    """An upsert that crashed after (partially) writing vectors/v1 but
    before the manifest flip leaves junk the store must shrug off: the
    live version is untouched (probes unaffected — the batch applied
    NOT AT ALL), and a retried upsert discards the junk and applies the
    batch entirely — merge-on-write's all-or-nothing contract."""
    from articulation_vector_db_api_spark.operators.vector_store import (
        _current_version,
        upsert_ivf_store,
    )

    e = load_table(spark, SF, "embeddings").filter(F.col("vec_id") < 40)
    store = str(tmp_path / "upsert_crash")
    write_ivf_store(e, store, N_CELLS)
    qvec = [
        float(x)
        for x in e.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    before = [
        tuple(r)
        for r in probe_ivf_store(
            spark, store, qvec, nprobe=N_CELLS, k=10
        ).collect()
    ]

    # simulate a crashed upsert: half-built v1 plus an orphaned staging
    # dir, neither published
    junk = os.path.join(store, "vectors", "v1", "cell=0")
    os.makedirs(junk)
    with open(os.path.join(junk, "garbage.parquet"), "wb") as f:
        f.write(b"not parquet")
    os.makedirs(os.path.join(store, ".upsert_staging.deadbeef"))
    assert _current_version(store) == 0

    # the live store answers exactly as before the crash
    assert [
        tuple(r)
        for r in probe_ivf_store(
            spark, store, qvec, nprobe=N_CELLS, k=10
        ).collect()
    ] == before

    # retried upsert: junk discarded, batch applied atomically
    repl = spark.createDataFrame(
        [(int(before[1][0]), qvec)], "vec_id long, embedding array<double>"
    )
    upsert_ivf_store(spark, repl, store)
    assert _current_version(store) == 1
    after = {
        int(r.vec_id): r.score
        for r in probe_ivf_store(
            spark, store, qvec, nprobe=N_CELLS, k=10
        ).collect()
    }
    assert after[int(before[1][0])] == 1.0  # replacement live
    total = spark.read.parquet(current_vectors_dir(store)).count()
    assert total == 40  # replaced, not duplicated; junk not leaked


@pytest.mark.parametrize("seed", [7, 23, 91])
def test_store_matches_dict_model_under_op_sequences(spark, tmp_path, seed):
    """Model-based check of the keyed surface: a seeded random sequence
    of upsert / delete / purge / compact applied to BOTH the store and
    a plain dict (the reference's index semantics — main.py keys
    vectors by id in a dict) must leave the store's VISIBLE contents
    (current version, minus tombstones, as probes see them) equal to
    the dict after every mutating step. Catches interaction bugs no
    single-op test hits: upsert-of-deleted, delete-of-upserted,
    purge mid-sequence, compaction between mutations."""
    import random

    from articulation_vector_db_api_spark.operators.vector_store import (
        _tombstones,
        compact_ivf_cells,
        delete_from_ivf_store,
        purge_ivf_tombstones,
        upsert_ivf_store,
    )

    rng = random.Random(seed)
    dim, ids = 4, list(range(30))

    def vec(i: int, version: int) -> list[float]:
        return [float(i), float(version), float(i % 7), 1.0]

    store = str(tmp_path / f"model_store_{seed}")
    base = spark.createDataFrame(
        [(i, vec(i, 0)) for i in ids], "vec_id long, embedding array<double>"
    )
    write_ivf_store(base, store, N_CELLS)
    model = {i: vec(i, 0) for i in ids}

    def visible() -> dict[int, list[float]]:
        cur = spark.read.parquet(current_vectors_dir(store))
        tomb = _tombstones(spark, store)
        if tomb is not None:
            cur = cur.join(F.broadcast(tomb), "vec_id", "left_anti")
        return {
            int(r.vec_id): [float(x) for x in r.embedding]
            for r in cur.select("vec_id", "embedding").collect()
        }

    for step in range(10):
        op = rng.choice(["upsert", "delete", "purge", "compact"])
        if op == "upsert":
            chosen = rng.sample(ids, rng.randint(1, 6))
            rows = [(i, vec(i, step + 1)) for i in chosen]
            upsert_ivf_store(
                spark,
                spark.createDataFrame(
                    rows, "vec_id long, embedding array<double>"
                ),
                store,
            )
            model.update({i: v for i, v in rows})
        elif op == "delete":
            chosen = rng.sample(ids, rng.randint(1, 4))
            delete_from_ivf_store(spark, store, chosen)
            for i in chosen:
                model.pop(i, None)
        elif op == "purge":
            purge_ivf_tombstones(spark, store)
        else:
            compact_ivf_cells(spark, store, max_files_per_cell=2)
        assert visible() == model, f"seed={seed} diverged after step {step} ({op})"
