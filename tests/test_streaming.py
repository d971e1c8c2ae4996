"""Incremental (Structured Streaming) resolution: drops arrive in waves;
entities must converge to the batch pipeline's answer."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from healthcare_entity_resolution_spark.corpus import generate_files_corpus
from healthcare_entity_resolution_spark.pipeline import resolve_files
from healthcare_entity_resolution_spark.plans.snapshots import SnapshotStore
from healthcare_entity_resolution_spark.streaming import (
    incremental_resolution_stream,
    micro_batch_resolve,
)

COLS = ["repo", "path", "commit", "lang", "content"]


@pytest.fixture(scope="module")
def corpus(spark):
    pdf, _ = generate_files_corpus(n_entities=30, seed=11)
    return spark.createDataFrame(pdf[COLS])


def _norm_assign(df):
    """Component ids are min member ids — directly comparable."""
    return sorted(map(tuple, df.select("id", "component_id").collect()))


def test_micro_batches_converge_to_batch_answer(spark, corpus, tmp_path):
    run_dir = str(tmp_path / "stream_state")
    store = SnapshotStore(spark, run_dir)

    # split the corpus into 3 waves by hash of path (deterministic)
    wave = F.abs(F.xxhash64("repo", "path", "commit")) % 3
    waves = [corpus.where(wave == i) for i in range(3)]
    for w in waves:
        stats = micro_batch_resolve(spark, w, store)
        assert stats["new_files"] > 0

    batch = resolve_files(spark, corpus)
    assert _norm_assign(store.load("assignments")) == _norm_assign(
        batch["assignments"]
    )

    # replay idempotence: feeding wave 0 again changes nothing
    before = _norm_assign(store.load("assignments"))
    stats = micro_batch_resolve(spark, waves[0], store)
    assert stats["new_files"] == 0
    assert _norm_assign(store.load("assignments")) == before
    shutil.rmtree(run_dir, ignore_errors=True)


def test_null_lineage_keeps_no_events(spark, corpus, tmp_path):
    """Runs that pass no log write to the shared null sink, which must keep
    nothing (a long-lived process would otherwise grow without bound)."""
    from healthcare_entity_resolution_spark.plans.lineage import NULL_LINEAGE

    resolve_files(spark, corpus)
    store = SnapshotStore(spark, str(tmp_path / "null_sink_state"))
    assert micro_batch_resolve(spark, corpus, store)["new_files"] > 0
    assert NULL_LINEAGE.events == []


def test_keys_commit_idempotent_under_crash_replay(spark, corpus, tmp_path):
    """Crash window: keys committed but files not yet — replaying the batch
    must not duplicate (_id, _bk) rows in the keys snapshot (the files-side
    replay guard alone can't catch this, since the files snapshot is still
    pre-batch)."""
    from healthcare_entity_resolution_spark.config import DEFAULT_CONFIG
    from healthcare_entity_resolution_spark.operators import blocking as B
    from healthcare_entity_resolution_spark.operators import normalize as N

    run_dir = str(tmp_path / "crash_state")
    store = SnapshotStore(spark, run_dir)
    wave = F.abs(F.xxhash64("repo", "path", "commit")) % 3
    w0, w1 = corpus.where(wave == 0), corpus.where(wave == 1)
    micro_batch_resolve(spark, w0, store)

    # simulate the crash: a crashed attempt committed wave-1 keys as a
    # delta (under an id the replay will NOT derive — the harder case,
    # where delta-level idempotence can't catch it) WITHOUT committing
    # wave-1 files
    crashed_keys = B.code_file_block_keys(
        N.normalize_files(w1), DEFAULT_CONFIG
    ).select("_id", "_bk")
    assert store.append(crashed_keys, "keys", delta_id=999)
    before = store.load("keys").count()

    micro_batch_resolve(spark, w1, store)  # the replay
    keys = store.load("keys")
    assert keys.count() == before  # no duplicate key rows accumulated
    assert keys.count() == keys.dropDuplicates(["_id", "_bk"]).count()

    # the easy case: a replay re-presenting the SAME delta id is a no-op
    assert not store.append(crashed_keys, "keys", delta_id=999)
    shutil.rmtree(run_dir, ignore_errors=True)


def test_append_snapshots_write_o_batch(spark, corpus, tmp_path):
    """files/keys/edges commit one immutable delta per batch — per-batch
    write volume is the batch, not the corpus (the assignments table is the
    only whole rewrite)."""
    import os

    run_dir = str(tmp_path / "delta_state")
    store = SnapshotStore(spark, run_dir)
    wave = F.abs(F.xxhash64("repo", "path", "commit")) % 3
    per_wave = []
    for i in range(3):
        stats = micro_batch_resolve(spark, corpus.where(wave == i), store,
                                    batch_id=i)
        per_wave.append(stats["new_files"])

    for name in ("files", "keys", "edges"):
        deltas = sorted(os.listdir(os.path.join(run_dir, name)))
        assert deltas == [f"delta_{i:012d}" for i in range(3)], (name, deltas)
    # each files delta holds exactly its own wave
    for i in range(3):
        d = spark.read.parquet(os.path.join(run_dir, "files",
                                            f"delta_{i:012d}"))
        assert d.count() == per_wave[i]
    # and the union view equals the whole corpus
    assert store.load("files").count() == sum(per_wave) == corpus.count()
    shutil.rmtree(run_dir, ignore_errors=True)


def test_epoch_collision_raises(spark, corpus, tmp_path):
    """Replaying a committed epoch id with UNSEEN files means the stream
    checkpoint and the snapshot store are out of sync — silently skipping
    the append deltas would strand those files; it must raise instead."""
    run_dir = str(tmp_path / "collide_state")
    store = SnapshotStore(spark, run_dir)
    wave = F.abs(F.xxhash64("repo", "path", "commit")) % 3
    micro_batch_resolve(spark, corpus.where(wave == 0), store, batch_id=0)
    with pytest.raises(ValueError, match="out of sync"):
        micro_batch_resolve(spark, corpus.where(wave == 1), store, batch_id=0)
    # the same epoch with the SAME (already-ingested) data stays a no-op
    stats = micro_batch_resolve(spark, corpus.where(wave == 0), store, batch_id=0)
    assert stats["new_files"] == 0
    shutil.rmtree(run_dir, ignore_errors=True)


def test_readstream_available_now(spark, corpus, tmp_path):
    in_dir = str(tmp_path / "drops")
    run_dir = str(tmp_path / "state")
    corpus.limit(40).write.mode("overwrite").parquet(in_dir)

    q = incremental_resolution_stream(spark, in_dir, run_dir, compact_every=1)
    q.awaitTermination(300)
    store = SnapshotStore(spark, run_dir)
    assert store.exists("assignments")
    n = store.load("assignments").count()
    assert n == 40
    # compact_every folded the per-batch deltas; reads are unchanged
    import os
    assert any(d.startswith("compact_")
               for d in os.listdir(os.path.join(run_dir, "files")))
    assert store.load("files").count() == 40
    shutil.rmtree(run_dir, ignore_errors=True)


def test_incremental_cc_tracks_batch_size(spark, corpus, tmp_path):
    """The contracted-CC incremental update must cluster a graph bounded by
    the batch, not the corpus (VERDICT r1 #6)."""
    import shutil as _sh

    from healthcare_entity_resolution_spark.plans.lineage import LineageLog

    run_dir = str(tmp_path / "inc_state")
    store = SnapshotStore(spark, run_dir)
    wave = F.abs(F.xxhash64("repo", "path", "commit")) % 4
    micro_batch_resolve(spark, corpus.where(wave != 0), store)

    lin = LineageLog()
    stats = micro_batch_resolve(spark, corpus.where(wave == 0), store, lineage=lin)
    assert stats["new_files"] > 0
    cc_events = [e for e in lin.events if e["stage"] == "cc.converged"]
    assert cc_events, "incremental CC ran"
    total_edges = store.load("edges").count()
    for ev in cc_events:
        # contracted graph ~ batch matches; strictly smaller than the
        # committed corpus edge snapshot
        assert ev["star_edges"] < max(10, total_edges // 2), (ev, total_edges)
    _sh.rmtree(run_dir, ignore_errors=True)


def test_repeated_rows_in_a_batch_assign_each_file_once(spark, tmp_path):
    """A batch that repeats a file row ingests and assigns that file once:
    new_files is the distinct count and the result equals the
    de-duplicated batch's.  Of two rows with one file_id but different
    content, the one with the smaller content_sha is kept."""
    import hashlib

    import pandas as pd

    pdf, _ = generate_files_corpus(n_entities=10, seed=3)
    rows = pdf[COLS].reset_index(drop=True)
    other = rows.iloc[[3]].assign(content="def changed():\n    return 1\n")
    batch = pd.concat([rows, rows.iloc[[0, 1, 2]], other])

    def sha(text):
        return hashlib.sha256(text.encode()).hexdigest()

    if sha(other["content"].iloc[0]) < sha(rows["content"].iloc[3]):
        rows.iloc[3] = other.iloc[0]  # the row the batch should keep
    n_distinct = len(rows)

    store = SnapshotStore(spark, str(tmp_path / "repeated_state"))
    stats = micro_batch_resolve(spark, spark.createDataFrame(batch), store)
    assert stats["new_files"] == n_distinct
    assert store.load("files").count() == n_distinct
    ids = [r["id"] for r in store.load("assignments").collect()]
    assert len(ids) == len(set(ids)) == n_distinct

    ref = SnapshotStore(spark, str(tmp_path / "deduplicated_state"))
    ref_stats = micro_batch_resolve(spark, spark.createDataFrame(rows), ref)
    assert stats == ref_stats
    assert _norm_assign(store.load("assignments")) == _norm_assign(
        ref.load("assignments"))
    cols = ["file_id", "content_sha"]
    assert sorted(map(tuple, store.load("files").select(cols).collect())) == \
        sorted(map(tuple, ref.load("files").select(cols).collect()))


def test_micro_batch_job_count(spark, corpus, tmp_path):
    """A warm micro-batch contracts and labels its component graph in the
    driver, so the batch runs no connected-components jobs.  On this corpus
    and split the second batch ran 77 Spark jobs when the contracted graph
    went through the distributed large-star/small-star loop and 32 with
    the in-driver kernel; the bound is 0.6x the former."""
    store = SnapshotStore(spark, str(tmp_path / "jobs_state"))
    wave = F.abs(F.xxhash64("repo", "path", "commit")) % 4
    micro_batch_resolve(spark, corpus.where(wave != 0), store)

    sc = spark.sparkContext
    sc.setJobGroup("test-micro-batch-jobs", "micro-batch job shape")
    try:
        stats = micro_batch_resolve(spark, corpus.where(wave == 0), store)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert stats["new_files"] > 0 and stats["new_pairs"] > 0
    jobs = sc.statusTracker().getJobIdsForGroup("test-micro-batch-jobs")
    assert 1 <= len(jobs) <= int(0.6 * 77), len(jobs)


def test_stateful_first_seen_dedup(spark, tmp_path):
    """applyInPandasWithState first-seen dedup: state persists across
    micro-batches (maxFilesPerTrigger=1 forces two batches); re-arrivals
    bump occurrences with is_new=False."""
    from healthcare_entity_resolution_spark.streaming.stateful import (
        dedup_first_seen,
    )

    in_dir = str(tmp_path / "drops")
    rows1 = [("f1", "shaA"), ("f2", "shaA"), ("f3", "shaB")]
    rows2 = [("f4", "shaA"), ("f5", "shaC")]
    spark.createDataFrame(rows1, "file_id string, content_sha string") \
        .coalesce(1).write.parquet(in_dir + "/b1")
    spark.createDataFrame(rows2, "file_id string, content_sha string") \
        .coalesce(1).write.parquet(in_dir + "/b2")

    stream = (
        spark.readStream.schema("file_id string, content_sha string")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/*")
    )
    out = dedup_first_seen(stream)
    q = (
        out.writeStream.format("memory").queryName("first_seen")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    rows = spark.sql("SELECT * FROM first_seen").collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r.content_sha, []).append(r)
    # shaA seen in both batches: final occurrences 3, first_id stable f1,
    # exactly one is_new=True emission
    a = sorted(by_key["shaA"], key=lambda r: r.occurrences)
    assert a[-1].occurrences == 3
    assert all(r.first_id == "f1" for r in a)
    assert sum(1 for r in a if r.is_new) == 1
    assert by_key["shaB"][0].is_new and by_key["shaB"][0].occurrences == 1
    assert by_key["shaC"][0].is_new and by_key["shaC"][0].occurrences == 1


def test_watermarked_ingest_metrics(spark, tmp_path):
    """Windowed ingest metrics with a watermark: a late-but-allowed row
    still lands in its (closed-in-processing-order) window."""
    from healthcare_entity_resolution_spark.streaming.metrics import (
        ingest_metrics,
    )

    in_dir = str(tmp_path / "mdrops")
    schema = "event_time timestamp, lang string, content string"
    raw_schema = "event_time string, lang string, content string"
    # batch 1: two on-time rows in window [10:00, 10:01)
    spark.createDataFrame(
        [("2026-01-01 10:00:10", "python", "aaaa"),
         ("2026-01-01 10:00:40", "java", "bb")],
        raw_schema,
    ).selectExpr("CAST(event_time AS timestamp) event_time", "lang", "content") \
        .coalesce(1).write.parquet(in_dir + "/b1")
    # batch 2: advances event time to 10:03 AND delivers a LATE python row
    # for the 10:00 window (within the 2-minute watermark allowance)
    spark.createDataFrame(
        [("2026-01-01 10:03:00", "python", "cc"),
         ("2026-01-01 10:00:55", "python", "dddd")],
        raw_schema,
    ).selectExpr("CAST(event_time AS timestamp) event_time", "lang", "content") \
        .coalesce(1).write.parquet(in_dir + "/b2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/*")
    )
    out = ingest_metrics(stream)
    q = (
        out.writeStream.format("memory").queryName("ingest_metrics")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "mckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    rows = spark.sql(
        "SELECT * FROM ingest_metrics ORDER BY window_start, lang, n_files"
    ).collect()
    final = {}
    for r in rows:  # update mode: keep the last emission per (window, lang)
        final[(str(r.window_start), r.lang)] = (r.n_files, r.n_bytes)
    py_1000 = final[("2026-01-01 10:00:00", "python")]
    assert py_1000 == (2, 8)            # on-time + late row both counted
    assert final[("2026-01-01 10:00:00", "java")] == (1, 2)
    assert final[("2026-01-01 10:03:00", "python")] == (1, 2)


def test_ann_index_stream_appends_and_prunes(spark, tmp_path):
    """Streaming ANN maintenance (operators/ann.py append_lsh_index +
    ann_index_stream): micro-batch appends land only in their bucket
    partitions; post-append queries see the new vectors through the SAME
    PartitionFilters-pruned read as the original index, and a replayed
    (duplicate) append changes nothing at query time."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from healthcare_entity_resolution_spark.operators import ann

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    base = emb.where((F.col("vec_id") != 0) & (F.col("vec_id") < 400))
    late = emb.where(F.col("vec_id") >= 400)
    q = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]

    path = str(tmp_path / "lsh_index")
    planes = ann.build_lsh_index(base, path, n_planes=4, n_tables=4)
    before = {r.vec_id for r in ann.query_lsh_index(spark, path, q, planes,
                                                    k=10).collect()}

    # stream the late vectors in as two parquet drops
    in_dir = tmp_path / "incoming"
    in_dir.mkdir()
    late1 = late.where(F.col("vec_id") < 450)
    late2 = late.where(F.col("vec_id") >= 450)
    late1.write.parquet(str(in_dir / "drop1"))
    late2.write.parquet(str(in_dir / "drop2"))
    stq = ann.ann_index_stream(
        spark, f"{in_dir}/drop*", path, planes, available_now=True,
    )
    stq.awaitTermination(120)

    out = ann.query_lsh_index(spark, path, q, planes, k=10)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain(True)
    plan = buf.getvalue()
    assert "PartitionFilters: [" in plan and "tb#" in plan, plan[-2000:]

    after = [r.vec_id for r in out.collect()]
    # ground truth: full in-memory index over base+late
    mem = [r.vec_id for r in
           ann.sign_lsh_topk(emb.where(F.col("vec_id") != 0), q, k=10,
                             n_planes=4, n_tables=4).collect()]
    assert after == mem
    assert set(after) != before or len(before) == 10  # stream was not a no-op

    # crash-replay: appending the same batch again must not change results
    ann.append_lsh_index(late1, path, planes)
    again = [r.vec_id for r in
             ann.query_lsh_index(spark, path, q, planes, k=10).collect()]
    assert again == after
