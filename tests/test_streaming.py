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


def test_batch_after_crashed_batch_raises(spark, corpus, tmp_path, monkeypatch):
    """A direct caller's batch after one that crashed between its keys/edges
    deltas and its assignments commit derives the crashed batch's id.  Its
    keys are not in that committed keys delta, so proceeding would skip its
    keys and edges appends; it must raise instead.  Re-sending the crashed
    batch still replays it, and the next batch then commits in full."""
    run_dir = str(tmp_path / "crashed_state")
    store = SnapshotStore(spark, run_dir)
    wave = F.abs(F.xxhash64("repo", "path", "commit")) % 3
    w0, w1, w2 = (corpus.where(wave == i) for i in range(3))
    micro_batch_resolve(spark, w0, store)

    commit = store.commit

    def crash(df, name):
        if name == "assignments":
            raise RuntimeError("crash before the assignments commit")
        return commit(df, name)

    monkeypatch.setattr(store, "commit", crash)
    with pytest.raises(RuntimeError, match="crash"):
        micro_batch_resolve(spark, w1, store)
    monkeypatch.undo()
    assert store.has_delta("keys", 1) and store.has_delta("edges", 1)
    assert not store.has_delta("files", 1)

    with pytest.raises(ValueError, match="out of sync"):
        micro_batch_resolve(spark, w2, store)

    assert micro_batch_resolve(spark, w1, store)["new_files"] == w1.count()
    assert micro_batch_resolve(spark, w2, store)["new_files"] == w2.count()
    files = {r[0] for r in store.load("files").select("file_id").collect()}
    keyed = {r[0] for r in store.load("keys").select("_id").collect()}
    assert len(files) == corpus.count() and files <= keyed
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


@pytest.fixture(scope="module")
def warm_batch(spark, corpus, tmp_path_factory):
    """The counters and the Spark job count of a warm micro-batch: a quarter
    of ``corpus`` against a store holding the other three quarters."""
    store = SnapshotStore(spark, str(tmp_path_factory.mktemp("jobs_state")))
    wave = F.abs(F.xxhash64("repo", "path", "commit")) % 4
    micro_batch_resolve(spark, corpus.where(wave != 0), store)

    sc = spark.sparkContext
    sc.setJobGroup("test-micro-batch-jobs", "micro-batch job shape")
    try:
        stats = micro_batch_resolve(spark, corpus.where(wave == 0), store)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return stats, len(sc.statusTracker().getJobIdsForGroup("test-micro-batch-jobs"))


def test_micro_batch_job_count(warm_batch):
    """A warm micro-batch contracts and labels its component graph in the
    driver, so the batch runs no connected-components jobs.  On this corpus
    and split the second batch ran 77 Spark jobs when the contracted graph
    went through the distributed large-star/small-star loop and 32 with
    the in-driver kernel; the bound is 0.6x the former."""
    stats, jobs = warm_batch
    assert stats["new_files"] > 0 and stats["new_pairs"] > 0
    assert 1 <= jobs <= int(0.6 * 77), jobs


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


def test_warm_micro_batch_runs_half_the_jobs(warm_batch):
    """The warm batch of ``test_micro_batch_job_count`` keys, scores,
    classifies and clusters in the driver and writes its append deltas from
    there: Spark runs only the corpus reads and the assignments rewrite.  It
    ran 32 jobs when keys and scoring were Spark stages; the bound is half
    of that."""
    _, jobs = warm_batch
    assert 1 <= jobs <= 32 // 2, jobs


def _files(spark, pdf):
    from healthcare_entity_resolution_spark.operators import normalize as N

    return N.normalize_files(spark.createDataFrame(pdf[COLS])).persist()


def test_driver_keys_equal_distributed_keys(spark):
    """The micro-batch keys its rows in the driver; the keys must be exactly
    ``code_file_block_keys``' (the MinHash pandas UDF path)."""
    from healthcare_entity_resolution_spark.config import DEFAULT_CONFIG
    from healthcare_entity_resolution_spark.operators import blocking as B
    from healthcare_entity_resolution_spark.streaming import incremental as INC

    pdf, _ = generate_files_corpus(n_entities=40, seed=5)
    files = _files(spark, pdf)
    dist = sorted(map(tuple, B.code_file_block_keys(files, DEFAULT_CONFIG)
                      .select("_id", "_bk").collect()))
    local = INC._batch_keys(spark, files.toArrow(), DEFAULT_CONFIG)
    driver = sorted(zip(local["_id"].to_pylist(), local["_bk"].to_pylist()))
    assert driver == dist
    assert any(bk.startswith("mh:") for _, bk in dist)
    assert any(bk.startswith("ps:") for _, bk in dist)


def test_driver_scores_equal_distributed_scores(spark):
    """Scores, decisions and matches of the driver path equal
    ``classify_code_pairs``' (the ``mapInPandas`` path) on the same pairs,
    exactly."""
    from healthcare_entity_resolution_spark.config import DEFAULT_CONFIG
    from healthcare_entity_resolution_spark.operators import blocking as B
    from healthcare_entity_resolution_spark.operators import classify as C
    from healthcare_entity_resolution_spark.pipeline import classify_code_pairs
    from healthcare_entity_resolution_spark.streaming import incremental as INC

    pdf, _ = generate_files_corpus(n_entities=40, seed=5)
    files = _files(spark, pdf)
    pairs = B.candidate_pairs(B.code_file_block_keys(files, DEFAULT_CONFIG))
    cols = ["id_1", "id_2", "sha_equal", "jw_path", "jw_repo", "jaccard",
            "cosine", "content_tier", "sha_match", "overall_score",
            "decision", "confidence"]
    dist = classify_code_pairs(files, pairs)
    local = INC._classify(spark, pairs.toArrow(),
                          files.select("file_id", *INC.SCORE_COLS).toArrow())
    want = sorted(map(tuple, dist.select(cols).collect()))
    got = sorted(map(tuple, local.select(cols).collect()))
    assert len(got) == pairs.count() > 0
    assert got == want
    assert len({d for *_, d, _ in got}) > 1  # more than one decision

    def matches(df):
        return sorted(map(tuple, C.confirmed_matches(df)
                          .select("id_1", "id_2").collect()))

    assert matches(local) == matches(dist)


def test_null_content_files_cannot_be_compared(spark, tmp_path):
    """NULL content means "cannot compare", under Spark 4's default ANSI
    mode, in both paths: such a file is its own representative (the batch
    path's sha equi-join dropped it), never gets ``sha_match``, scores NULL
    ``jaccard``/``cosine`` (two NULL contents are not identical), and every
    file gets exactly one assignment.  The stream used to crash scoring a
    pair with a NULL side."""
    import pandas as pd

    from healthcare_entity_resolution_spark.config import DEFAULT_CONFIG
    from healthcare_entity_resolution_spark.operators import blocking as B
    from healthcare_entity_resolution_spark.pipeline import classify_code_pairs

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    pdf, _ = generate_files_corpus(n_entities=10, seed=3)
    rows = pdf[COLS].reset_index(drop=True)
    # two NULL-content files on one existing path: they block with each
    # other and with the file already there (path-stem key)
    nulls = pd.concat([rows.iloc[[0]]] * 2).assign(
        repo=["null/a", "null/b"], content=None)
    data = pd.concat([rows, nulls], ignore_index=True)
    raw = spark.createDataFrame(data, "repo string, path string, commit string, "
                                      "lang string, content string")
    n = len(data)

    batch = resolve_files(spark, raw)
    got = _norm_assign(batch["assignments"])
    assert len(got) == len({i for i, _ in got}) == n
    null_ids = [r["file_id"] for r in batch["files"].where(F.col("content").isNull())
                .select("file_id").collect()]
    assert len(null_ids) == 2
    comp = dict(got)
    for i in null_ids:  # singletons: nothing can match them
        assert comp[i] == i and list(comp.values()).count(i) == 1

    files = batch["files"]
    pairs = B.candidate_pairs(B.code_file_block_keys(files, DEFAULT_CONFIG))
    scored = classify_code_pairs(files, pairs).where(
        F.col("id_1").isin(null_ids) | F.col("id_2").isin(null_ids)).collect()
    assert any(r["id_1"] in null_ids and r["id_2"] in null_ids for r in scored)
    for r in scored:
        assert r["jaccard"] is None and r["cosine"] is None
        assert r["sha_match"] is None and r["overall_score"] is None
        assert r["decision"] != "match"

    store = SnapshotStore(spark, str(tmp_path / "null_content_state"))
    stats = micro_batch_resolve(spark, raw, store)
    assert stats["new_files"] == n
    assert _norm_assign(store.load("assignments")) == got


def test_empty_batch_on_fresh_and_committed_store(spark, corpus, tmp_path):
    """An empty batch ingests nothing: counters are 0, every snapshot stays
    readable, and replaying it writes nothing."""
    import os

    empty = corpus.limit(0)
    store = SnapshotStore(spark, str(tmp_path / "empty_state"))
    stats = micro_batch_resolve(spark, empty, store)
    assert stats == {"new_files": 0, "new_pairs": 0, "total_entities": 0}
    for name in ("files", "keys", "edges", "assignments"):
        assert store.load(name).count() == 0
    listing = sorted(os.listdir(store.run_dir))
    again = micro_batch_resolve(spark, empty, store)
    assert again == stats
    assert sorted(os.listdir(store.run_dir)) == listing

    wave = F.abs(F.xxhash64("repo", "path", "commit")) % 2
    first = micro_batch_resolve(spark, corpus.where(wave == 0), store)
    assert first["new_files"] > 0
    before = {name: store.load(name).count()
              for name in ("files", "keys", "edges", "assignments")}
    assign = _norm_assign(store.load("assignments"))
    for _ in range(2):  # the empty batch, then its replay
        stats = micro_batch_resolve(spark, empty, store)
        assert stats == {"new_files": 0, "new_pairs": 0,
                         "total_entities": first["total_entities"]}
        assert {name: store.load(name).count() for name in before} == before
        assert _norm_assign(store.load("assignments")) == assign


def test_hot_blocks_bound_candidates_and_are_logged(spark, tmp_path):
    """A block whose committed members (the batch included) number more than
    ``max_block_size`` gives the batch no pairs.  Per-batch candidates stay
    within files x ((1 + lsh_bands) x max_block_size + 1), and ``stream.hot_blocks``
    carries the exact block and dropped-pair counts, recomputed here from
    the committed keys."""
    import pandas as pd

    from healthcare_entity_resolution_spark.config import ResolutionConfig
    from healthcare_entity_resolution_spark.plans.lineage import LineageLog

    cfg = ResolutionConfig(max_block_size=6)
    body = "".join(f"def helper_{i}(x):\n    return x * {i}\n" for i in range(30))
    data = pd.DataFrame({
        "repo": [f"org/r{i}" for i in range(20)],
        "path": ["src/util.py"] * 20,
        "commit": ["c1"] * 20,
        "lang": ["python"] * 20,
        "content": [body + f"# copy {i % 7}\n" for i in range(20)],
    })
    store = SnapshotStore(spark, str(tmp_path / "hot_state"))
    seen: set[str] = set()
    for batch in (data.iloc[:8], data.iloc[8:]):
        lin = LineageLog()
        stats = micro_batch_resolve(spark, spark.createDataFrame(batch), store,
                                    cfg, lin)
        n_files = stats["new_files"]
        assert n_files == len(batch)
        (ev,) = [e for e in lin.events if e["stage"] == "stream.batch"]
        assert ev["candidate_pairs"] <= n_files * (
            (1 + cfg.lsh_bands) * cfg.max_block_size + 1)

        # oracle: block sizes over the committed keys, the batch included
        keys = store.load("keys").toPandas()
        new = keys[~keys["_id"].isin(seen)]
        before, seen = seen, seen | set(new["_id"])
        size = keys.groupby("_bk")["_id"].nunique()
        b = new.groupby("_bk")["_id"].nunique()
        hot = [k for k in b.index if size[k] > cfg.max_block_size]
        assert hot, "the test corpus must build hot blocks"
        dropped = sum(size[k] * (size[k] - 1) // 2
                      - (size[k] - b[k]) * (size[k] - b[k] - 1) // 2 for k in hot)
        (hev,) = [e for e in lin.events if e["stage"] == "stream.hot_blocks"]
        assert (hev["hot_blocks"], hev["pairs_dropped"]) == (len(hot), dropped)
        cold = {k for k in b.index if size[k] <= cfg.max_block_size}
        members = keys[keys["_bk"].isin(cold)]
        expect = {tuple(sorted((x, y)))
                  for k, grp in members.groupby("_bk")
                  for x in grp["_id"] if x in set(new["_id"])
                  for y in grp["_id"] if x != y}
        # plus each new file against its exact-copy representative
        sha = dict(map(tuple, store.load("files").select("file_id", "content_sha")
                       .collect()))
        for x in set(new["_id"]):
            copies = [y for y in sha if sha[y] == sha[x]]
            old = [y for y in copies if y in before]
            rep = min(old or copies)
            if rep != x:
                expect.add(tuple(sorted((x, rep))))
        assert ev["candidate_pairs"] == len(expect)


def test_exact_copies_stay_connected_through_hot_blocks(spark, tmp_path):
    """More than ``max_block_size`` byte-identical copies make every block of
    theirs hot, in the batch that brings them and in every later one; each
    copy is still paired with its content's representative, so all copies
    end in one component, as in the batch path (its exact-dedup pass)."""
    import pandas as pd

    from healthcare_entity_resolution_spark.config import ResolutionConfig
    from healthcare_entity_resolution_spark.plans.lineage import LineageLog

    cfg = ResolutionConfig(max_block_size=6)
    license_text = "Permission is hereby granted, free of charge, to any person\n" * 12
    data = pd.DataFrame({
        "repo": [f"org/r{i:02d}" for i in range(16)],
        "path": ["LICENSE"] * 16,
        "commit": ["c1"] * 16,
        "lang": ["text"] * 16,
        "content": [license_text] * 16,
    })
    store = SnapshotStore(spark, str(tmp_path / "copies_state"))
    for batch in (data.iloc[:10], data.iloc[10:]):
        lin = LineageLog()
        stats = micro_batch_resolve(spark, spark.createDataFrame(batch), store, cfg, lin)
        assert stats["new_files"] == len(batch)
        (hev,) = [e for e in lin.events if e["stage"] == "stream.hot_blocks"]
        assert hev["hot_blocks"] == 1 + cfg.lsh_bands  # every block is hot
        (ev,) = [e for e in lin.events if e["stage"] == "stream.batch"]
        assert ev["candidate_pairs"] <= len(batch)  # one pair per copy at most
    got = _norm_assign(store.load("assignments"))
    assert len(got) == 16 and len({c for _, c in got}) == 1
    batch = resolve_files(spark, spark.createDataFrame(data), cfg)
    assert got == _norm_assign(batch["assignments"])
