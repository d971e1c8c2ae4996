"""Resume-from-snapshot semantics (north_rule: interrupted runs resume from
the last committed snapshot without recomputing completed stages)."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from healthcare_entity_resolution_spark.corpus import generate_files_corpus
from healthcare_entity_resolution_spark.pipeline import (
    resolve_files,
    resumable_resolve_files,
)
from healthcare_entity_resolution_spark.plans.snapshots import (
    SnapshotStore,
    anti_join_completed,
)


@pytest.fixture()
def run_dir(tmp_path):
    d = str(tmp_path / "run1")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_snapshot_commit_load_atomicity(spark, run_dir):
    store = SnapshotStore(spark, run_dir)
    df = spark.range(10).withColumn("x", F.col("id") * 2)
    out = store.commit(df, "stage_a")
    assert store.exists("stage_a") and out.count() == 10
    # overwrite commit replaces atomically
    out2 = store.commit(spark.range(5), "stage_a")
    assert out2.count() == 5
    assert store.load("stage_a").count() == 5
    assert not store.exists("never_written")


def test_stage_skips_completed(spark, run_dir):
    store = SnapshotStore(spark, run_dir)
    calls = []

    def build():
        calls.append(1)
        return spark.range(3)

    _, resumed1 = store.stage("s", build)
    _, resumed2 = store.stage("s", build)
    assert (resumed1, resumed2) == (False, True)
    assert len(calls) == 1          # second run loaded the snapshot


def test_anti_join_completed(spark, run_dir):
    store = SnapshotStore(spark, run_dir)
    store.commit(spark.createDataFrame([(1,), (2,)], "block_id int"), "done_blocks")
    work = spark.createDataFrame([(1,), (2,), (3,), (4,)], "block_id int")
    left = anti_join_completed(work, store, "done_blocks", ["block_id"])
    assert sorted(r.block_id for r in left.collect()) == [3, 4]


def test_resumable_pipeline_matches_and_resumes(spark, run_dir):
    files_pdf, _ = generate_files_corpus(n_entities=40, seed=7)
    files = spark.createDataFrame(
        files_pdf[["repo", "path", "commit", "lang", "content"]]
    )
    out1 = resumable_resolve_files(spark, files, run_dir)
    a1 = sorted(map(tuple, out1["assignments"].collect()))
    # one stage sequence: the snapshotted run answers like the in-memory one
    assert a1 == sorted(map(tuple, resolve_files(spark, files)["assignments"].collect()))

    # second run with the same run_dir: every stage must resume, results equal
    from healthcare_entity_resolution_spark.plans.lineage import LineageLog

    lin = LineageLog()
    out2 = resumable_resolve_files(spark, files, run_dir, lineage=lin)
    a2 = sorted(map(tuple, out2["assignments"].collect()))
    assert a1 == a2
    resume_flags = {e["stage"]: e["resumed"] for e in lin.events
                    if e["stage"].startswith("resume.")}
    assert all(resume_flags.values()), resume_flags
    assert not [e for e in lin.events if e["stage"] == "cc.converged"]

    # partial resume: drop the final snapshot only -> earlier stages resume,
    # final stage recomputes to the same answer
    shutil.rmtree(f"{run_dir}/assignments")
    lin2 = LineageLog()
    out3 = resumable_resolve_files(spark, files, run_dir, lineage=lin2)
    flags = {e["stage"]: e["resumed"] for e in lin2.events
             if e["stage"].startswith("resume.")}
    assert flags["resume.files"] and flags["resume.pairs"] and flags["resume.classified"]
    assert not flags["resume.assignments"]
    assert sorted(map(tuple, out3["assignments"].collect())) == a1


def test_html_run_report(spark, tmp_path):
    """Dashboard analog: self-contained HTML report from the pipeline's
    report aggregates (reference dashboard/app.py + pages)."""
    from healthcare_entity_resolution_spark.plans.report_html import (
        write_run_report,
    )

    assignments = spark.createDataFrame(
        [("a", "c1"), ("b", "c1"), ("c", "c2")], "id string, component_id string"
    )
    classified = spark.createDataFrame(
        [("a", "b", 0.92, "match", 0.9), ("a", "c", 0.2, "non_match", 0.8)],
        "id_1 string, id_2 string, overall_score double, decision string, "
        "confidence double",
    )
    out = str(tmp_path / "report.html")
    write_run_report(out, assignments=assignments, classified=classified,
                     lineage_events=[{"stage": "test", "wall_time": 0, "n": 1}])
    text = open(out).read()
    assert "<html" in text and "Cluster size distribution" in text
    assert "Match quality" in text and "svg" in text
    assert "entities" in text


def test_append_compact_roundtrip(spark, tmp_path):
    """Compaction folds the delta chain into one compact_<covered_max> dir:
    reads are unchanged, superseded deltas are gone, the epoch sequence is
    undisturbed, and a covered id can never be appended (it would be
    invisible)."""
    import os

    import pytest
    from healthcare_entity_resolution_spark.plans.snapshots import SnapshotStore

    store = SnapshotStore(spark, str(tmp_path / "c_state"))
    for i in range(3):
        assert store.append(
            spark.createDataFrame([(i, f"v{i}")], "k int, v string"), "t", i
        )
    assert store.next_delta_id("t") == 3

    cid = store.compact("t")
    assert cid == 2  # named for the max id it covers, NOT a fresh epoch
    rows = sorted(map(tuple, store.load("t").collect()))
    assert rows == [(0, "v0"), (1, "v1"), (2, "v2")]
    base = str(tmp_path / "c_state" / "t")
    assert sorted(os.listdir(base)) == ["compact_000000000002"]

    # compacting an already-compacted snapshot is a no-op
    assert store.compact("t") == 2

    # the epoch sequence continues past the compaction untouched
    assert store.next_delta_id("t") == 3
    assert store.append(
        spark.createDataFrame([(3, "v3")], "k int, v string"), "t", 3
    )
    assert store.load("t").count() == 4
    assert store.compact("t") == 3
    assert store.load("t").count() == 4

    # a covered id would be committed but never read — must refuse
    with pytest.raises(ValueError, match="covered"):
        store.append(
            spark.createDataFrame([(9, "x")], "k int, v string"), "t", 1
        )


def test_append_compact_replay_state_machine(spark, tmp_path):
    """Randomized protocol check: under any interleaving of appends,
    duplicate-epoch replays, and compactions, the snapshot view equals
    exactly the union of the unique committed batches — no loss, no
    double-counting."""
    import random

    from healthcare_entity_resolution_spark.plans.snapshots import SnapshotStore

    for seed in (1, 7, 23):
        rng = random.Random(seed)
        store = SnapshotStore(spark, str(tmp_path / f"sm_{seed}"))
        expected: dict[int, list[tuple]] = {}
        next_id = 0
        for _ in range(12):
            op = rng.choice(["append", "replay", "compact", "compact"])
            if op == "append" or not expected:
                rows = [(next_id, j) for j in range(rng.randint(1, 3))]
                assert store.append(
                    spark.createDataFrame(rows, "epoch int, j int"),
                    "sm", next_id,
                )
                expected[next_id] = rows
                next_id += 1
            elif op == "replay":
                # a crash-replay re-presents a random committed epoch; the
                # delta either still exists (no-op False) or was compacted
                # away (append must refuse rather than double-commit)
                eid = rng.choice(sorted(expected))
                try:
                    wrote = store.append(
                        spark.createDataFrame([(eid, 99)], "epoch int, j int"),
                        "sm", eid,
                    )
                    assert wrote is False
                except ValueError:
                    pass  # covered by a compaction: refused loudly
            else:
                store.compact("sm")
            got = sorted(map(tuple, store.load("sm").collect()))
            want = sorted(t for rows in expected.values() for t in rows)
            assert got == want, (seed, op, got, want)


def test_append_into_whole_commit_snapshot_raises(spark, tmp_path):
    """Mode-mixing guard: load() prefers a base _SUCCESS and ignores deltas,
    so appending into a whole-commit snapshot must refuse loudly instead of
    silently dropping every new batch."""
    store = SnapshotStore(spark, str(tmp_path / "mix"))
    df = spark.range(3).select(F.col("id"))
    store.commit(df, "state")
    with pytest.raises(ValueError, match="whole-commit-mode"):
        store.append(df, "state", store.next_delta_id("state"))


def test_stray_dirs_do_not_crash_reads(spark, tmp_path):
    """A stray directory matching the delta prefix with a non-numeric suffix
    (with _SUCCESS) must be skipped, not raise ValueError on every read."""
    import os

    store = SnapshotStore(spark, str(tmp_path / "stray"))
    df = spark.range(2).select(F.col("id"))
    store.append(df, "state", 0)
    junk = os.path.join(str(tmp_path / "stray"), "state", "delta_backup")
    os.makedirs(junk)
    open(os.path.join(junk, "_SUCCESS"), "w").close()
    assert store.exists("state")
    assert store.load("state").count() == 2
    assert store.next_delta_id("state") == 1


def test_compact_over_leftover_dir(spark, tmp_path):
    """A leftover compact_<id> dir without _SUCCESS (partially deleted
    superseded rewrite) must not make compaction raise forever."""
    import os

    store = SnapshotStore(spark, str(tmp_path / "leftover"))
    df = spark.range(2).select(F.col("id"))
    store.append(df, "state", 0)
    store.append(df, "state", 1)
    # simulate a superseded compact whose best-effort rmtree removed
    # _SUCCESS but left the dir
    stale = os.path.join(str(tmp_path / "leftover"), "state", "compact_000000000001")
    os.makedirs(stale)
    open(os.path.join(stale, "junkfile"), "w").close()
    cid = store.compact("state")
    assert cid == 1
    assert store.load("state").count() == 4


def test_history_and_time_travel(spark, tmp_path):
    """history() lists live epochs; load_as_of() reconstructs each past
    view exactly, refuses compacted-away epochs, and refuses gaps."""
    import pytest as _pytest

    store = SnapshotStore(spark, str(tmp_path / "tt"))
    for i, v in enumerate([10, 20, 30]):
        store.append(spark.range(v, v + 1), "t", i)

    h = store.history("t")
    assert [(e["id"], e["kind"]) for e in h] == [
        (0, "delta"), (1, "delta"), (2, "delta")
    ]
    assert sorted(r.id for r in store.load_as_of("t", 0).collect()) == [10]
    assert sorted(r.id for r in store.load_as_of("t", 1).collect()) == [10, 20]
    assert sorted(r.id for r in store.load_as_of("t", 2).collect()) == [10, 20, 30]

    # epoch 3 was never committed
    with _pytest.raises(ValueError, match="not committed"):
        store.load_as_of("t", 3)

    # compaction covers 0-2; epochs 0/1 are physically gone, 2 survives
    cid = store.compact("t")
    assert cid == 2
    store.append(spark.range(40, 41), "t", 3)
    assert sorted(r.id for r in store.load_as_of("t", 2).collect()) == [10, 20, 30]
    assert sorted(r.id for r in store.load_as_of("t", 3).collect()) == [
        10, 20, 30, 40
    ]
    with _pytest.raises(ValueError, match="compacted away"):
        store.load_as_of("t", 1)
    assert [(e["id"], e["kind"]) for e in store.history("t")] == [
        (2, "compact"), (3, "delta")
    ]


def test_history_whole_commit_mode(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path / "wc"))
    store.commit(spark.range(5), "base")
    h = store.history("base")
    assert len(h) == 1 and h[0]["kind"] == "commit"
