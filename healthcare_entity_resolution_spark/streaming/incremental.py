"""Incremental entity resolution over a file stream.

``incremental_resolution_stream`` watches a directory of parquet drops
(``readStream`` file source — swap for Kafka/Iceberg-CDC in production) and
resolves each micro-batch against the accumulated corpus via
``foreachBatch``:

1. normalize the new files;
2. union with the committed ``files`` snapshot (the already-resolved corpus);
3. block only NEW-vs-ALL: new files' blocking keys joined against the full
   keyed corpus — an incremental candidate generation that never re-pairs
   old-vs-old;
4. score + classify the new pairs through the batch pipeline's scoring
   stage (``pipeline.classify_code_pairs``);
5. merge new match edges into the edge snapshot and update assignments
   INCREMENTALLY, in the driver: the batch's match edges and the slice of
   the committed assignments they touch are collected as Arrow (both
   bounded by the batch), committed components are contracted to single
   nodes, and ``components.driver_connected_components`` labels the
   contracted batch graph — per-batch clustering cost is O(batch edges),
   not O(corpus), and costs no Spark job.  The first batch takes the same
   path against an empty committed table;
6. commit updated snapshots atomically (SnapshotStore) — files / keys /
   edges as O(batch) APPEND deltas keyed by the foreachBatch epoch (a
   replayed epoch is a delta-level no-op), the merged assignments table as
   a whole rewrite; files commits last, so a crash mid-batch replays the
   whole batch against the pre-batch file set and every other commit is
   idempotent under that replay.

Watermarks/session windows are unnecessary: file identity is keyed by
(repo, path, commit) — late arrivals are just new rows; exactly-once comes
from the snapshot commit protocol plus Structured Streaming's checkpointed
source offsets.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, ResolutionConfig
from ..operators import blocking as B
from ..operators import classify as C
from ..operators import components as G
from ..operators import normalize as N
from ..pipeline import classify_code_pairs
from ..plans.lineage import NULL_LINEAGE, LineageLog
from ..plans.snapshots import SnapshotStore

ASSIGN_SCHEMA = "id string, component_id string"


def _lookup(ids: pa.ChunkedArray, assign: pa.Table) -> pa.Array:
    """Each id's ``component_id`` in ``assign``, or the id itself when it
    has none."""
    pos = pc.index_in(ids, value_set=assign["id"])
    return pc.coalesce(assign["component_id"].take(pos), ids)


def micro_batch_resolve(
    spark: SparkSession,
    new_raw: DataFrame,
    store: SnapshotStore,
    cfg: ResolutionConfig = DEFAULT_CONFIG,
    lineage: LineageLog = NULL_LINEAGE,
    batch_id: int | None = None,
) -> dict[str, int]:
    """Resolve one batch of new files against the committed corpus state.
    Returns counters (new_files, new_pairs, total_entities).

    Write discipline: files / keys / edges are APPEND-mode snapshots — each
    batch commits one immutable O(batch) delta (``SnapshotStore.append``),
    so per-batch write cost never grows with the corpus.  Only the merged
    ``assignments`` table is rewritten whole (on Iceberg that rewrite is a
    ``MERGE INTO``; see plans/db_sink.merge_into_sql).  ``batch_id`` is the
    foreachBatch epoch: a crash-replay re-presents the same id, and the
    already-committed deltas are skipped wholesale; direct (batch-mode)
    callers may omit it — the id is then derived from the files snapshot,
    which commits LAST, so a half-committed batch replays under the same
    derived id and the per-row anti-join guards below still apply.

    A file repeated within the batch is ingested once (the row with the
    smallest ``content_sha`` is kept).  Clustering runs in the driver over
    two Arrow collects bounded by the batch (module docstring, step 5); the
    remap of merged components and the fresh files' assignments go back as
    local relations, so the assignments rewrite is one corpus scan, one
    broadcast join and one write."""
    new_files = N.normalize_files(new_raw)
    # one row per file_id: a batch that repeats a file would otherwise be
    # ingested and assigned twice.  The kept row is the minimum over
    # (content_sha, every other column), so the choice is deterministic.
    rest = [c for c in new_files.columns if c not in ("file_id", "content_sha")]
    new_files = (
        new_files.groupBy("file_id")
        .agg(F.min(F.struct("content_sha", *rest)).alias("_row"))
        .select("file_id", "_row.*")
        .select(*new_files.columns)
    )
    if store.exists("files"):
        old_files = store.load("files")
        # idempotence: drop rows already ingested (exactly-once on replays)
        new_files = new_files.join(
            old_files.select("file_id"), "file_id", "left_anti"
        )
        all_files = old_files.unionByName(new_files)
    else:
        all_files = new_files
    all_files = all_files.persist()
    new_files = new_files.persist()
    # the batch's file ids, collected once (this action fills the cache)
    new_ids = new_files.select(F.col("file_id").alias("id")).toArrow().column("id")
    n_new = len(new_ids)
    if n_new == 0 and store.exists("files"):
        # whole-batch replay of an already-ingested batch: nothing to do
        n_entities = (
            store.load("assignments").select("component_id").distinct().count()
        )
        lineage.log("stream.batch", new_files=0, new_match_pairs=0,
                    entities=n_entities, replayed=True)
        for df in (new_files, all_files):
            df.unpersist(blocking=False)
        return {"new_files": 0, "new_pairs": 0, "total_entities": n_entities}
    delta = batch_id if batch_id is not None else store.next_delta_id("files")
    if store.has_delta("files", delta):
        # The files delta for this epoch is already committed, yet the batch
        # contains files the snapshot has never seen (n_new > 0): the caller
        # is replaying epoch ids against the wrong run_dir (e.g. the stream
        # checkpoint was reset but the snapshot store was not).  Proceeding
        # would silently skip the files/keys/edges appends and strand the
        # new files as assignment-only singletons.
        raise ValueError(
            f"micro_batch_resolve: epoch {delta} is already committed in "
            f"{store.run_dir!r} but this batch still has {n_new} un-ingested "
            "files — stream checkpoint and snapshot store are out of sync "
            "(reset both together, or resume from the original checkpoint)"
        )

    # incremental blocking: NEW keys vs ALL keys (never old-vs-old).  The
    # keyed (_id, _bk) frame is itself a committed snapshot: the MinHash
    # pandas UDF runs over the BATCH only — per-batch key cost is
    # O(batch), not O(corpus).
    new_keys = B.code_file_block_keys(new_files, cfg).select("_id", "_bk")
    if store.exists("keys"):
        old_keys = store.load("keys")
        # replay guard (mirrors the file_id guard above): a crash between
        # the keys commit and the files commit replays the batch with keys
        # already committed — on a replayed batch_id the append below is a
        # delta-level no-op, and this anti-join additionally keeps the
        # commit idempotent when the replay arrives under a DIFFERENT
        # derived id (a file's keys commit atomically, so filtering on _id
        # alone is sufficient)
        new_keys = new_keys.join(old_keys.select("_id"), "_id", "left_anti")
    store.append(new_keys, "keys", delta)  # O(batch) delta; UDF ran once
    all_keys = store.load("keys")
    # derived from the COMMITTED snapshot (not the in-flight new_keys) so a
    # crash-replay whose keys delta already landed still regenerates the
    # batch's candidate pairs
    new_key_side = all_keys.join(
        F.broadcast(new_files.select(F.col("file_id").alias("_id"))),
        "_id", "left_semi",
    )
    # broadcast the batch-bounded side: the corpus-sized all_keys scan
    # never exchanges for this join (the static planner sizes new_key_side
    # by its corpus-scan parent and would shuffle BOTH sides on _bk; the
    # hint is deterministic where AQE's runtime fix is best-effort)
    cand = (
        F.broadcast(new_key_side.withColumnRenamed("_id", "id_new"))
        .join(all_keys.withColumnRenamed("_id", "id_any"), "_bk")
        .where(F.col("id_new") != F.col("id_any"))
        .select(
            F.least("id_new", "id_any").alias("id_1"),
            F.greatest("id_new", "id_any").alias("id_2"),
        )
        .dropDuplicates(["id_1", "id_2"])
    )
    new_matches = C.confirmed_matches(
        classify_code_pairs(all_files, cand, cfg), cfg
    ).select("id_1", "id_2").persist()
    edges = new_matches.toArrow()  # fills the cache the append reads
    n_pairs = edges.num_rows

    # new-vs-all pairing with a genuinely-new side means a new match edge
    # can never already exist in the snapshot — appends are disjoint by
    # construction, no cross-delta dedup needed
    store.append(new_matches, "edges", delta)

    # incremental CC in the driver: contract committed components to single
    # nodes and label the CONTRACTED batch graph only — O(batch) edges, not
    # O(corpus).  Valid because edge addition can only MERGE components,
    # old component ids are min member ids, and min over merged components
    # is the min of their contracted ids; untouched components (absent from
    # the contracted graph) keep their assignment verbatim.
    # The committed assignments are read twice, each time as one corpus
    # scan against a BROADCAST local relation (never an exchange of the
    # corpus): once for the slice of ids the batch touches, once for the
    # rewrite.  A first batch contracts against an empty committed table;
    # limit(0) makes it an empty LocalRelation the optimizer prunes.
    old_assign = (
        store.load("assignments") if store.exists("assignments")
        else spark.createDataFrame([], ASSIGN_SCHEMA).limit(0)
    )
    probe = pc.unique(pa.chunked_array(
        edges.column("id_1").chunks + edges.column("id_2").chunks + new_ids.chunks,
        type=new_ids.type,
    ))
    prior = old_assign.join(
        F.broadcast(spark.createDataFrame(pa.table({"id": probe}), "id string")),
        "id", "left_semi",
    ).toArrow()
    labels = G.driver_connected_components(pa.table({
        "id_1": _lookup(edges.column("id_1"), prior),
        "id_2": _lookup(edges.column("id_2"), prior),
    }), lineage)
    moved = labels.filter(pc.not_equal(labels["id"], labels["component_id"]))
    remap = spark.createDataFrame(moved.rename_columns(["component_id", "_new_c"]),
                                  "component_id string, _new_c string")
    carried = old_assign.join(F.broadcast(remap), "component_id", "left").select(
        "id", F.coalesce("_new_c", F.col("component_id")).alias("component_id")
    )
    # replay guard: a crash between the assignments and files commits
    # replays the batch with assignments already updated — ids already in
    # the committed table are carried, never added twice
    fresh_ids = new_ids.filter(pc.invert(pc.is_in(new_ids, value_set=prior["id"])))
    fresh = spark.createDataFrame(
        pa.table({"id": fresh_ids, "component_id": _lookup(fresh_ids, labels)}),
        ASSIGN_SCHEMA,
    )
    assignments = carried.unionByName(fresh)
    store.commit(assignments, "assignments")  # merged table: whole rewrite
    store.append(new_files, "files", delta)   # commits LAST (replay anchor)
    n_entities = store.load("assignments").select("component_id").distinct().count()
    lineage.log("stream.batch", new_files=n_new, new_match_pairs=n_pairs,
                entities=n_entities)
    for df in (new_matches, new_files, all_files):
        df.unpersist(blocking=False)
    return {"new_files": n_new, "new_pairs": n_pairs, "total_entities": n_entities}


def incremental_resolution_stream(
    spark: SparkSession,
    input_dir: str,
    run_dir: str,
    cfg: ResolutionConfig = DEFAULT_CONFIG,
    lineage: LineageLog = NULL_LINEAGE,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    compact_every: int | None = 16,
):
    """readStream(parquet dir) -> foreachBatch(micro_batch_resolve).

    ``available_now=True`` drains everything currently in the directory and
    stops — the batch-backfill mode; ``False`` keeps running for new drops.
    ``compact_every=K`` folds the append-delta chains (files/keys/edges)
    into one directory every K batches, so a long-running stream's reads
    never union thousands of per-batch deltas; it defaults ON (16) because
    without it per-batch read amplification grows linearly with stream age
    (measured in BENCH.md §streaming) — pass ``None`` to disable.  Returns
    the StreamingQuery."""
    store = SnapshotStore(spark, run_dir)
    schema = ("repo string, path string, commit string, lang string, "
              "content string")
    stream = spark.readStream.schema(schema).parquet(input_dir)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        stats = micro_batch_resolve(
            spark, batch_df, store, cfg, lineage, batch_id=batch_id
        )
        lineage.log("stream.batch_done", batch_id=batch_id, **stats)
        if compact_every and (batch_id + 1) % compact_every == 0:
            for name in ("files", "keys", "edges"):
                if store.exists(name):
                    store.compact(name)
            lineage.log("stream.compacted", batch_id=batch_id)

    writer = stream.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint_dir or f"{run_dir}/_stream_checkpoint"
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
