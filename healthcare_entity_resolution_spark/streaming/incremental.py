"""Incremental entity resolution over a file stream.

``incremental_resolution_stream`` watches a directory of parquet drops
(``readStream`` file source — swap for Kafka/Iceberg-CDC in production) and
resolves each micro-batch against the accumulated corpus via
``foreachBatch``:

1. normalize the new files and collect them once as Arrow (one row per
   ``file_id``); everything bounded by the batch then runs in the driver;
2. key them in the driver (the MinHash UDF's body,
   ``blocking.minhash_bands``, plus blocking's key expressions over local
   relations);
3. block only NEW-vs-ALL: one query of the committed keys against a
   broadcast of the batch's block keys returns each block's size and, for
   a block of at most ``max_block_size`` members, its members — an
   incremental candidate generation that never re-pairs old-vs-old.  A
   larger (hot) block gives the batch no pairs, logged as
   ``stream.hot_blocks``; exact copies stay paired through the same query,
   each batch file with its content's smallest committed copy.  One lookup
   of the committed ``files`` and ``assignments`` against a broadcast of
   the batch's and the candidates' ids then says which batch files are
   already ingested and returns the candidates' contents and components
   (no corpus-wide file cache);
4. score + classify the new pairs in the driver with the batch path's own
   code: the ``mapInPandas`` body (``scoring.code_pair_scores``), then the
   score tail, ``classify`` and ``confirmed_matches`` as Spark expressions
   over a local relation, which Spark evaluates without a job, a bounded
   chunk of pairs at a time;
5. update assignments INCREMENTALLY, in the driver: committed components
   are contracted to single nodes and
   ``components.driver_connected_components`` labels the contracted batch
   graph — per-batch clustering cost is O(batch edges), not O(corpus), and
   costs no Spark job.  The first batch takes the same path against an
   empty committed table;
6. commit updated snapshots atomically (SnapshotStore) — files / keys /
   edges as O(batch) APPEND deltas keyed by the foreachBatch epoch and
   written from the driver's Arrow tables (a replayed epoch is a
   delta-level no-op), the merged assignments table as a whole rewrite;
   keys, edges, then assignments, then files, which commits last, so a
   crash mid-batch replays the whole batch against the pre-batch file set
   and every other commit is idempotent under that replay.

Watermarks/session windows are unnecessary: file identity is keyed by
(repo, path, commit) — late arrivals are just new rows; exactly-once comes
from the snapshot commit protocol plus Structured Streaming's checkpointed
source offsets.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, ResolutionConfig
from ..operators import blocking as B
from ..operators import classify as C
from ..operators import components as G
from ..operators import normalize as N
from ..operators import scoring as S
from ..pipeline import classify_code_scores
from ..plans.lineage import NULL_LINEAGE, LineageLog
from ..plans.snapshots import SnapshotStore

ASSIGN_SCHEMA = "id string, component_id string"
KEYS_SCHEMA = "_id string, _bk string"
# the file columns the scoring kernels read, per side of a pair
SCORE_COLS = ["path_norm", "repo", "content", "content_sha"]
FILE_SCHEMA = "file_id string, " + ", ".join(f"{c} string" for c in SCORE_COLS)
# the probe's row tag for a content's exact-copy representative
_SHA = "sha:"
# candidate pairs scored per driver pass
SCORE_CHUNK = 1 << 16
# parquet drops one stream trigger reads: 1,000 code files at the
# benchmark's 20-file drops, the batch size of micro_batch_resolve's
# measured driver envelope
MAX_DROPS_PER_TRIGGER = 50


def _lookup(ids: pa.ChunkedArray, assign: pa.Table) -> pa.Array:
    """Each id's ``component_id`` in ``assign``, or the id itself when it
    has none."""
    pos = pc.index_in(ids, value_set=assign["id"])
    return pc.coalesce(assign["component_id"].take(pos), ids)


def _local(spark: SparkSession, table: pa.Table, schema=None) -> DataFrame:
    """An Arrow table as a local relation: building it runs no Spark job, and
    a ``collect()`` of projections and filters over it runs none either.
    Each column is made one chunk (Spark rejects a column of no chunks,
    which an empty Arrow result can have)."""
    columns = [c.combine_chunks() for c in table.columns]
    return spark.createDataFrame(pa.Table.from_arrays(columns, names=table.column_names),
                                 schema)


def _snapshot(spark: SparkSession, store: SnapshotStore, name: str,
              schema: str) -> DataFrame:
    """A committed snapshot, or before its first commit an empty relation
    (``limit(0)``: a LocalRelation the optimizer prunes)."""
    if store.exists(name):
        return store.load(name)
    return spark.createDataFrame([], schema).limit(0)


def _components():
    """The number of components of an assignments table, as an aggregate: a
    component id is its minimum member id, so each component has exactly one
    row with ``id == component_id``."""
    return F.count(F.when(F.col("id") == F.col("component_id"), 1)).alias("n")


def _one_row_per_file(rows: pa.Table) -> pa.Table:
    """One row per ``file_id``: the minimum over (content_sha, every other
    column) in Spark's struct order (ascending, NULLs first), so the choice
    is deterministic.  List columns are not compared: they derive from
    ``path``, which is."""
    rest = [c for c in rows.column_names if c not in ("file_id", "content_sha")]
    order = [(c, "ascending") for c in ("file_id", "content_sha", *rest)
             if not pa.types.is_nested(rows.schema.field(c).type)]
    rows = rows.take(pc.sort_indices(rows, sort_keys=order, null_placement="at_start"))
    fid = rows.column("file_id").to_numpy(zero_copy_only=False)
    keep = np.ones(len(fid), dtype=bool)
    keep[1:] = fid[1:] != fid[:-1]
    return rows.filter(pa.array(keep))


def _batch_keys(spark: SparkSession, rows: pa.Table,
                cfg: ResolutionConfig) -> pa.Table:
    """The batch's ``(_id, _bk)`` block keys, computed in the driver: the
    MinHash bands by ``blocking.minhash_bands`` (the code-file UDF's body),
    the path-stem and ``mh:`` keys by blocking's own expressions over local
    relations, which Spark evaluates without a job."""
    bands = pa.array(B.minhash_bands(rows.column("content").to_pandas(), cfg).tolist(),
                     pa.list_(pa.int64()))
    banded = pa.table({"_id": rows.column("file_id").take(pc.list_parent_indices(bands)),
                       "_b": pc.list_flatten(bands)})
    files = _local(spark, rows.select(["file_id", "path_norm", "lang"]))
    keyed = (B.path_stem_block_keys(files).collect()
             + _local(spark, banded).select("_id", B.band_key(F.col("_b"))).collect())
    return pa.table({"_id": pa.array([r[0] for r in keyed], pa.string()),
                     "_bk": pa.array([r[1] for r in keyed], pa.string())})


def _probe(spark: SparkSession, old_keys: DataFrame, old_files: DataFrame,
           keys: pa.Table, rows: pa.Table,
           cfg: ResolutionConfig) -> tuple[pa.Table, pa.Table, pa.Table]:
    """Block the batch's files against the committed state.  Returns the
    canonical ``(id_1, id_2)`` candidate pairs, the batch keys still to
    append and the hot blocks ``(_bk, n)``.

    One query: the committed keys, joined to a broadcast of the batch's
    block keys (each with its batch files), are partitioned by block; each
    row learns its block's member count, and only the members of blocks of
    at most ``cfg.max_block_size``, each block's smallest member and the
    batch files among them (their keys are already committed: a
    crash-replay, so they are not appended again) reach the driver.  A
    block whose members, the batch included, number n >
    ``cfg.max_block_size`` is hot: it gives the batch's files no pairs.  No
    member list of a hot block is built: its rows pass the shuffle by block
    key once and are counted there, in spillable buffers.  The rule reads
    only the committed state at probe time, so a replay probes the same
    blocks.

    Exact copies stay connected however hot their blocks are: each batch
    file is also paired with its exact-content representative, the smallest
    committed ``file_id`` of its ``content_sha`` (the same query reads the
    committed files of the batch's contents as one block per content), or,
    when no copy is committed, the smallest batch ``file_id`` of it.  That
    adds at most one pair per file; NULL content has no copies."""
    cap = cfg.max_block_size
    grouped = keys.group_by("_bk").aggregate([("_id", "list")])
    by_bk = pa.table({"_bk": grouped["_bk"], "_new": grouped["_id_list"]})
    hit = old_keys.join(F.broadcast(_local(spark, by_bk, "_bk string, _new array<string>")),
                        "_bk")
    shas = _local(spark, pa.table({"content_sha": pc.unique(rows["content_sha"].drop_null())}),
                  "content_sha string")
    copies = old_files.join(F.broadcast(shas), "content_sha").select(
        F.concat(F.lit(_SHA), "content_sha").alias("_bk"), F.col("file_id").alias("_id"),
        F.lit(None).cast("array<string>").alias("_new"))
    block = Window.partitionBy("_bk")
    n, first = F.count("*").over(block), F.min("_id").over(block)
    mine = F.coalesce(F.array_contains("_new", F.col("_id")), F.lit(False))
    found = (
        hit.unionByName(copies)
        .select("_bk", "_id", n.alias("n"), first.alias("first"), mine.alias("mine"))
        .where((F.col("n") <= cap) | (F.col("_id") == F.col("first")) | F.col("mine"))
        .toArrow()
    )
    sizes = found.group_by("_bk").aggregate([("n", "max"), ("first", "min")])
    is_rep = pc.starts_with(sizes["_bk"], _SHA)
    reps, blocks = sizes.filter(is_rep), sizes.filter(pc.invert(is_rep))
    done = pc.is_in(keys.column("_id"), value_set=found.filter(found["mine"])["_id"])
    # per batch block: committed members plus batch files not yet committed
    bks = by_bk.column("_bk")
    code = pc.index_in(keys.column("_bk"), value_set=bks).to_numpy()
    pending = np.bincount(code, weights=pc.invert(done).to_numpy(zero_copy_only=False),
                          minlength=len(bks)).astype(np.int64)
    pos = pc.index_in(bks, value_set=blocks["_bk"])
    total = pc.fill_null(blocks["n_max"].take(pos), 0).to_numpy() + pending
    hot = total > cap
    new_side = keys.filter(pa.array(~hot[code])).rename_columns(["id_new", "_bk"])
    old = found.filter(pc.is_in(found["_bk"], value_set=bks.filter(pa.array(~hot))))
    members = pa.concat_tables([
        new_side.rename_columns(["id_any", "_bk"]).select(["_bk", "id_any"]),
        pa.table({"_bk": old["_bk"], "id_any": old["_id"]}),
    ])
    hits = new_side.join(members, "_bk")
    # exact copies: each batch file against its content's representative
    rep = pc.coalesce(
        reps["first_min"].take(
            pc.index_in(pc.binary_join_element_wise(_SHA, rows["content_sha"], ""),
                        value_set=reps["_bk"], skip_nulls=True)),
        _first_by_sha(rows))
    hits = pa.concat_tables([
        hits.select(["id_new", "id_any"]),
        pa.table({"id_new": rows["file_id"], "id_any": rep}).filter(pc.is_valid(rep)),
    ])
    hits = hits.filter(pc.not_equal(hits["id_new"], hits["id_any"]))
    cand = pa.table({
        "id_1": pc.min_element_wise(hits["id_new"], hits["id_any"]),
        "id_2": pc.max_element_wise(hits["id_new"], hits["id_any"]),
    }).group_by(["id_1", "id_2"]).aggregate([])
    hot_blocks = pa.table({"_bk": bks.filter(pa.array(hot)), "n": total[hot]})
    return cand, keys.filter(pc.invert(done)), hot_blocks


def _first_by_sha(rows: pa.Table) -> pa.Array:
    """Per row, the smallest ``file_id`` of ``rows`` with its ``content_sha``
    (NULL for NULL content)."""
    first = rows.group_by("content_sha").aggregate([("file_id", "min")])
    return first["file_id_min"].take(pc.index_in(
        rows["content_sha"], value_set=first["content_sha"], skip_nulls=True))


def _log_hot_blocks(hot: pa.Table, new_keys: pa.Table, cfg: ResolutionConfig,
                    lineage: LineageLog) -> None:
    """Log what the hot blocks dropped: C(n,2) - C(n-b,2) pairs for a block of
    n members of which b are the batch's new files."""
    if not hot.num_rows:
        return
    code = pc.index_in(new_keys.column("_bk"), value_set=hot["_bk"])
    b = np.bincount(code.drop_null().to_numpy(), minlength=hot.num_rows)
    n = hot["n"].to_numpy()
    dropped = int((n * (n - 1) // 2 - (n - b) * (n - b - 1) // 2).sum())
    lineage.log("stream.hot_blocks", hot_blocks=hot.num_rows,
                pairs_dropped=dropped, max_block_size=cfg.max_block_size)


def _committed(spark: SparkSession, files: DataFrame, assign: DataFrame,
               ids: pa.Array) -> tuple[pa.Table, pa.Table]:
    """The committed ``files`` rows (file_id + ``SCORE_COLS``) and
    ``assignments`` rows of ``ids``: one Spark query, each snapshot scanned
    once against ONE broadcast of the ids (the exchange is reused), never
    an exchange of the corpus."""
    wanted = F.broadcast(_local(spark, pa.table({"file_id": ids}), "file_id string"))
    none = F.lit(None).cast("string")
    found = (
        files.join(wanted, "file_id", "left_semi")
        .select("file_id", *SCORE_COLS, none.alias("component_id"))
        .unionByName(
            assign.withColumnRenamed("id", "file_id").join(wanted, "file_id", "left_semi")
            .select("file_id", *[none.alias(c) for c in SCORE_COLS], "component_id"))
        .toArrow()
    )
    is_file = pc.is_null(found["component_id"])
    return (found.filter(is_file).drop_columns(["component_id"]),
            found.filter(pc.invert(is_file)).select(["file_id", "component_id"])
            .rename_columns(["id", "component_id"]))


def _classify(spark: SparkSession, cand: pa.Table, files: pa.Table) -> DataFrame:
    """Score and classify ``cand`` in the driver.  The kernels are scoring's
    own (``code_pair_scores``); the score tail and ``classify`` are the
    batch path's Spark expressions, here over a local relation of the
    kernel scores, which Spark evaluates without a job.  Each side's file
    columns are gathered by position from one pandas copy of ``files``, so a
    content is held once however many pairs it is in; a pair with an
    endpoint missing from ``files`` is dropped, as the batch path's join
    drops it."""
    pos = [pc.index_in(cand[f"id_{s}"], value_set=files["file_id"]) for s in "12"]
    found = pc.and_(pc.is_valid(pos[0]), pc.is_valid(pos[1]))
    cand = cand.filter(found)
    table = files.to_pandas()
    decorated = cand.to_pandas()
    for side, p in zip("12", pos):
        take = p.filter(found).to_numpy()
        for c in SCORE_COLS:
            decorated[f"{c}_{side}"] = table[c].to_numpy()[take]
    kernels = pd.concat(S.code_pair_scores([decorated]))
    scored = _local(spark, pa.Table.from_pandas(kernels, preserve_index=False),
                    S.CODE_SCORE_SCHEMA)
    return classify_code_scores(S.code_score_columns(scored))


def _matches(spark: SparkSession, cand: pa.Table, files: pa.Table) -> pa.Table:
    """The match edges among ``cand``, as Arrow ``(id_1, id_2)``, scored
    ``SCORE_CHUNK`` pairs at a time so the driver holds one chunk's
    decorated pairs and kernel scores, however many candidates there are."""
    ids = []
    for start in range(0, cand.num_rows, SCORE_CHUNK):
        chunk = _classify(spark, cand.slice(start, SCORE_CHUNK), files)
        ids += C.confirmed_matches(chunk).select("id_1", "id_2").collect()
    return pa.table({"id_1": pa.array([r[0] for r in ids], pa.string()),
                     "id_2": pa.array([r[1] for r in ids], pa.string())})


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
    which commits LAST, so a half-committed batch that the caller re-sends
    replays under the same derived id and the per-row guards below still
    apply.  Any other batch derives that id too: if its keys are not in the
    crashed attempt's committed keys delta, the call raises rather than skip
    its appends (re-send the crashed batch first).

    A file repeated within the batch is ingested once (the row with the
    smallest ``content_sha`` is kept).

    Spark runs the corpus reads and the assignments rewrite only: the
    batch collect, the keys probe, one lookup of the committed files and
    assignments, and the rewrite — 9 jobs for a warm 21-file batch on a
    90-file corpus, where keying and scoring as Spark stages took 32.
    Keys, scoring, classify and clustering run in the driver over Arrow
    (module docstring, steps 2-5).

    The bound: a block with more than ``cfg.max_block_size`` committed
    members (the batch included) is hot and gives the batch no pairs, so a
    batch of f files has at most f x ((1 + ``cfg.lsh_bands``) x
    ``cfg.max_block_size`` + 1) candidate pairs (the 1: a file's
    exact-copy representative).  The rule reads only the committed state at
    probe time, so a replay probes the same blocks.

    This is where stream and batch answers differ: the batch path salts a
    hot block (``blocking.candidate_pairs``), a micro-batch drops it.  On
    a backfill of 8,070 generated files the stream ended with 2,669
    entities, one micro-batch of all of them with 2,676, and pairing every
    block with 2,664.

    The driver holds the batch's rows, the candidate ids and the decorated
    pairs and scores of one ``SCORE_CHUNK`` of candidates.  Envelope
    (local[4] on a shared 4-core x86 host, 2g driver heap): a 1,000-file
    batch against 1,000 committed files, every path-stem block at the cap
    (200 members, 100 new), ~640-byte contents: 149,574 candidates, 19.8 s (14.2 s when keys
    and scoring were Spark stages), 130 MB peak Arrow memory, driver Python
    RSS +226 MB.  The work grows with the batch and the kernels run on one
    core, so callers pass batches of at most about 1,000 files: the stream
    reads at most ``MAX_DROPS_PER_TRIGGER`` drops per trigger, and a direct
    caller splits a larger backfill into such batches.  A backfill is then
    slower than one distributed batch: 8,070 files in 404 drops took 112 s
    in 9 triggers, against 52 s."""
    rows = _one_row_per_file(N.normalize_files(new_raw).toArrow())
    batch_ids = rows.column("file_id")
    # incremental blocking: NEW keys vs ALL keys (never old-vs-old), keyed
    # in the driver over the batch only.  The keyed (_id, _bk) frame is
    # itself a committed snapshot.  Replay guard: a crash between the keys
    # commit and the files commit replays the batch with keys already
    # committed; the probe finds those files, so only the pending keys are
    # appended, and the members it counts are those of the crashed attempt.
    keys = _batch_keys(spark, rows, cfg)
    old_files = _snapshot(spark, store, "files", FILE_SCHEMA)
    cand, pending, hot = _probe(spark, _snapshot(spark, store, "keys", KEYS_SCHEMA),
                                old_files, keys, rows, cfg)
    # which batch files are already ingested, the contents of the
    # candidates' committed endpoints and the committed components of both:
    # one lookup of the committed state (the batch's own rows are in hand)
    ids = pc.unique(pa.chunked_array(
        cand["id_1"].chunks + cand["id_2"].chunks + batch_ids.chunks, type=batch_ids.type))
    old_assign = _snapshot(spark, store, "assignments", ASSIGN_SCHEMA)
    found, prior = _committed(spark, old_files, old_assign, ids)
    # idempotence: drop rows already ingested (exactly-once on replays), and
    # with them every pair that has no new file
    new = pc.invert(pc.is_in(batch_ids, value_set=found["file_id"]))
    rows = rows.filter(new)
    new_ids = rows.column("file_id")
    n_new = rows.num_rows
    if n_new == 0 and store.exists("files"):
        # whole-batch replay of an already-ingested batch: nothing to do
        n_entities = old_assign.select(_components()).first()["n"]
        lineage.log("stream.batch", new_files=0, candidate_pairs=0,
                    new_match_pairs=0, entities=n_entities, replayed=True)
        return {"new_files": 0, "new_pairs": 0, "total_entities": n_entities}
    delta = batch_id if batch_id is not None else store.next_delta_id("files")
    unkeyed = pc.is_in(pending["_id"], value_set=new_ids)
    if store.has_delta("files", delta) or (
            store.has_delta("keys", delta) and pc.any(unkeyed).as_py()):
        # The files delta for this epoch is already committed, yet the batch
        # contains files the snapshot has never seen (n_new > 0); or the keys
        # delta is, yet lacks the keys of some of them (a direct caller's
        # batch after a crashed one derives the crashed batch's id).  Either
        # the caller is replaying epoch ids against the wrong run_dir (e.g.
        # the stream checkpoint was reset but the snapshot store was not), or
        # the crashed batch was not re-sent.  Proceeding would silently skip
        # the keys/edges (or files) appends of the new files.
        raise ValueError(
            f"micro_batch_resolve: epoch {delta} is already committed in "
            f"{store.run_dir!r} but this batch still has {n_new} un-ingested "
            "files — stream checkpoint and snapshot store are out of sync "
            "(reset both together, resume from the original checkpoint, or "
            "re-send the batch that crashed)"
        )
    cand = cand.filter(pc.or_(pc.is_in(cand["id_1"], value_set=new_ids),
                              pc.is_in(cand["id_2"], value_set=new_ids)))
    _log_hot_blocks(hot, keys.filter(pc.is_in(keys["_id"], value_set=new_ids)),
                    cfg, lineage)
    store.append(pending, "keys", delta)  # O(batch) delta

    files = pa.concat_tables([rows.select(["file_id", *SCORE_COLS]), found],
                             promote_options="default")
    edges = _matches(spark, cand, files)
    n_pairs = edges.num_rows

    # new-vs-all pairing with a genuinely-new side means a new match edge
    # can never already exist in the snapshot — appends are disjoint by
    # construction, no cross-delta dedup needed
    store.append(edges, "edges", delta)

    # incremental CC in the driver: contract committed components to single
    # nodes and label the CONTRACTED batch graph only — O(batch) edges, not
    # O(corpus).  Valid because edge addition can only MERGE components,
    # old component ids are min member ids, and min over merged components
    # is the min of their contracted ids; untouched components (absent from
    # the contracted graph) keep their assignment verbatim.
    # The committed assignments are read twice, each time as one corpus
    # scan against a BROADCAST local relation (never an exchange of the
    # corpus): once for the slice of ids the batch touches (``prior``, read
    # with the candidates' contents above), once for the rewrite.
    labels = G.driver_connected_components(pa.table({
        "id_1": _lookup(edges.column("id_1"), prior),
        "id_2": _lookup(edges.column("id_2"), prior),
    }), lineage)
    moved = labels.filter(pc.not_equal(labels["id"], labels["component_id"]))
    remap = _local(spark, moved.rename_columns(["component_id", "_new_c"]),
                   "component_id string, _new_c string")
    carried = old_assign.join(F.broadcast(remap), "component_id", "left").select(
        "id", F.coalesce("_new_c", F.col("component_id")).alias("component_id")
    )
    # replay guard: a crash between the assignments and files commits
    # replays the batch with assignments already updated — ids already in
    # the committed table are carried, never added twice
    fresh_ids = new_ids.filter(pc.invert(pc.is_in(new_ids, value_set=prior["id"])))
    fresh = _local(
        spark,
        pa.table({"id": fresh_ids, "component_id": _lookup(fresh_ids, labels)}),
        ASSIGN_SCHEMA,
    )
    # merged table: whole rewrite, which also counts the components
    # without a job of its own
    entities = Observation("entities")
    store.commit(carried.unionByName(fresh).observe(entities, _components()),
                 "assignments")
    store.append(rows, "files", delta)  # commits LAST (replay anchor)
    n_entities = entities.get["n"]
    lineage.log("stream.batch", new_files=n_new, candidate_pairs=cand.num_rows,
                new_match_pairs=n_pairs, entities=n_entities)
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
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", MAX_DROPS_PER_TRIGGER).parquet(input_dir))

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
