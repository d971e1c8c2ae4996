"""Training-data pipeline operators: dedup suite, text stats, ANN,
multimodal plumbing (SURVEY.md training-data extension)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from healthcare_entity_resolution_spark.config import ResolutionConfig
from healthcare_entity_resolution_spark.operators import ann
from healthcare_entity_resolution_spark.operators import dedup as D
from healthcare_entity_resolution_spark.operators import multimodal as M
from healthcare_entity_resolution_spark.operators import textstats as TS


@pytest.fixture(scope="module")
def docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep green forest while the sun is setting slowly"
    )
    rows = [
        ("d1", base),
        ("d2", base),                                   # exact dup of d1
        ("d3", base.replace("quick", "fast")),          # near dup
        ("d4", "el perro grande corre por la calle y el gato duerme en la casa de la abuela"),
        ("d5", "une phrase en francais avec le chat et le chien dans la maison des amis"),
        ("d6", "zzz qqq xxx yyy www vvv uuu ttt sss rrr"),   # junk
    ]
    return spark.createDataFrame(rows, "doc_id string, text string")


def test_exact_duplicate_groups(spark, docs):
    g = D.exact_duplicate_groups(docs, "doc_id", "text").collect()
    assert {(r.group_id, r.id) for r in g} == {("d1", "d1"), ("d1", "d2")}
    kept = D.distinct_by_content(docs, "doc_id", "text")
    assert kept.count() == 5 and kept.where(F.col("doc_id") == "d2").count() == 0


def test_minhash_near_duplicates(spark, docs):
    pairs = D.minhash_near_duplicates(
        docs, "doc_id", "text", ResolutionConfig(), jaccard_threshold=0.5
    )
    got = {(r.id_1, r.id_2): r.jaccard for r in pairs.collect()}
    assert ("d1", "d2") in got and got[("d1", "d2")] == 1.0
    assert ("d1", "d3") in got and 0.5 <= got[("d1", "d3")] < 1.0
    assert all("d6" not in p for p in got)

    groups = D.near_duplicate_groups(pairs)
    comp = {r.id: r.group_id for r in groups.collect()}
    assert comp["d1"] == comp["d2"] == comp["d3"]


def test_simhash_near_duplicates(spark, docs):
    # d3 (word swap) lands at hamming ~7 — outside the 4x16-chunk pigeonhole
    # guarantee (<=3), so use a 1-char edit for the recall assertion
    extra = docs.union(
        docs.sparkSession.createDataFrame(
            [("d7", docs.where(F.col("doc_id") == "d1").first()["text"] + " now")],
            "doc_id string, text string",
        )
    )
    sigs = D.simhash_signatures(extra, "doc_id", "text")
    vals = {r.id: r.simhash for r in sigs.collect()}
    assert vals["d1"] == vals["d2"]
    pairs = {(r.id_1, r.id_2): r.hamming
             for r in D.simhash_near_duplicates(sigs, max_hamming=3).collect()}
    assert pairs[("d1", "d2")] == 0
    assert ("d1", "d7") in pairs and pairs[("d1", "d7")] <= 3
    assert all("d6" not in p for p in pairs)


def test_minhash_two_tier_recall_gate(spark, sf_small):
    """Dedup recall gate (sf0.001 documents corpus): MinHash-LSH + two-tier
    verify must find >= 0.9 of ALL pairs whose exact shingle Jaccard clears
    the threshold.  Found pairs are exact-verified at the same threshold, so
    found is a subset of truth and recall = |found| / |truth|.  Also asserts
    the tier-1 signature estimate brackets the exact value (mean |est-exact|
    within 2 standard errors of the 64-perm estimator)."""
    from healthcare_entity_resolution_spark.config import DEFAULT_CONFIG

    docs = spark.read.parquet(f"{sf_small}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    thr = 0.7
    state = D.minhash_doc_state(docs, "doc_id", "text", DEFAULT_CONFIG).persist()
    g1 = state.select(F.col("id").alias("id_1"), F.col("_shn").alias("_h1"),
                      F.col("_sig").alias("_s1"))
    g2 = state.select(F.col("id").alias("id_2"), F.col("_shn").alias("_h2"),
                      F.col("_sig").alias("_s2"))
    inter = F.size(F.array_intersect("_h1", "_h2")).cast("double")
    union = F.size(F.array_union("_h1", "_h2")).cast("double")
    agree = F.size(F.filter(F.zip_with("_s1", "_s2", lambda x, y: x == y),
                            lambda b: b))
    allp = (
        g1.crossJoin(g2).where(F.col("id_1") < F.col("id_2"))
        .select("id_1", "id_2", (inter / union).alias("exact"),
                (agree / F.lit(64.0)).alias("est"))
    ).persist()
    n_truth = allp.where(F.col("exact") >= thr).count()
    assert n_truth > 0, "corpus has no near-dup pairs at this threshold"

    found = D.minhash_near_duplicates(docs, "doc_id", "text", DEFAULT_CONFIG,
                                      jaccard_threshold=thr)
    n_found = found.count()
    recall = n_found / n_truth
    assert recall >= 0.9, f"recall {recall:.3f} ({n_found}/{n_truth})"

    # estimator sanity on true near-dups: mean abs error within 2 SE
    err = (allp.where(F.col("exact") >= thr)
           .agg(F.avg(F.abs(F.col("est") - F.col("exact"))).alias("mae"))
           .first()["mae"])
    se2 = 2 * (thr * (1 - thr) / 64) ** 0.5
    assert err <= se2, f"tier-1 estimate MAE {err:.3f} > {se2:.3f}"
    allp.unpersist()
    state.unpersist()


def test_simhash_recall_gate(spark, sf_small):
    """SimHash pigeonhole recall gate: the 4x16-bit chunk index must find
    EVERY pair within hamming <= 3 (guaranteed by construction: 3 flipped
    bits cannot touch all 4 chunks), verified against brute force."""
    docs = spark.read.parquet(f"{sf_small}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    sigs = D.simhash_signatures(docs, "doc_id", "text").persist()
    a = sigs.select(F.col("id").alias("id_1"), F.col("simhash").alias("h1"))
    b = sigs.select(F.col("id").alias("id_2"), F.col("simhash").alias("h2"))
    truth = (
        a.crossJoin(b).where(F.col("id_1") < F.col("id_2"))
        .where(F.bit_count(F.col("h1").bitwiseXOR(F.col("h2"))) <= 3)
    )
    n_truth = truth.count()
    assert n_truth > 0
    n_found = D.simhash_near_duplicates(sigs, max_hamming=3).count()
    assert n_found == n_truth, f"pigeonhole recall {n_found}/{n_truth}"
    sigs.unpersist()


def test_ngram_jaccard_pairs(spark, docs):
    with_block = docs.withColumn("blk", F.lit(1))
    uni = D.ngram_jaccard_pairs(with_block, "doc_id", "text", ["blk"], n=1,
                                threshold=0.5)
    got = {(r.id_1, r.id_2) for r in uni.collect()}
    assert ("d1", "d2") in got and ("d1", "d3") in got
    bi = D.ngram_jaccard_pairs(with_block, "doc_id", "text", ["blk"], n=2,
                               threshold=0.5)
    got2 = {(r.id_1, r.id_2): r.jaccard for r in bi.collect()}
    assert got2[("d1", "d2")] == 1.0


def test_language_id(spark, docs):
    out = {r.doc_id: r.lang_pred
           for r in TS.identify_language(docs, "doc_id", "text").collect()}
    assert out["d1"] == "en" and out["d4"] == "es" and out["d5"] == "fr"
    assert out["d6"] == "und"


def test_quality_and_tokens(spark, docs):
    q = {r.doc_id: r for r in TS.quality_features(docs, "doc_id", "text").collect()}
    assert q["d1"]["quality_score"] > q["d6"]["quality_score"]
    assert q["d1"]["n_tokens"] == 24
    t = {r.doc_id: r for r in TS.token_counts(docs, "doc_id", "text").collect()}
    assert t["d1"]["n_ws_tokens"] == 24
    assert t["d1"]["n_bpe_tokens"] >= 24

    fp = {r.doc_id: r.fingerprint for r in TS.fingerprint(docs, "doc_id", "text").collect()}
    assert fp["d1"] == fp["d2"]
    assert len(fp["d1"]) == 32


@pytest.fixture(scope="module")
def embeddings(spark, sf_small):
    return spark.read.parquet(f"{sf_small}/embeddings.parquet")


def test_ann_exact_vs_arrow(spark, embeddings):
    """brute_force_topk (JVM) against one numpy matmul over the vectors
    collected as Arrow."""
    q = embeddings.where(F.col("vec_id") == 0).first()["embedding"]
    q = [float(x) for x in q]
    rest = embeddings.where(F.col("vec_id") != 0)
    ra = ann.brute_force_topk(rest, q, k=10).collect()
    tbl = rest.select("vec_id", "embedding").toArrow()
    m = np.stack(tbl.column("embedding").to_pylist()).astype(np.float64)
    qv = np.asarray(q)
    cos = np.round((m @ qv) / (np.linalg.norm(m, axis=1) * np.linalg.norm(qv)), 6)
    ids = tbl.column("vec_id").to_numpy()
    order = np.lexsort((ids, -cos))[:10]
    assert [r.vec_id for r in ra] == ids[order].tolist()
    for x, y in zip(ra, cos[order]):
        assert x.cosine == pytest.approx(y, abs=1e-6)


def test_ann_lsh_and_ivf_recall(spark, embeddings):
    q = embeddings.where(F.col("vec_id") == 0).first()["embedding"]
    q = [float(x) for x in q]
    rest = embeddings.where(F.col("vec_id") != 0)
    exact = [r.vec_id for r in ann.brute_force_topk(rest, q, k=10).collect()]
    lsh = [r.vec_id for r in
           ann.sign_lsh_topk(rest, q, k=10, n_planes=4).collect()]
    ivf = [r.vec_id for r in ann.ivf_topk(rest, q, k=10, n_lists=8, nprobe=4).collect()]
    assert len(set(exact) & set(lsh)) >= 5     # recall@10 >= 0.5 for approx
    assert len(set(exact) & set(ivf)) >= 5


def test_ann_random_projection_recall(spark):
    """Random-hyperplane LSH (the production path) recall@10 >= 0.9 averaged
    over queries on the sf0.01 embeddings; auto-sized parameters."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    recalls = []
    for qid in (0, 1, 2, 3, 4):
        q = [float(x) for x in
             emb.where(F.col("vec_id") == qid).first()["embedding"]]
        rest = emb.where(F.col("vec_id") != qid)
        exact = {r.vec_id for r in ann.brute_force_topk(rest, q, k=10).collect()}
        approx = {r.vec_id for r in
                  ann.sign_lsh_topk(rest, q, k=10).collect()}  # auto n_planes
        recalls.append(len(exact & approx) / 10.0)
    assert sum(recalls) / len(recalls) >= 0.9, recalls


def test_ann_param_autosizing():
    assert ann.auto_n_planes(1000) == 4
    assert ann.auto_n_planes(4096 * 1024) == 10
    p = ann.random_hyperplanes(64, 6, seed=13)
    assert p.shape == (6, 64)
    # deterministic + unit rows
    import numpy as np
    assert np.allclose(p, ann.random_hyperplanes(64, 6, seed=13))
    assert np.allclose(np.linalg.norm(p, axis=1), 1.0)


def test_multimodal_plumbing(spark):
    rows = [("m1", b"\x00\x01\x02imagebytes", "image"),
            ("m2", b"", "image"),
            ("m3", b"audio-payload-xyz", "audio")]
    df = spark.createDataFrame(rows, "media_id string, payload binary, kind string")

    meta = {r.media_id: r for r in
            M.attach_media_metadata(df, "media_id", "payload", "kind").collect()}
    assert meta["m1"]["n_bytes"] == 13 and len(meta["m1"]["sha256"]) == 64
    assert meta["m2"]["n_bytes"] == 0

    dec = {r.media_id: r for r in
           M.decode_image(df, "media_id", "payload", fake=True).collect()}
    assert dec["m1"]["ok"] and 64 <= dec["m1"]["width"] < 256

    # real header decode: non-image payloads are ok=False, not an error
    real = {r.media_id: r for r in
            M.decode_image(df, "media_id", "payload", fake=False).collect()}
    assert not real["m1"]["ok"] and real["m1"]["width"] is None

    feats = {r.media_id: r.features for r in
             M.extract_byte_features(df, "media_id", "payload").collect()}
    assert len(feats["m1"]) == 16
    assert sum(feats["m1"]) == pytest.approx(1.0)
    assert feats["m2"] == [0.0] * 16

    vids = spark.createDataFrame([("v1", 3500)], "media_id string, dur_ms int")
    plan = M.frame_sample_plan(vids, "media_id", "dur_ms", every_ms=1000).collect()
    assert [r.frame_ts_ms for r in plan] == [0, 1000, 2000, 3000]


def _png_bytes(w, h, color_type=6):
    import struct, zlib
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    chunk = struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr
    return (b"\x89PNG\r\n\x1a\n" + chunk
            + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr)))


def _jpeg_bytes(w, h, ncomp=3):
    import struct
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x02\x00" + b"\x00" * 6
    sof_len = 8 + 3 * ncomp
    sof = (b"\xff\xc0" + struct.pack(">H", sof_len) + b"\x08"
           + struct.pack(">HH", h, w) + bytes([ncomp]) + b"\x01\x11\x00" * ncomp)
    return b"\xff\xd8" + app0 + sof + b"\xff\xd9"


def _gif_bytes(w, h):
    import struct
    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00\x00\x00"


def _bmp_bytes(w, h, bpp=24):
    import struct
    header = b"BM" + struct.pack("<IHHI", 70, 0, 0, 54)
    dib = struct.pack("<IiiHH", 40, w, h, 1, bpp) + b"\x00" * 24
    return header + dib


def test_decode_image_real_headers(spark):
    """parse_image_header reads actual container headers (VERDICT r2 #5):
    hand-built PNG/JPEG/GIF/BMP byte fixtures decode to their true
    dimensions with fake=False; truncated/garbage bytes come back
    ok=False."""
    rows = [
        ("png", _png_bytes(640, 480, color_type=6)),
        ("png_gray", _png_bytes(32, 16, color_type=0)),
        ("jpg", _jpeg_bytes(1024, 768)),
        ("gif", _gif_bytes(320, 200)),
        ("bmp", _bmp_bytes(64, 48)),
        ("junk", b"not an image at all"),
        ("trunc", b"\xff\xd8\xff"),
    ]
    df = spark.createDataFrame(rows, "media_id string, payload binary")
    dec = {r.media_id: r for r in
           M.decode_image(df, "media_id", "payload", fake=False).collect()}
    assert (dec["png"].width, dec["png"].height, dec["png"].n_channels) == (640, 480, 4)
    assert (dec["png_gray"].width, dec["png_gray"].n_channels) == (32, 1)
    assert (dec["jpg"].width, dec["jpg"].height, dec["jpg"].n_channels) == (1024, 768, 3)
    assert (dec["gif"].width, dec["gif"].height) == (320, 200)
    assert (dec["bmp"].width, dec["bmp"].height, dec["bmp"].n_channels) == (64, 48, 3)
    assert not dec["junk"].ok and not dec["trunc"].ok

    # plain-python parser agrees (no Spark in the loop)
    assert M.parse_image_header(_png_bytes(7, 9, 2)) == (7, 9, 3)
    assert M.parse_image_header(b"") is None

    # standalone markers before SOF must not be read as length-prefixed
    # segments: TEM (0xFF 0x01) and RST0 carry no length word
    import struct as _st
    sof = (b"\xff\xc0" + _st.pack(">H", 11) + b"\x08"
           + _st.pack(">HH", 5, 6) + b"\x01\x01\x11\x00")
    with_tem = b"\xff\xd8" + b"\xff\x01" + b"\xff\xd0" + sof + b"\xff\xd9"
    assert M.parse_image_header(with_tem) == (6, 5, 1)


def test_lsh_index_partition_pruning(spark, tmp_path):
    """The on-disk LSH index must be read with PartitionFilters on the
    bucket column (only probed directories scanned) and return the same
    top-k as the in-memory multi-table path."""
    import io
    import contextlib

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    path = str(tmp_path / "lsh_index")
    planes = ann.build_lsh_index(emb.where(F.col("vec_id") != 0), path,
                                 n_planes=4, n_tables=4)
    q = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]

    out = ann.query_lsh_index(spark, path, q, planes, k=10)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain(True)
    plan = buf.getvalue()
    assert "PartitionFilters: [" in plan and "tb#" in plan, plan[-2000:]

    got = [r.vec_id for r in out.collect()]
    mem = [r.vec_id for r in
           ann.sign_lsh_topk(emb.where(F.col("vec_id") != 0), q, k=10,
                             n_planes=4, n_tables=4).collect()]
    assert got == mem


def test_ivf_index_partition_pruning(spark, tmp_path):
    """build_ivf_index persists the list assignment once; query_ivf_index
    must read it with PartitionFilters on list_id and agree with the
    ad-hoc ivf_topk on the same (n_lists, nprobe, seed)."""
    import io
    import contextlib

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    corpus = emb.where(F.col("vec_id") != 0)
    q = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    path = str(tmp_path / "ivf_index")

    cents = ann.build_ivf_index(corpus, path, n_lists=16, seed=42)
    assert cents.shape[0] == 16

    out = ann.query_ivf_index(spark, path, q, k=10, nprobe=4)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain(True)
    plan = buf.getvalue()
    assert "PartitionFilters: [" in plan and "list_id#" in plan, plan[-2000:]

    got = [r.vec_id for r in out.collect()]
    adhoc = [r.vec_id for r in
             ann.ivf_topk(corpus, q, k=10, n_lists=16, nprobe=4,
                          seed=42).collect()]
    assert got == adhoc

    # centroid-read path and pass-through path agree
    got2 = [r.vec_id for r in
            ann.query_ivf_index(spark, path, q, k=10, nprobe=4,
                                centroids=cents).collect()]
    assert got2 == got


def test_all_pairs_near_dup_hot_bucket_salted(spark):
    """VERDICT r3 hazard fix: a hot sign bucket must be split by the same
    salted/capped discipline as blocking.candidate_pairs, with exact
    dropped-pair lineage — never a silent quadratic self-join."""
    from dataclasses import replace

    import numpy as np

    from healthcare_entity_resolution_spark.config import DEFAULT_CONFIG
    from healthcare_entity_resolution_spark.plans.lineage import LineageLog

    rng = np.random.default_rng(11)
    base = np.abs(rng.standard_normal(8)) + 0.1  # all-positive -> one bucket
    rows = [(i, (base * (1.0 + 0.001 * i)).tolist()) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cfg = replace(DEFAULT_CONFIG, max_block_size=20)
    lin = LineageLog()
    out = ann.all_pairs_near_duplicates(emb, threshold=0.95, cfg=cfg, lineage=lin)
    n = out.count()
    full = 60 * 59 // 2
    assert 0 < n < full  # truncated, not quadratic
    ev = [e for e in lin.events if e["stage"] == "blocking.salting"][0]
    assert ev["pairs_dropped"] + ev["pairs_kept"] == full  # exact accounting
    assert ev["hot_blocks"] == 1


def test_all_pairs_near_dup_recall_vs_brute_force(spark):
    """Auto-sized n_planes default path: recall >= 0.9 against the exact
    all-pairs ground truth on sign-stable synthetic clusters."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows, truth = [], set()
    vid = 0
    for _c in range(4):
        base = rng.standard_normal(16)
        ids = []
        for _i in range(10):
            v = base * (1.0 + 0.02 * rng.random(16))  # same signs, cosine ~ 1
            rows.append((vid, v.tolist()))
            ids.append(vid)
            vid += 1
        truth |= {(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]}
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    found = {
        (r.id_1, r.id_2)
        for r in ann.all_pairs_near_duplicates(emb, threshold=0.95).collect()
    }
    assert len(found & truth) / len(truth) >= 0.9
    # no false positives across clusters at this threshold
    assert not (found - truth)


def test_ngram_jaccard_hot_block_salted(spark):
    """ngram candidates go through the salted candidate_pairs discipline:
    a hot block is split with exact dropped-pair lineage, and the final
    plan consumes id-only checkpointed pairs (gram arrays join back only
    after pair generation)."""
    import contextlib
    import io
    from dataclasses import replace

    from healthcare_entity_resolution_spark.plans.lineage import LineageLog

    rows = [(i, "alpha beta gamma delta epsilon zeta", "en") for i in range(40)]
    df = spark.createDataFrame(rows, "id long, text string, lang string")
    cfg = replace(ResolutionConfig(), max_block_size=10)
    lin = LineageLog()
    out = D.ngram_jaccard_pairs(df, "id", "text", ["lang"], cfg=cfg, lineage=lin)
    n = out.count()
    full = 40 * 39 // 2
    assert 0 < n < full  # truncated, not quadratic
    ev = [e for e in lin.events if e["stage"] == "blocking.salting"][0]
    assert ev["pairs_dropped"] + ev["pairs_kept"] == full  # exact accounting
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain(True)
    # candidates come from the checkpointed id-only pair frame; the gram
    # arrays appear only in the post-pair join-back
    assert "Scan ExistingRDD" in buf.getvalue()


def test_curate_near_dedup_logs_salting(spark):
    """curate_corpus's near-dup stage passes its lineage to the band
    self-join: hot MinHash bands are salted and the exact pair drop lands
    in the caller's log, not in a discarded one."""
    from collections import Counter
    from dataclasses import replace

    from healthcare_entity_resolution_spark.operators import curate as C
    from healthcare_entity_resolution_spark.plans.lineage import LineageLog

    base = ("the quick brown fox jumps over the lazy dog and runs far away "
            "into the deep green forest while the sun is setting slowly")
    rows = [(i, f"{base} {i}") for i in range(12)]  # 12 near-identical docs
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cfg = replace(ResolutionConfig(), max_block_size=3)
    lin = LineageLog()
    res = C.curate_corpus(df, cfg=cfg, lineage=lin, min_quality=0.0, max_pii=None)
    salting = [e for e in lin.events if e["stage"] == "blocking.salting"]
    assert len(salting) == 1
    ev = salting[0]
    # exact accounting against the band blocks computed independently
    sizes = Counter(
        b for r in D.minhash_doc_state(df, "doc_id", "text", cfg).collect()
        for b in r["_bands"]
    )
    hot = [n for n in sizes.values() if n > cfg.max_block_size]
    assert hot and ev["hot_blocks"] == len(hot)
    assert ev["pairs_dropped"] > 0
    assert ev["pairs_dropped"] + ev["pairs_kept"] == sum(n * (n - 1) // 2 for n in hot)


def test_ivf_index_append_and_replay(spark, tmp_path):
    """append_ivf_index assigns new vectors to the EXISTING centroids and
    appends only their list partitions; post-append queries (still
    partition-pruned) see the new vectors with full-probe parity, and a
    replayed append is harmless (query-side id dedup)."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    base = emb.where((F.col("vec_id") != 0) & (F.col("vec_id") < 400))
    late = emb.where(F.col("vec_id") >= 400)
    q = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    path = str(tmp_path / "ivf_index")

    cents = ann.build_ivf_index(base, path, n_lists=16, seed=42)
    returned = ann.append_ivf_index(late, path)  # centroids read from disk
    assert (returned == cents).all()  # append must reuse, never re-fit

    # full probe (nprobe=16) == brute force over base+late: the appended
    # vectors are reachable through their assigned lists
    got = [r.vec_id for r in
           ann.query_ivf_index(spark, path, q, k=10, nprobe=16).collect()]
    brute = [r.vec_id for r in
             ann.brute_force_topk(emb.where(F.col("vec_id") != 0), q, k=10)
             .collect()]
    assert got == brute

    # crash replay: appending the same batch again changes nothing
    ann.append_ivf_index(late, path, centroids=cents)
    again = [r.vec_id for r in
             ann.query_ivf_index(spark, path, q, k=10, nprobe=16).collect()]
    assert again == got
