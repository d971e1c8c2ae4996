import numpy as np

from healthcare_entity_resolution_spark.functions import text as tf


def test_jaccard_exact():
    a = tf.token_hashes("the quick brown fox")
    b = tf.token_hashes("the quick brown dog")
    assert tf.jaccard(a, b) == 0.6  # 3 shared / 5 union
    assert tf.jaccard(a, a) == 1.0
    assert tf.jaccard(a, np.empty(0, dtype=np.uint64)) == 0.0


def test_minhash_estimates_jaccard():
    rng = np.random.RandomState(0)
    base = [f"tok{i}" for i in range(200)]
    a = " ".join(base)
    b = " ".join(base[:160] + [f"x{i}" for i in range(40)])  # true J = 160/240
    sa = tf.minhash_signature(tf.token_hashes(a), num_perm=128)
    sb = tf.minhash_signature(tf.token_hashes(b), num_perm=128)
    est = float((sa == sb).mean())
    assert abs(est - 160 / 240) < 0.15


def test_minhash_deterministic():
    h = tf.token_hashes("alpha beta gamma")
    s1 = tf.minhash_signature(h, num_perm=64)
    s2 = tf.minhash_signature(h.copy(), num_perm=64)
    assert (s1 == s2).all()
    assert tf.lsh_band_keys(s1) == tf.lsh_band_keys(s2)


def test_lsh_identical_docs_share_all_bands():
    s = tf.minhash_signature(tf.token_hashes("one two three four five"), num_perm=64)
    keys = tf.lsh_band_keys(s, bands=16)
    assert len(set(keys)) == 16
    # the keys fill LongType band columns as they are: non-negative, < 2**63
    assert all(0 <= k < 2**63 for k in keys)


def test_simhash_near_duplicates_close():
    a = " ".join(f"w{i}" for i in range(100))
    b = " ".join(f"w{i}" for i in range(98)) + " zz yy"
    ha = tf.simhash64(tf.token_hashes(a))
    hb = tf.simhash64(tf.token_hashes(b))
    hc = tf.simhash64(tf.token_hashes(" ".join(f"q{i}" for i in range(100))))
    assert tf.hamming64(ha, hb) < tf.hamming64(ha, hc)


def test_tf_cosine_self_and_disjoint():
    h, c = tf.shingle_tf("hello world hello")
    assert tf.tf_cosine(h, c, h, c) == 1.0
    h2, c2 = tf.shingle_tf("zzzzzzqqqqqq")
    assert tf.tf_cosine(h, c, h2, c2) < 0.2


def test_shingle_hashes_vectorized_matches_naive():
    text = "abcdefg"
    got = set(tf.shingle_hashes(text, k=3).tolist())
    naive = set()
    b = text.encode()
    for i in range(len(b) - 2):
        naive.add(b[i] + (b[i + 1] << 8) + (b[i + 2] << 16))
    assert got == naive


def test_shingle_hashes_long_k_no_mass_collisions():
    """k > 8 regression: the old 1 << (j*8) weights silently wrapped the
    shift count past byte 7 (uint64 shift-by->=64 is undefined), collapsing
    long-shingle ids so badly that unrelated texts looked ~100% overlapping.
    The polynomial path must keep distinct windows distinct and unrelated
    texts (near-)disjoint, while the exact count matches substr windows."""
    import numpy as np

    text = "the quick brown fox jumps over the lazy dog"
    k = 20
    got = tf.shingle_hashes(text, k=k)
    n_windows = len({text[i:i + k] for i in range(len(text) - k + 1)})
    assert len(got) == n_windows  # no collisions within one doc

    other = tf.shingle_hashes("entirely different words appear in this one", k=k)
    assert len(np.intersect1d(got, other)) == 0

    # determinism + lowercase normalization preserved across the k>8 path
    assert np.array_equal(got, tf.shingle_hashes(text.upper(), k=k))


def test_rolling_fingerprint_stable():
    assert tf.rolling_fingerprint("some document text " * 10) == tf.rolling_fingerprint(
        "some document text " * 10
    )


def test_repetition_features_known_fixture(spark):
    """Gopher repetition gates on hand-computable documents."""
    from healthcare_entity_resolution_spark.operators import textstats as TS

    rows = [
        # 4 lines, 'aaa' repeated 3x: dup_line_frac = 2/4; line chars:
        # total = 3*3 + 2 = 11, dup chars = 2*3 = 6
        (0, "aaa\naaa\naaa\nbb"),
        # bigrams of "x y x y x": (x y)x2 (y x)x2 -> top 2/4
        (1, "x y x y x"),
        (2, "unique lines only\nno repeats here"),
        (3, "single"),          # 1 word: no bigrams -> 0.0
        (4, ""),                # empty -> all 0.0, n_lines 0
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           TS.repetition_features(df, "doc_id", "text").collect()}
    assert got[0]["dup_line_frac"] == 0.5
    assert got[0]["dup_line_char_frac"] == round(6 / 11, 6)
    assert got[1]["top_bigram_frac"] == 0.5
    assert got[2]["dup_line_frac"] == 0.0
    assert got[3]["n_lines"] == 1 and got[3]["top_bigram_frac"] == 0.0
    assert got[4]["n_lines"] == 0 and got[4]["dup_line_frac"] == 0.0


def test_repetition_features_duckdb_parity(spark, sf_small):
    """Value parity vs an exact DuckDB replay over the real documents table
    (same rigor as the driver oracle, run through the local harness)."""
    import sys

    sys.path.insert(0, "tests")
    from oracle_harness import compare, duck_con

    from healthcare_entity_resolution_spark.operators import textstats as TS

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    out = TS.repetition_features(docs, "doc_id", "text")
    sql = """
    WITH t AS (SELECT doc_id, trim(lower(text)) AS t FROM documents),
    lines AS (
      SELECT doc_id, trim(l) AS line
      FROM t, unnest(string_split(t, chr(10))) AS u(l)
      WHERE trim(l) <> ''
    ),
    per_line AS (SELECT doc_id, line, count(*) AS c FROM lines GROUP BY 1, 2),
    line_stats AS (
      SELECT doc_id, sum(c) AS n_lines, sum(c) - count(*) AS n_dup,
             sum(c * length(line)) AS chars, sum((c-1) * length(line)) AS dup_chars
      FROM per_line GROUP BY 1
    ),
    w AS (SELECT doc_id, string_split_regex(t, '\\s+') AS w FROM t),
    bigrams AS (
      SELECT doc_id, w[i] || ' ' || w[i+1] AS bg
      FROM w, unnest(range(1, len(w))) AS u(i)
      WHERE len(w) >= 2
    ),
    per_bg AS (SELECT doc_id, bg, count(*) AS c FROM bigrams GROUP BY 1, 2),
    bg_stats AS (SELECT doc_id, max(c) AS top_bg, sum(c) AS n_bg FROM per_bg GROUP BY 1)
    SELECT d.doc_id,
           coalesce(l.n_lines, 0)::BIGINT AS n_lines,
           round(coalesce(l.n_dup::DOUBLE / l.n_lines, 0), 6) AS dup_line_frac,
           round(coalesce(l.dup_chars::DOUBLE / l.chars, 0), 6) AS dup_line_char_frac,
           round(coalesce(b.top_bg::DOUBLE / b.n_bg, 0), 6) AS top_bigram_frac
    FROM documents d
    LEFT JOIN line_stats l USING (doc_id)
    LEFT JOIN bg_stats b USING (doc_id)
    """
    con = duck_con(sf_small)
    ok, msg = compare(out, con, sql, "repetition_features")
    assert ok, msg
