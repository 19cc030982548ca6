"""Training-data pipeline operators: text analysis, dedup family,
similarity search, multimodal plumbing."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from jio_spark.functions.text import (doc_fingerprint, language_id,
                                      quality_metrics, token_count_regex,
                                      token_count_ws, word_ngrams)
from jio_spark.operators.dedup import (dedup_exact, embedding_dup_pairs,
                                       exact_duplicates, minhash_lsh_pairs,
                                       ngram_jaccard_pairs, simhash_pairs,
                                       simhash64)
from jio_spark.operators.similarity import (brute_force_topk, ivf_topk,
                                            lsh_dup_pairs, lsh_topk)
from jio_spark.multimodal import (decode_image_stub, extract_features,
                                  frame_sample, media_metadata)


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base),                                    # exact dup of 1
        (3, base.replace("lazy", "sleepy")),          # near dup of 1
        (4, "completely different content about spark query engines"),
        (5, "  The QUICK brown fox jumps over the lazy dog again and again"),
        (6, "short text"),
        (7, None),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string") \
        .where(F.col("text").isNotNull())


def test_token_counts(spark):
    df = spark.createDataFrame([(1, "Hello, world! 42 tokens?")],
                               "id int, t string")
    r = df.select(token_count_ws(F.col("t")).alias("ws"),
                  token_count_regex(F.col("t")).alias("rx")).collect()[0]
    assert r["ws"] == 4
    assert r["rx"] == 7  # Hello , world ! 42 tokens ?


def test_ngrams(spark):
    df = spark.createDataFrame([(1, "a b c d"), (2, "a b")],
                               "id int, t string")
    rows = df.select("id", word_ngrams(F.col("t"), 3).alias("g")) \
        .orderBy("id").collect()
    assert rows[0]["g"] == ["a b c", "b c d"]
    assert rows[1]["g"] == []


def test_quality_metrics(spark):
    df = spark.createDataFrame(
        [(1, "The cat sat on the mat and it is fine."),
         (2, "x")],
        "id int, t string")
    m = quality_metrics(F.col("t"))
    rows = df.select("id", *[v.alias(k) for k, v in m.items()]) \
        .orderBy("id").collect()
    good, tiny = rows
    assert good["n_words"] == 10
    assert good["stopword_ratio"] > 0.2
    assert good["quality_score"] == 1.0
    assert tiny["quality_score"] == 0.0  # too short


def test_language_id(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog is that for it"),
         (2, "der hund und die katze ist nicht mit"),
         (3, "le chat est dans la maison pour les amis"),
         (4, "qqq zzz www")],
        "id int, t string")
    rows = {r["id"]: r["lang"] for r in
            df.select("id", language_id(F.col("t")).alias("lang"))
            .collect()}
    assert rows == {1: "en", 2: "de", 3: "fr", 4: "und"}


def test_exact_dedup(spark, docs):
    groups = exact_duplicates(docs).collect()
    # doc 1, 2 and 5 normalize to the same content (case/whitespace)
    assert len(groups) == 1
    assert groups[0]["doc_ids"] == [1, 2, 5]
    kept = dedup_exact(docs)
    ids = {r["doc_id"] for r in kept.collect()}
    assert ids == {1, 3, 4, 6}


def test_ngram_jaccard_pairs(spark, docs):
    pairs = ngram_jaccard_pairs(docs, threshold=0.5, n=3)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert got[(1, 2)] == 1.0
    assert (1, 3) in got and 0.5 <= got[(1, 3)] < 1.0
    assert (1, 4) not in got


def test_minhash_lsh_recall_on_near_dups(spark, docs):
    pairs = minhash_lsh_pairs(docs, threshold=0.5, n=3,
                              bands=16, rows_per_band=2)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # exact dups always collide in every band
    assert (1, 2) in got
    exact = {(r["id_a"], r["id_b"])
             for r in ngram_jaccard_pairs(docs, 0.5, 3).collect()}
    assert got <= exact  # verification step removes false positives


def test_minhash_hot_bucket_cap(spark, docs):
    # cap=1 drops every shared bucket -> no candidates survive; the
    # uncapped run is the recall reference
    uncapped = minhash_lsh_pairs(docs, threshold=0.5, n=3,
                                 bands=16, rows_per_band=2)
    assert uncapped.count() > 0
    capped = minhash_lsh_pairs(docs, threshold=0.5, n=3,
                               bands=16, rows_per_band=2,
                               max_bucket_size=1)
    assert capped.count() == 0
    # a generous cap changes nothing on this tiny corpus
    roomy = minhash_lsh_pairs(docs, threshold=0.5, n=3,
                              bands=16, rows_per_band=2,
                              max_bucket_size=100)
    assert ({tuple(r) for r in roomy.collect()}
            == {tuple(r) for r in uncapped.collect()})


def test_simhash(spark, docs):
    sigs = {r["doc_id"]: r["s"] for r in
            docs.select("doc_id",
                        simhash64(word_ngrams(F.col("text"), 2))
                        .alias("s")).collect()}
    assert sigs[1] == sigs[2]
    ham13 = bin((sigs[1] ^ sigs[3]) & (2**64 - 1)).count("1")
    ham14 = bin((sigs[1] ^ sigs[4]) & (2**64 - 1)).count("1")
    assert ham13 < ham14
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in simhash_pairs(docs, max_hamming=3, n=2).collect()}
    assert pairs[(1, 2)] == 0


def test_minhash_md5_mode_verifies_like_xxhash(spark, docs):
    """md5 signature mode changes candidate RECALL (different random
    permutations) but never verification: every emitted pair must carry
    the true Jaccard and clear the threshold, and exact dups always
    collide in every band in either mode."""
    exact = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(docs, 0.5, 3).collect()}
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in minhash_lsh_pairs(docs, threshold=0.5, n=3,
                                      bands=16, rows_per_band=2,
                                      hash_mode="md5").collect()}
    assert (1, 2) in got
    assert set(got) <= set(exact)
    for pair, j in got.items():
        assert j == exact[pair]


def test_simhash_md5_mode(spark, docs):
    sigs = {r["doc_id"]: r["s"] for r in
            docs.select("doc_id",
                        simhash64(word_ngrams(F.col("text"), 2), "md5")
                        .alias("s")).collect()}
    assert sigs[1] == sigs[2]  # identical shingle sets → identical hash
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in simhash_pairs(docs, max_hamming=3, n=2,
                                    hash_mode="md5").collect()}
    assert pairs[(1, 2)] == 0


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.RandomState(7)
    rows = []
    for i in range(40):
        base = rng.randn(16)
        rows.append((i, (base / np.linalg.norm(base))
                     .astype(np.float32).tolist()))
    # vec 40 = near-copy of vec 0
    v0 = np.array(rows[0][1]) + 0.01
    rows.append((40, (v0 / np.linalg.norm(v0)).astype(np.float32).tolist()))
    return spark.createDataFrame(rows, "vec_id int, embedding array<float>")


def test_embedding_dup_pairs(spark, vectors):
    pairs = embedding_dup_pairs(vectors, threshold=0.99).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(0, 40)}


def test_brute_force_topk(spark, vectors):
    queries = vectors.where(F.col("vec_id") == 0)
    top = brute_force_topk(vectors, queries, k=3).collect()
    assert [r["rank"] for r in top] == [1, 2, 3]
    assert top[0]["neighbor_id"] == 40  # the near-copy ranks first


def test_lsh_topk_contains_near_copy(spark, vectors):
    queries = vectors.where(F.col("vec_id") == 0)
    top = lsh_topk(vectors, queries, k=3, dim=16, tables=8, bits=4)
    rows = top.collect()
    assert rows and rows[0]["neighbor_id"] == 40


def test_lsh_dup_pairs(spark, vectors):
    """The LSH pair path must surface the planted near-copy, and every
    pair it emits must also pass the exact quadratic baseline."""
    got = {(r["id_a"], r["id_b"]) for r in
           lsh_dup_pairs(vectors, threshold=0.99, dim=16,
                         tables=8, bits=4).collect()}
    assert (0, 40) in got
    exact = {(r["id_a"], r["id_b"]) for r in
             embedding_dup_pairs(vectors, threshold=0.99).collect()}
    assert got <= exact


def test_ivf_topk(spark, vectors):
    queries = vectors.where(F.col("vec_id") == 0)
    top = ivf_topk(vectors, queries, k=3, n_centroids=4, nprobe=2).collect()
    assert top and top[0]["neighbor_id"] == 40


def test_multimodal_plumbing(spark):
    rows = [(1, bytearray(b"\xFF\xD8\xFF" + b"x" * 9000)),
            (2, bytearray(b"\x89PNG" + b"y" * 100)),
            (3, bytearray(b""))]
    df = spark.createDataFrame(rows, "id int, payload binary")
    meta = {r["id"]: r for r in
            media_metadata(df, "id", "payload").collect()}
    assert meta["1"]["kind"] == "image/jpeg"
    assert meta["2"]["kind"] == "image/png"
    assert meta["3"]["n_bytes"] == 0

    dec = {r["id"]: r for r in
           decode_image_stub(df, "id", "payload").collect()}
    assert dec["1"]["ok"] and dec["1"]["mean_pixel"] > 0
    assert not dec["3"]["ok"] and "requires" in dec["3"]["error"]

    feats = extract_features(df, "id", "payload", dim=8).collect()
    assert all(len(r["features"]) == 8 for r in feats)

    frames = frame_sample(df, "id", "payload", every_n_bytes=4096).collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r["id"], []).append(r["frame_idx"])
    assert by_id["1"] == [0, 1]  # 9003 bytes -> 2 frames


def test_simhash_hot_bucket_cap(spark):
    """Adversarial degenerate corpus: many near-empty docs share
    identical simhash chunks (one chunk bucket of size f -> f^2 candidate
    pairs). The max_bucket_size guard bounds the candidate join; a
    generous cap leaves results identical to the uncapped run."""
    n = 2000
    rows = [(i, "aa bb") for i in range(n)]          # all identical sims
    rows += [(n + 1, "the quick brown fox jumps over the lazy dog"),
             (n + 2, "the quick brown fox jumps over the lazy dog")]
    df = spark.createDataFrame(rows, "doc_id int, text string") \
              .repartition(8)
    capped = simhash_pairs(df, max_hamming=3, n=2, max_bucket_size=10)
    # every bucket the degenerate docs share holds 2000 > 10 members ->
    # dropped; only the two real near-dups (bucket size 2) survive
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert got == {(n + 1, n + 2)}
    # bounded work: the candidate frame itself stays tiny (the uncapped
    # run would enumerate ~2000^2/2 = 2M pairs)
    small = df.where((F.col("doc_id") >= n) | (F.col("doc_id") < 20))
    uncapped = simhash_pairs(small, max_hamming=3, n=2)
    roomy = simhash_pairs(small, max_hamming=3, n=2,
                          max_bucket_size=1000)
    assert ({tuple(r) for r in roomy.collect()}
            == {tuple(r) for r in uncapped.collect()})


def test_multimodal_real_decode(spark):
    """Real stdlib-only BMP/P6-PPM decode: synthesized payloads round-trip
    to the exact fixture pixel array; header dims and mean_pixel are
    value-pinned; compressed formats report the honest not-implemented
    error."""
    import numpy as np
    from jio_spark.multimodal import (decode_image, parse_bmp, parse_ppm,
                                      synth_bmp, synth_pixels, synth_ppm)
    # pure round-trips, bit-exact
    for seed in (0, 3, 17):
        assert np.array_equal(parse_bmp(synth_bmp(seed, 12, 9)),
                              synth_pixels(seed, 12, 9))
        assert np.array_equal(parse_ppm(synth_ppm(seed, 10, 7)),
                              synth_pixels(seed, 10, 7))
    # BMP row padding exercised: width 9 -> stride 28 != 27
    rows = [(1, bytearray(synth_bmp(1, 12, 9))),
            (2, bytearray(synth_ppm(2, 10, 7))),
            (3, bytearray(b"\xFF\xD8\xFF" + b"x" * 100)),   # jpeg
            (4, bytearray(b""))]
    df = spark.createDataFrame(rows, "id int, payload binary")
    dec = {r["id"]: r for r in
           decode_image(df, "id", "payload").collect()}
    assert (dec["1"]["height"], dec["1"]["width"]) == (12, 9)
    assert (dec["2"]["height"], dec["2"]["width"]) == (10, 7)
    exp1 = float(synth_pixels(1, 12, 9).mean())
    assert abs(dec["1"]["mean_pixel"] - exp1) < 1e-9
    assert dec["1"]["ok"] and dec["2"]["ok"]
    assert not dec["3"]["ok"] and "requires PIL" in dec["3"]["error"]
    assert not dec["4"]["ok"]


def test_ivf_join_assignment_matches_expr(spark, vectors):
    """The broadcast-join centroid assignment (>10^2-centroid variant)
    must produce bit-identical results to the literal-expression path on
    the same seeds: same doubles, same fold order, same (cos, -cid)
    tie-break."""
    q = vectors.where(F.col("vec_id") < 5)
    a = ivf_topk(vectors, q, k=4, n_centroids=6, nprobe=3,
                 assign="expr").collect()
    b = ivf_topk(vectors, q, k=4, n_centroids=6, nprobe=3,
                 assign="join").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_bmp_ppm_roundtrip_property():
    """Property: any (seed, h, w) fixture round-trips bit-exactly through
    the stdlib BMP and PPM codecs — covers every row-padding remainder
    (w*3 mod 4) and degenerate 1-pixel shapes. Pure numpy, no Spark."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from jio_spark.multimodal import (parse_bmp, parse_ppm, synth_bmp,
                                      synth_pixels, synth_ppm)

    @settings(max_examples=80, deadline=None, derandomize=True)
    @given(st.integers(0, 10**6), st.integers(1, 24), st.integers(1, 24))
    def check(seed, h, w):
        exp = synth_pixels(seed, h, w)
        assert np.array_equal(parse_bmp(synth_bmp(seed, h, w)), exp)
        assert np.array_equal(parse_ppm(synth_ppm(seed, h, w)), exp)

    check()


@pytest.fixture(scope="module")
def collision_corpus(spark):
    """Deterministic corpus sized so band collisions are likely in BOTH
    hash modes: 60 base docs (~40 words from a 50-word vocab), 15 exact
    duplicates, 10 one-word-changed near-dups (shingle Jaccard ≈ 0.87 →
    per-mode LSH recall ≈ 1-7e-6 at b=16,r=4). Ground truth has no
    borderline pairs, so the md5 and xxhash64 pair sets must coincide."""
    rng = np.random.RandomState(42)
    vocab = [f"w{i:02d}" for i in range(50)]
    rows = []
    for i in range(60):
        words = [vocab[j] for j in rng.randint(0, 50, size=40)]
        rows.append((i, " ".join(words)))
        if i < 15:
            rows.append((100 + i, " ".join(words)))          # exact dup
        if 20 <= i < 30:
            near = list(words)
            near[17] = "changed"
            rows.append((200 + i, " ".join(near)))           # near dup
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_minhash_mode_pair_sets_agree(spark, collision_corpus):
    """round-4 VERDICT #4: the bench/prod default (hash_mode='xxhash64')
    is never oracle-checked directly (DuckDB cannot replay xxhash64);
    pin that its PAIR SET — ids and exact verified Jaccard — equals the
    md5 mode's (which the DuckDB oracle does replay), so the fast path
    inherits the slow path's oracle evidence."""
    kw = dict(threshold=0.5, n=3, bands=16, rows_per_band=4)
    md5 = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in minhash_lsh_pairs(collision_corpus, hash_mode="md5",
                                      **kw).collect()}
    xxh = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in minhash_lsh_pairs(collision_corpus,
                                      hash_mode="xxhash64", **kw).collect()}
    assert set(md5) == set(xxh)
    assert md5 == xxh                      # verified Jaccard identical too
    # ground-truth spot checks: every exact dup and near dup present
    assert all((i, 100 + i) in md5 for i in range(15))
    assert all((i, 200 + i) in md5 for i in range(20, 30))


def test_simhash_mode_pair_sets_agree(spark, collision_corpus):
    """SimHash analog of the mode-equivalence pin. Hamming DISTANCES are
    family-specific (the one-word-changed near-dups measure anywhere from
    1 to 10 depending on the hash family — verified), so the assertion
    runs on the unambiguous subset: exact dups at distance 0 in every
    family, unrelated docs at ~32. Both modes must emit exactly the
    15 exact-dup pairs there."""
    corpus = collision_corpus.where(F.col("doc_id") < 200)
    expected = {(i, 100 + i) for i in range(15)}
    for mode in ("md5", "xxhash64"):
        got = {(r["id_a"], r["id_b"])
               for r in simhash_pairs(corpus, max_hamming=3, n=3,
                                      hash_mode=mode).collect()}
        assert got == expected, mode


def test_language_id_tie_breaks_ascending(spark):
    """One 'de' hit + one 'zh' hit: the tie must go to the ASCENDING
    language code ('de'), matching both the docstring and the DuckDB
    oracle's ascending CASE — the fold nests the last-iterated language
    outermost, so iteration order decides ties."""
    df = spark.createDataFrame([(1, "die shi4")], "id int, t string")
    assert df.select(language_id(F.col("t")).alias("l")) \
             .first()["l"] == "de"


def test_quality_mean_word_len_ignores_extra_whitespace(spark):
    """Whitespace-padded text must not trip the >12 mean-word-length
    penalty: mean word length counts non-whitespace chars per word, not
    every padding space."""
    t = "a" + " " * 30 + "b plus filler beyond the short-text gate"
    df = spark.createDataFrame([(1, t)], "id int, t string")
    m = quality_metrics(F.col("t"))
    row = df.select(m["mean_word_len"].alias("mwl"),
                    m["quality_score"].alias("q")).first()
    assert row["mwl"] < 6 and row["q"] == 1.0


def test_null_text_is_not_duplicate_content(spark):
    """md5(NULL) is NULL: grouping on it directly would pool every
    null-text doc into one phantom dup group and dedup_exact would
    silently DELETE all but one of them."""
    rows = [(1, "same text here"), (2, "same text here"),
            (10, None), (20, None), (30, None)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    groups = exact_duplicates(df).collect()
    assert len(groups) == 1 and groups[0]["doc_ids"] == [1, 2]
    kept = {r["doc_id"] for r in dedup_exact(df).collect()}
    assert kept == {1, 10, 20, 30}


def test_zero_norm_vectors_excluded_not_ansi_crash(spark):
    """An all-zero embedding has undefined cosine; under Spark 4's
    default ANSI mode the unguarded division raised DIVIDE_BY_ZERO and
    killed every similarity job over one degenerate row. Zero-norm rows
    are excluded instead — results over the healthy rows unchanged."""
    rng = np.random.RandomState(3)
    rows = []
    for i in range(12):
        v = rng.randn(8)
        rows.append((i, (v / np.linalg.norm(v))
                     .astype(np.float32).tolist()))
    v0 = np.array(rows[0][1]) + 0.01
    rows.append((40, (v0 / np.linalg.norm(v0))
                 .astype(np.float32).tolist()))
    rows.append((99, [0.0] * 8))          # the degenerate vector
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    queries = df.where(F.col("vec_id") == 0)
    top = brute_force_topk(df, queries, k=3).collect()
    assert top[0]["neighbor_id"] == 40
    assert all(r["neighbor_id"] != 99 for r in top)
    pairs = embedding_dup_pairs(df, threshold=0.99).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(0, 40)}
    ivf = ivf_topk(df, queries, k=3, n_centroids=3, nprobe=2).collect()
    assert ivf and ivf[0]["neighbor_id"] == 40
    dup = lsh_dup_pairs(df, threshold=0.99, dim=8, tables=8,
                        bits=3).collect()
    assert {(r["id_a"], r["id_b"]) for r in dup} <= {(0, 40)}
    # a zero-norm QUERY yields no rows rather than a crash
    zq = df.where(F.col("vec_id") == 99)
    assert brute_force_topk(df, zq, k=3).collect() == []


def test_ivf_empty_corpus_schema_follows_inputs(spark):
    """The empty-corpus early return must carry the INPUT id types: a
    string-keyed corpus's empty result must union with its non-empty
    results."""
    empty = spark.createDataFrame([],
                                  "vec_id string, embedding array<float>")
    q = spark.createDataFrame([("q1", [1.0, 0.0])],
                              "vec_id string, embedding array<float>")
    out = ivf_topk(empty, q, k=3)
    assert out.schema["query_id"].dataType.simpleString() == "string"
    assert out.schema["neighbor_id"].dataType.simpleString() == "string"
    assert out.count() == 0


def test_multimodal_null_payload_rows_skipped_not_crash(spark):
    """A NULL payload cell must not kill the task via bytes(None) in any
    of the stub paths (decode/resize/features/frames)."""
    from jio_spark.multimodal import resize_stub
    rows = [(1, bytearray(b"p" * 8192)), (2, None)]
    df = spark.createDataFrame(rows, "id int, payload binary")
    dec = {r["id"]: r for r in
           decode_image_stub(df, "id", "payload").collect()}
    assert dec["1"]["ok"] and not dec["2"]["ok"]
    assert dec["2"]["error"] == "null payload"
    assert {r["id"] for r in
            resize_stub(df, "id", "payload", 8, 8).collect()} == {"1"}
    assert {r["id"] for r in
            extract_features(df, "id", "payload").collect()} == {"1"}
    assert {r["id"] for r in
            frame_sample(df, "id", "payload").collect()} == {"1"}


def test_quality_score_null_text_is_null_not_best(spark):
    """NULL text must score NULL, not 1.0: every penalty WHEN condition
    is NULL for NULL input and otherwise() would award it the best
    score while '' correctly scores 0.0 — a quality filter would then
    keep every null-text document as top quality."""
    from jio_spark.functions.text import quality_metrics
    df = spark.createDataFrame(
        [("a", None), ("b", ""), ("c", "x" * 30 + " good plain text")],
        "doc_id string, text string")
    m = quality_metrics(F.col("text"))
    rows = {r["doc_id"]: r["q"] for r in
            df.select("doc_id", m["quality_score"].alias("q")).collect()}
    assert rows["a"] is None
    assert rows["b"] == 0.0
    assert rows["c"] == 1.0


def test_dedup_exact_never_deletes_null_id_groups(spark):
    """A duplicate-content group whose ids are ALL null: min(id) is NULL
    and a plain equi semi join on NULL matches nothing — the whole
    group's content silently vanished. The null-safe join keeps those
    rows; a null-id row in a MIXED group is still deduped away (it has
    a surviving representative)."""
    from jio_spark.operators.dedup import dedup_exact
    df = spark.createDataFrame(
        [(None, "same text here"), (None, "same text here"),
         (None, None), (None, None),
         ("d1", "other text"), (None, "other text"),
         ("d2", "third text"), ("d3", "third text")],
        "doc_id string, text string")
    out = [(r["doc_id"], r["text"]) for r in dedup_exact(df).collect()]
    # all-null-id duplicate group: rows retained (no identity to pick a
    # survivor by), never deleted
    assert out.count((None, "same text here")) == 2
    # null-TEXT rows with null ids: also retained
    assert out.count((None, None)) == 2
    # mixed group: the non-null id survives, the null-id copy deduped
    assert ("d1", "other text") in out
    assert (None, "other text") not in out
    # plain dedup still works
    assert ("d2", "third text") in out and ("d3", "third text") not in out


def test_lsh_dim_mismatch_raises_not_bucket0(spark):
    """An embedding whose length != dim used to dot against the padded
    hyperplane as NULL, land every vector in bucket 0 of every table,
    and silently turn the sub-linear bucket join quadratic. It raises
    mid-job now."""
    import pyspark.errors
    from jio_spark.operators.similarity import lsh_topk
    df = spark.createDataFrame(
        [("v1", [1.0, 2.0, 3.0]), ("v2", [2.0, 1.0, 0.5])],
        "vec_id string, embedding array<double>")
    with pytest.raises(Exception, match="lsh: embedding length"):
        lsh_topk(df, df.limit(1), k=1, dim=64).collect()
    # the matching dim works
    assert lsh_topk(df, df.limit(1), k=1, dim=3,
                    exclude_self=False).count() >= 1


def test_hash_mode_typo_fails_loudly(spark, docs):
    from jio_spark.operators.dedup import (minhash_lsh_pairs,
                                           simhash_pairs)
    with pytest.raises(ValueError, match="hash_mode"):
        minhash_lsh_pairs(docs, hash_mode="MD5")
    with pytest.raises(ValueError, match="hash_mode"):
        simhash_pairs(docs, hash_mode="md-5")


def test_media_kind_riff_form_types(spark):
    """RIFF is a container: the form type at bytes 9-12 decides the
    kind — WebP images and AVI videos must not route to the audio
    decode path as 'audio/wav'."""
    from jio_spark.multimodal.binary import media_metadata
    rows = [("wav", b"RIFF\x10\x00\x00\x00WAVEdata"),
            ("webp", b"RIFF\x10\x00\x00\x00WEBPVP8 "),
            ("avi", b"RIFF\x10\x00\x00\x00AVI LIST"),
            ("odd", b"RIFF\x10\x00\x00\x00XXXXdata"),
            ("bmp", b"BM\x36\x00\x00\x00rest")]
    df = spark.createDataFrame(rows, "id string, bytes binary")
    kinds = {r["id"]: r["kind"]
             for r in media_metadata(df, "id", "bytes").collect()}
    assert kinds == {"wav": "audio/wav", "webp": "image/webp",
                     "avi": "video/avi", "odd": "application/riff",
                     "bmp": "image/bmp"}


def test_multimodal_null_id_stays_null_and_empty_payload_no_frames(spark):
    """pandas astype(str) renders SQL NULL as the literal string 'None',
    conflating every null-id row under one fake id; and a zero-length
    payload must sample zero frames, not one empty phantom frame."""
    from jio_spark.multimodal.binary import (decode_image, frame_sample,
                                             synth_bmp)
    df = spark.createDataFrame(
        [(None, bytearray(synth_bmp(1))), ("i2", bytearray(synth_bmp(2))),
         ("i3", bytearray(b""))],
        "img_id string, bytes binary")
    dec = decode_image(df, "img_id", "bytes").collect()
    assert {r["id"] for r in dec} == {None, "i2", "i3"}
    frames = frame_sample(df, "img_id", "bytes", max_frames=3,
                          every_n_bytes=64).collect()
    ids = {r["id"] for r in frames}
    assert None in ids and "i2" in ids
    assert "i3" not in ids and "None" not in ids
    assert all(len(r["frame"]) > 0 for r in frames)


def test_fingerprint_edge_tabs_newlines_normalize(spark):
    """doc_fingerprint must give ONE fingerprint for content identical up
    to edge whitespace: F.trim strips only ASCII spaces, so the original
    trim-BEFORE-collapse order left '\\thello world' and 'hello world\\n'
    with a leading/trailing space after the \\s+ collapse — three
    fingerprints for one document, and dedup_exact never pooled them.
    Trim-after-collapse (both engine and oracle) closes it."""
    import hashlib
    rows = [(1, "hello world"), (2, "\thello world"), (3, "hello world\n"),
            (4, "  Hello\t\nWORLD  "), (5, "different")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: r["fp"] for r in
           df.select("doc_id",
                     doc_fingerprint(F.col("text")).alias("fp")).collect()}
    want = hashlib.md5(b"hello world").hexdigest()
    assert got[1] == got[2] == got[3] == got[4] == want
    assert got[5] != want
    # and the exact-dup operator now pools the edge-whitespace variants
    groups = exact_duplicates(df).collect()
    assert len(groups) == 1 and groups[0]["doc_ids"] == [1, 2, 3, 4]
