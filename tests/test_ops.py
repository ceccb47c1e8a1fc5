"""Invariant tests for the training-data pipeline operators."""

from pyspark.sql import functions as F

from dragnet_spark.ops.dedup import (
    dedup_keep_first,
    exact_dup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash64,
    simhash_hamming,
)
from dragnet_spark.ops.multimodal import attach_payloads, extract_features
from dragnet_spark.ops.similarity import cosine_topk, cosine_topk_blocked
from dragnet_spark.ops.text import lang_id, token_count
from dragnet_spark.sources.tables import load_table

from tests.conftest import duck_set, rows_set


def test_exact_dedup_finds_planted_dups(spark):
    df = spark.createDataFrame(
        [(1, "hello  world"), (2, "Hello world"), (3, "different doc")],
        "doc_id long, text string",
    )
    got = {(r.keep_id, r.n_dupes) for r in exact_dup_groups(df, "text", "doc_id").collect()}
    # 1 and 2 normalize identically (case + whitespace)
    assert got == {(1, 2), (3, 1)}


def test_dedup_keep_first(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d"), (3, "x y z w")], "doc_id long, text string"
    )
    pairs = ngram_jaccard_pairs(df, "text", "doc_id", threshold=0.9)
    kept = dedup_keep_first(pairs, df, "doc_id")
    assert sorted(r.doc_id for r in kept.collect()) == [1, 3]


def test_containment_catches_quote_jaccard_misses(spark):
    from dragnet_spark.ops.dedup import containment_pairs

    quote = "alpha beta gamma delta epsilon zeta"
    page = quote + " " + " ".join(f"filler{i} pad{i} word{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, quote), (2, page), (3, "unrelated totally different stuff here")],
        "doc_id long, text string",
    )
    # the quote's 4 3-shingles are all inside the page → containment 1.0
    # one direction only; Jaccard on the same pair is tiny
    got = {
        (r.contained_id, r.container_id, r.containment)
        for r in containment_pairs(df, "text", "doc_id", threshold=0.9).collect()
    }
    assert got == {(1, 2, 1.0)}
    jac = rows_set(ngram_jaccard_pairs(df, "text", "doc_id", threshold=0.5))
    assert not jac  # symmetric measure misses the partial copy


def test_bigram_logprob_catches_word_salad(spark):
    from dragnet_spark.ops.text import bigram_logprob, unigram_logprob

    fluent = "the cat sat on the mat and the dog sat on the rug"
    # same token MULTISET, scrambled order: unigram-identical word salad
    salad = "on the the sat rug cat mat dog the and on sat the"
    corpus = [(i, fluent) for i in range(8)] + [(8, salad)]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    uni = {r.doc_id: r.mean_logp for r in unigram_logprob(df).collect()}
    assert uni[8] == uni[0]  # unigram gate is blind to word order
    bi = {r.doc_id: r.mean_logp for r in bigram_logprob(df).collect()}
    assert bi[8] < bi[0] - 0.5  # bigram gate craters on the salad
    n = {r.doc_id: r.n_bigrams for r in bigram_logprob(df).collect()}
    assert n[0] == len(fluent.split()) - 1


def test_lsh_pairs_subset_of_exact(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(120)
    exact = rows_set(ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.8))
    lsh = rows_set(
        minhash_lsh_pairs(docs, "text", "doc_id", num_hashes=16, bands=8, threshold=0.8)
    )
    # LSH verifies candidates with the exact measure → always a subset;
    # at j>=0.8 with r=2,b=8 recall is ~1-(1-0.8^2)^8 ≈ 0.9998
    assert lsh <= exact
    if exact:
        assert len(lsh) / len(exact) > 0.95


def test_lsh_verify_semi_bit_identical(spark, sf_dir):
    """The semi-filtered verify join (the ≥256 MB auto-route; the 10⁴
    tier's disk-death fix) emits exactly the direct form's pairs —
    docs absent from every candidate pair can't contribute."""
    docs = load_table(spark, sf_dir, "documents").limit(200)
    flat = rows_set(
        minhash_lsh_pairs(docs, "text", "doc_id", verify_semi=False)
    )
    semi = rows_set(
        minhash_lsh_pairs(docs, "text", "doc_id", verify_semi=True)
    )
    assert flat == semi
    assert flat  # non-vacuous: the corpus plants near-dups


def test_lsh_verify_semi_autoroute(spark, sf_dir):
    from dragnet_spark.ops.dedup import (
        MINHASH_SEMI_VERIFY_MIN_BYTES,
        _relation_bytes,
    )

    docs = load_table(spark, sf_dir, "documents")
    # the small graded tiers route to the direct form; the boundary
    # sits between the 100x and 1000x corpora by design
    assert 0 < _relation_bytes(docs) < MINHASH_SEMI_VERIFY_MIN_BYTES


def test_simhash_similar_docs_close(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy cat again and again"),
            (3, "completely unrelated words about database query engines here"),
        ],
        "doc_id long, text string",
    )
    sh = df.select("doc_id", simhash64("text").alias("h"))
    a = sh.alias("a")
    b = sh.alias("b")
    d = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("ia"),
            F.col("b.doc_id").alias("ib"),
            simhash_hamming(F.col("a.h"), F.col("b.h")).alias("ham"),
        )
        .collect()
    )
    dist = {(r.ia, r.ib): r.ham for r in d}
    assert dist[(1, 2)] < dist[(1, 3)]
    assert dist[(1, 2)] < dist[(2, 3)]


def test_lang_id_on_clear_text(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog went to the house that is red"),
            (2, "der Hund und die Katze sind nicht zu Hause"),
            (3, "le chat et le chien sont dans la maison"),
            (4, "zzz qqq www"),
        ],
        "id long, text string",
    )
    got = {r.id: r.lang for r in df.select("id", lang_id("text").alias("lang")).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "unknown"}


def test_token_count(spark):
    df = spark.createDataFrame([(1, "  a  b   c "), (2, "one")], "id long, text string")
    got = {r.id: r.n for r in df.select("id", token_count("text").alias("n")).collect()}
    assert got == {1: 3, 2: 1}


def test_blocked_equals_expression_topk(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    a = rows_set(cosine_topk(emb, q, k=5))
    b = rows_set(cosine_topk_blocked(emb, q, k=5))
    assert a == b


def test_topk_structure(spark, sf_dir):
    """(labels in the synthetic embeddings are geometrically random, so
    invariants are structural: k rows per query, valid rank/order,
    cosine in [-1,1], no self-matches)"""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    rows = cosine_topk(emb, q, k=5).collect()
    assert len(rows) == 50
    by_q = {}
    for r in rows:
        assert r.neighbor_id != r.query_id
        assert -1.000001 <= r.score <= 1.000001
        by_q.setdefault(r.query_id, []).append((r.rank, r.score))
    for ranked in by_q.values():
        ranked.sort()
        assert [rk for rk, _ in ranked] == [1, 2, 3, 4, 5]
        scores = [s for _, s in ranked]
        assert scores == sorted(scores, reverse=True)


def test_multimodal_features_deterministic(spark):
    df = spark.createDataFrame([(1, "abc"), (2, "xyz")], "doc_id long, text string")
    media = attach_payloads(df, "text", "doc_id")
    f1 = extract_features(media).collect()
    f2 = extract_features(media).collect()
    assert sorted(map(str, f1)) == sorted(map(str, f2))
    row = {r.id: r for r in f1}
    assert row[1].n_bytes == 3
    assert len(row[1].features) == 8
    assert all(0 <= v < 1 for v in row[1].features)


def test_multimodal_real_raises_for_codec_formats(spark):
    # doc_id=2 → media_type video/mp4: no stdlib decoder exists, so the
    # real path must fail loudly, not fabricate features
    df = spark.createDataFrame([(2, "abc")], "doc_id long, text string")
    media = attach_payloads(df, "text", "doc_id")
    import pytest as _pytest

    with _pytest.raises(Exception, match="no native decoder"):
        extract_features(media, decode_stub=False).collect()


def test_embedding_near_dup_exact_matches_oracle(spark, sf_dir, oracle):
    from dragnet_spark.ops.dedup import embedding_near_dup_pairs
    from dragnet_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    got = rows_set(embedding_near_dup_pairs(emb, threshold=0.42))
    cos = (
        "round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), "
        "CAST(b.embedding AS DOUBLE[])), 6)"
    )
    want = duck_set(
        oracle,
        f"""SELECT a.vec_id, b.vec_id, {cos} FROM embeddings a
            JOIN embeddings b ON a.vec_id < b.vec_id WHERE {cos} >= 0.42""",
    )
    assert got == want and got


def test_embedding_near_dup_pairs_skips_null_ids(spark):
    """A null ``vec_id`` pairs with nothing, as in the SQL twin's
    ``a.vec_id < b.vec_id``: the corpus answers exactly the pairs of
    its non-null rows."""
    from dragnet_spark.ops.dedup import embedding_near_dup_pairs

    rows = [
        (1, [1.0, 0.0]), (None, [1.0, 0.01]), (2, [1.0, 0.02]),
        (3, [0.0, 1.0]), (4, [0.01, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = rows_set(embedding_near_dup_pairs(df, threshold=0.9))
    want = rows_set(
        embedding_near_dup_pairs(df.where("vec_id IS NOT NULL"), threshold=0.9)
    )
    assert got == want == {(1, 2, 0.9998), (3, 4, 0.99995)}


def test_embedding_near_dup_lsh_matches_exact(spark):
    """Clustered vectors with small noise: LSH-bucketed candidates +
    exact verification must reproduce the exact all-pairs result."""
    import numpy as np

    from dragnet_spark.ops.dedup import (
        embedding_near_dup_lsh,
        embedding_near_dup_pairs,
    )

    rng = np.random.RandomState(7)
    centers = rng.standard_normal((6, 32))
    rows = []
    for i in range(60):
        c = centers[i % 6]
        v = c + 0.05 * rng.standard_normal(32)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    exact = rows_set(embedding_near_dup_pairs(df, threshold=0.9))
    lsh = rows_set(
        embedding_near_dup_lsh(df, threshold=0.9, dims=32, bits_per_band=4, bands=16)
    )
    assert exact  # clusters genuinely produce near-dups
    assert lsh == exact


def test_salted_count_distinct_matches_exact(spark, sf_dir):
    from dragnet_spark.ops.skew import salted_count_distinct

    events = load_table(spark, sf_dir, "events")
    got = rows_set(
        salted_count_distinct(events, ["event_type"], "user_id", salt=8)
    )
    want = rows_set(
        events.groupBy("event_type").agg(
            F.count_distinct("user_id").cast("long").alias("n_distinct")
        )
    )
    assert got == want and got


def test_salted_top_values_matches_window_topn(spark, sf_dir):
    from pyspark.sql import Window as W

    from dragnet_spark.ops.skew import salted_top_values

    events = load_table(spark, sf_dir, "events")
    got = rows_set(
        salted_top_values(events, ["event_type"], "user_id", n=5, salt=8)
    )
    per = events.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("weight")
    )
    w = W.partitionBy("event_type").orderBy(F.desc("weight"), F.asc("user_id"))
    want = rows_set(
        per.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("event_type", F.col("user_id").alias("value"), "weight", "rank")
    )
    assert got == want and got


def test_ivf_topk_exhaustive_probes_match_exact(spark, sf_dir):
    """IVF with n_probe == n_centroids is exhaustive: identical to the
    brute-force exact top-k."""
    from dragnet_spark.ops.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    exact = rows_set(cosine_topk(emb, q, k=3))
    ivf = rows_set(ivf_topk(emb, q, k=3, n_centroids=8, n_probe=8))
    assert ivf == exact and ivf


def test_ivf_topk_high_recall_on_clustered_data(spark):
    """On genuinely clustered vectors, probing a quarter of the cells
    recovers nearly all true neighbors (the IVF working regime)."""
    import numpy as np

    from dragnet_spark.ops.similarity import ivf_topk

    rng = np.random.RandomState(3)
    centers = rng.standard_normal((8, 32)) * 3
    rows = []
    for i in range(400):
        v = centers[i % 8] + 0.2 * rng.standard_normal(32)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") < 8)

    exact = rows_set(cosine_topk(df, q, k=5))
    ivf = rows_set(ivf_topk(df, q, k=5, n_centroids=8, n_probe=2))
    exact_pairs = {(r[0], r[1]) for r in exact}
    ivf_pairs = {(r[0], r[1]) for r in ivf}
    recall = len(exact_pairs & ivf_pairs) / len(exact_pairs)
    assert recall >= 0.9


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """Both sides bucketed by the join key → the join plan contains no
    shuffle Exchange; results match the plain join."""
    from dragnet_spark.ops.bucketing import (
        bucketed_join,
        exchange_count,
        write_bucketed,
    )

    spark.sql(f"CREATE DATABASE IF NOT EXISTS bdemo LOCATION '{tmp_path}/wh'")
    try:
        orders = load_table(spark, sf_dir, "orders")
        li = load_table(spark, sf_dir, "lineitem")
        write_bucketed(orders, "bdemo.orders_b", "o_orderkey", num_buckets=8)
        write_bucketed(
            li.withColumnRenamed("l_orderkey", "o_orderkey"),
            "bdemo.lineitem_b",
            "o_orderkey",
            num_buckets=8,
        )
        j = bucketed_join(spark, "bdemo.orders_b", "bdemo.lineitem_b", "o_orderkey")
        agg = j.groupBy("o_orderkey").count()
        assert exchange_count(agg) == 0  # join AND keyed agg reuse bucketing
        want = (
            orders.join(li, orders.o_orderkey == li.l_orderkey).count()
        )
        assert j.count() == want
    finally:
        spark.sql("DROP DATABASE IF EXISTS bdemo CASCADE")


def test_winnow_detects_partial_overlap(spark):
    """A paragraph copied between otherwise-different documents must
    surface as a high-n_shared pair; unrelated docs must not."""
    from dragnet_spark.ops.dedup import winnow_overlap_pairs

    para = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, f"completely original text one about databases. {para}"),
        (2, f"{para} followed by other unrelated musings on compilers"),
        (3, "nothing in common with anything else here at all friends"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in winnow_overlap_pairs(df, "text", "doc_id", min_shared=3).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 5
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_winnow_matches_duckdb_oracle(spark):
    """Spark winnowing fingerprints agree with the SQL twin pairwise.
    (Runs on a small diverse corpus: the driver testdata's 30-word
    vocabulary makes common k-grams collide corpus-wide, which is the
    operator's documented worst case, not a correctness question.)"""
    import duckdb

    from dragnet_spark.ops.dedup import winnow_overlap_pairs
    from dragnet_spark.ops.text import winnow_fingerprints_sql

    import random

    rng = random.Random(11)
    words = [f"w{i}{chr(97 + i % 26)}" for i in range(400)]
    rows = []
    shared = " ".join(rng.choice(words) for _ in range(12))
    for i in range(40):
        body = " ".join(rng.choice(words) for _ in range(30))
        text = f"{body} {shared}" if i % 5 == 0 else body
        rows.append((i, text))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = rows_set(winnow_overlap_pairs(df, "text", "doc_id", min_shared=4))

    con = duckdb.connect()
    import pandas as pd

    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    fps = winnow_fingerprints_sql("text")
    want = duck_set(
        con,
        f"""
        WITH f AS (SELECT doc_id AS id, u.fp
                   FROM documents, UNNEST({fps}) AS u(fp))
        SELECT a.id, b.id, CAST(COUNT(*) AS BIGINT)
        FROM f a JOIN f b ON a.fp = b.fp AND a.id < b.id
        GROUP BY a.id, b.id HAVING COUNT(*) >= 4
        """,
    )
    assert got == want and got


def test_multimodal_resize_invariants(spark):
    """Resize stub: only images pass through, meta reflects the target,
    payload size shrinks by the pixel ratio (never grows), output is
    deterministic."""
    from dragnet_spark.ops.multimodal import attach_payloads, resize_media

    docs = spark.createDataFrame(
        [(i, "x" * (100 + i)) for i in range(12)], "doc_id long, text string"
    )
    media = attach_payloads(docs, "text", "doc_id")
    out = resize_media(media, target_width=10, target_height=1)
    rows = out.collect()
    n_images = media.filter("media_type = 'image/png'").count()
    assert len(rows) == n_images and n_images > 0
    for r in rows:
        assert (r["width"], r["height"]) == (10, 1)
        src_len = 100 + r["id"]
        assert 1 <= len(r["payload"]) <= src_len
    again = {r["id"]: bytes(r["payload"]) for r in out.collect()}
    assert again == {r["id"]: bytes(r["payload"]) for r in rows}


def test_multimodal_resize_real_rejects_undecodable(spark):
    from dragnet_spark.ops.multimodal import attach_payloads, resize_media

    # real path decodes for real: a payload that isn't actually the
    # declared format must fail loudly, not silently produce a fake
    # resized blob. attach_payloads tags doc 0 image/png → the PNG
    # decoder rejects its utf-8 text payload; a bogus image/bmp row
    # hits the BMP decoder the same way.
    docs = spark.createDataFrame([(0, "abc")], "doc_id long, text string")
    media = attach_payloads(docs, "text", "doc_id")
    import pytest as _pytest

    with _pytest.raises(Exception, match="not a PNG"):
        resize_media(media, 8, 8, decode_stub=False).collect()
    bmp_claim = media.withColumn("media_type", F.lit("image/bmp"))
    with _pytest.raises(Exception, match="not a BMP"):
        resize_media(bmp_claim, 8, 8, decode_stub=False).collect()


def test_fuzzy_key_pairs_edit_cases(spark):
    """Deletion-neighborhood blocking finds exactly the distance<=1
    pairs: substitution, insertion, deletion, identical — and rejects
    distance-2 lookalikes (incl. transpositions, which DO share a
    deletion variant and must die in verification)."""
    from dragnet_spark.ops.dedup import fuzzy_key_pairs

    keys = ["kitten", "mitten", "kitte", "kittens", "kitten",
            "iktten", "banana", ""]
    rows = [(i, k) for i, k in enumerate(keys)]

    def lev(a, b):
        d = list(range(len(b) + 1))
        for i_, ca in enumerate(a, 1):
            prev, d[0] = d[0], i_
            for j, cb in enumerate(b, 1):
                prev, d[j] = d[j], min(d[j] + 1, d[j - 1] + 1,
                                       prev + (ca != cb))
        return d[len(b)]

    want = {
        (i, j): lev(a, b)
        for i, a in enumerate(keys)
        for j, b in enumerate(keys)
        if i < j and lev(a, b) <= 1
    }
    assert ("kitten", "iktten") not in want  # transposition is dist 2

    df = spark.createDataFrame(rows, "id long, key string")
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in fuzzy_key_pairs(df, "key", "id").collect()
    }
    assert got == want


def test_chunk_token_windows_boundaries(spark):
    """Short docs give one chunk; longer docs overlap by size-stride;
    the tail chunk may be short but is never empty or duplicated."""
    from dragnet_spark.ops.text import chunk_token_windows

    words = " ".join(f"w{i}" for i in range(12))
    df = spark.createDataFrame(
        [(1, "only three words"), (2, words)], "doc_id long, text string"
    )
    got = {
        (r["doc_id"], r["chunk_id"]): (r["n_tokens"], r["chunk"])
        for r in chunk_token_windows(df, "text", "doc_id", size=5, stride=4).collect()
    }
    assert got[(1, 0)] == (3, "only three words")
    assert (1, 1) not in got
    # doc 2: 12 tokens, size 5, stride 4 → chunks at 0,4,8 (ceil((12-5)/4)+1 = 3)
    assert got[(2, 0)] == (5, "w0 w1 w2 w3 w4")
    assert got[(2, 1)] == (5, "w4 w5 w6 w7 w8")   # 1-token overlap
    assert got[(2, 2)] == (4, "w8 w9 w10 w11")    # short tail
    assert (2, 3) not in got


def test_sketch_rollup_tracks_exact_distinct(spark, sf_dir):
    """Per-day HLL sketches unioned at query time estimate the same
    distinct-user counts as the exact query; the entry emits the
    tolerance verdict in-query (round-5) plus the exact twin."""
    from dragnet_spark.registry import REGISTRY

    rows = (
        REGISTRY["index_sketch_distinct_rollup"].spark(spark, sf_dir).collect()
    )
    exact = {
        r["event_type"]: r["n_distinct"]
        for r in REGISTRY["events_distinct_users_by_type"].spark(spark, sf_dir).collect()
    }
    assert {r["event_type"] for r in rows} == exact.keys()
    for r in rows:
        assert r["sketch_ok"], r
        assert r["n_distinct_exact"] == exact[r["event_type"]], r


def test_cosine_topk_zero_vector_agrees_with_blocked(spark):
    """A zero vector must not NaN-sort to rank 1: the exact path guards
    norms like the blocked path, and the two stay result-identical."""
    from dragnet_spark.ops.similarity import cosine_topk, cosine_topk_blocked

    rows = [
        (0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 0.0]), (3, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") == 0)
    exact = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in cosine_topk(df, q, k=2).collect()
    }
    blocked = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in cosine_topk_blocked(df, q, k=2).collect()
    }
    assert exact == blocked
    assert (0, 2, 1) not in exact  # the zero vector is not rank 1


def test_blocked_topk_keeps_ids_above_2_53_beside_a_null(spark):
    """A null corpus id leaves its batch's other ids exact: 2⁵³+1 is
    not a float64, so a float conversion of the id column would name
    the neighbor 2⁵³. The blocked path answers what the exact one
    does."""
    from dragnet_spark.ops.similarity import cosine_topk, cosine_topk_blocked

    big = 2**53 + 1
    rows = [
        (big, [1.0, 0.0]), (None, [0.0, 1.0]), (5, [1.0, 0.2]), (7, [0.2, 1.0]),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).coalesce(1)  # one partition, one Arrow batch
    q = df.filter(F.col("vec_id") == 5)
    blocked = rows_set(cosine_topk_blocked(df, q, k=2))
    assert (5, big, 0.980581, 1) in blocked
    assert blocked == rows_set(cosine_topk(df, q, k=2))


def test_blocked_topk_oversized_query_side_fails_fast(spark):
    """The driver-side collect in the blocked path is a checked
    contract: an oversized query side raises instead of OOMing."""
    import pytest

    rows = [(i, [float(i), 1.0]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="max_queries"):
        cosine_topk_blocked(df, df, k=2, max_queries=3)
    # at the cap (not over it) the call still works
    assert cosine_topk_blocked(df, df.limit(3), k=2, max_queries=3).count() > 0


def test_train_centroids_rejects_unbounded_sample(spark):
    """sample_size is the enforced driver-memory contract."""
    import pytest
    from dragnet_spark.ops.similarity import train_centroids

    rows = [(i, [float(i), 1.0]) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="sample_size"):
        train_centroids(df, n_centroids=2, sample_size=0)
    with pytest.raises(ValueError, match="sample_size"):
        train_centroids(df, n_centroids=2, sample_size=10_000_000)


def test_unigram_logprob_flags_gibberish(spark):
    """The corpus-LM gate: a doc of corpus-unseen junk tokens scores a
    sharply lower mean log-prob than docs made of common tokens."""
    from dragnet_spark.ops.text import unigram_logprob

    common = "the data table scan join filter group sort merge window"
    rows = [(i, common) for i in range(9)] + [(9, "zxqv jkwp qqzz vvkk xxyy")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    scores = {r["doc_id"]: r["mean_logp"] for r in unigram_logprob(df).collect()}
    normal = [v for k, v in scores.items() if k != 9]
    assert scores[9] < min(normal) - 1.0  # well separated, not a tie


def test_duplicate_spans_flags_copy_paste(spark):
    """Two docs sharing a long verbatim run are flagged; a fully
    unique doc has dup_frac 0."""
    from dragnet_spark.ops.text import duplicate_spans

    shared = " ".join(f"w{i}" for i in range(20))  # 20-token shared run
    rows = [
        (1, shared + " alpha beta gamma delta epsilon zeta eta theta"),
        (2, shared + " one two three four five six seven eight"),
        (3, " ".join(f"u{i}" for i in range(28))),  # all unique
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in duplicate_spans(df, n=8).collect()}
    # 28-token docs → 21 grams each; the shared 20-token run yields 13
    # fully-shared 8-grams per doc
    assert out[3]["dup_frac"] == 0.0
    assert out[1]["n_dup_grams"] == 13 and out[2]["n_dup_grams"] == 13
    assert out[1]["n_grams"] == 21


def test_repetition_stats_gopher_rules(spark):
    """The Gopher repetition measures: a doc that is one 2-gram
    repeated trips the 0.20 top-2-gram rule; a doc with a repeated
    5-gram run trips the 0.15 dup-5-gram rule; varied text passes."""
    from dragnet_spark.ops.text import repetition_stats

    looping = " ".join(["spam ham"] * 10)  # 'spam ham' dominates
    run5 = " ".join(["a b c d e"] * 3) + " tail words here now extra"
    varied = " ".join(f"w{i}" for i in range(20))
    df = spark.createDataFrame(
        [(1, looping), (2, run5), (3, varied)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert out[1]["repetition_flag"] == 1
    assert out[1]["top_2gram"] in ("ham spam", "spam ham")
    assert out[1]["top_2gram_frac"] > 0.4
    assert out[2]["repetition_flag"] == 1 and out[2]["dup_5gram_frac"] > 0.15
    assert out[3]["repetition_flag"] == 0
    assert out[3]["top_2gram_frac"] < 0.2 and out[3]["dup_5gram_frac"] == 0.0


def test_repetition_stats_includes_short_docs(spark):
    """A one-token doc has no 2-grams — it must still appear, with
    zero fractions, not vanish from the audit."""
    from dragnet_spark.ops.text import repetition_stats

    df = spark.createDataFrame(
        [(1, "solo"), (2, "a b a b a b a b")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert out[1]["top_2gram_frac"] == 0.0 and out[1]["dup_5gram_frac"] == 0.0
    assert out[1]["top_2gram"] is None
    assert out[2]["repetition_flag"] == 1


def test_benchmark_overlap_flags_contaminated(spark):
    """A training doc embedding a verbatim eval span is contaminated;
    one sharing nothing is clean with n_hit_grams 0."""
    from dragnet_spark.ops.text import benchmark_overlap

    eval_text = " ".join(f"e{i}" for i in range(12))
    rows = [
        (0, eval_text),  # doc_id % 97 == 0 → eval slice
        (1, "lead in words " + eval_text + " trailing words"),
        (2, " ".join(f"c{i}" for i in range(15))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in benchmark_overlap(df, n=8).collect()}
    assert 0 not in out  # eval docs are not reported as training docs
    assert out[1]["contaminated"] == 1 and out[1]["n_hit_grams"] == 5
    assert out[2]["contaminated"] == 0 and out[2]["n_hit_grams"] == 0


def test_bpe_fertility_vs_duckdb(spark, oracle):
    """BPE-ish pre-token counts agree between Java regex (Spark) and
    RE2 (DuckDB) on the punctuation shapes where whitespace counting
    diverges."""
    from dragnet_spark.ops.text import bpe_token_count, token_count

    rows = [
        (1, "Hello, world! 42 times"),
        (2, "don't!"),
        (3, ""),
        (4, "3.14+x   y"),
        (5, "a,b,c;;d"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id",
        bpe_token_count("text").alias("bpe"),
        token_count("text").alias("ws"),
    )
    got = {(r["doc_id"], r["bpe"], r["ws"]) for r in df.collect()}
    oracle.execute("CREATE OR REPLACE TABLE bpe_t (doc_id BIGINT, text VARCHAR)")
    oracle.executemany("INSERT INTO bpe_t VALUES (?, ?)", rows)
    want = {
        tuple(r)
        for r in oracle.execute(
            "SELECT doc_id, "
            "CAST(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+')) AS BIGINT), "
            "CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> TRUE)) AS BIGINT) "
            "FROM bpe_t"
        ).fetchall()
    }
    assert {(d, b) for d, b, _ in got} == {(d, b) for d, b, _ in want}
    # the divergence BPE counting exists to capture: "don't!" is 1 ws
    # token but 4 BPE-ish pre-tokens
    by_id = {d: (b, w) for d, b, w in got}
    assert by_id[2][0] > by_id[2][1]


def test_int8_quantization_contract_and_recall(spark, sf_dir):
    """Quantizer bound holds on real embeddings, and cosine top-k over
    DEQUANTIZED vectors keeps high recall vs the exact ranking."""
    from dragnet_spark.ops.similarity import (
        cosine_topk,
        dequantize_error_audit,
        quantize_embeddings,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    audit = dequantize_error_audit(emb).collect()
    assert audit and all(r["recon_ok"] and r["codes_in_range"] for r in audit)

    deq = quantize_embeddings(emb).select(
        F.col("id").alias("vec_id"),
        F.zip_with(
            F.col("qvec"), F.col("qvec"),
            lambda q, _: q.cast("double") * F.col("scale"),
        ).cast("array<float>").alias("embedding"),
    )
    q = emb.filter(F.col("vec_id") < 10)
    qd = deq.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, q, k=5).collect()
    }
    quant = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(deq, qd, k=5).collect()
    }
    recall = len(exact & quant) / len(exact)
    assert recall >= 0.9, f"int8 recall {recall}"


def test_int8_zero_vector(spark):
    from dragnet_spark.ops.similarity import quantize_embeddings

    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [1.0, -2.0, 0.5])],
        "vec_id long, embedding array<float>",
    )
    rows = {r["id"]: r for r in quantize_embeddings(df).collect()}
    assert rows[1]["qvec"] == [0, 0, 0] and rows[1]["scale"] == 0.0
    assert rows[2]["qvec"][1] == -127  # max-magnitude dim hits the rail


def test_jaccard_prefix_equals_equijoin(spark):
    """Prefix filtering is lossless: identical pairs and values to the
    shared-shingle equi-join form, including boundary-threshold pairs
    and single-shingle docs (prefix length exceeding the set size)."""
    from dragnet_spark.ops.dedup import jaccard_prefix_pairs, ngram_jaccard_pairs

    texts = [
        "a b c d e f g h",
        "a b c d e f g x",      # high overlap with 0
        "a b c d e f g h",      # exact dup of 0
        "p q r s t u v w",      # disjoint
        "p q r s t u v y",      # high overlap with 3
        "one two",              # single-shingle doc
        "one two",              # its exact dup
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    for t in (0.3, 0.5, 0.8, 1.0):
        a = sorted(map(tuple, ngram_jaccard_pairs(df, "text", "doc_id", t).collect()))
        b = sorted(map(tuple, jaccard_prefix_pairs(df, "text", "doc_id", t).collect()))
        assert a == b, (t, a, b)


def test_jaccard_prefix_threshold_validation(spark):
    import pytest as _pytest

    from dragnet_spark.ops.dedup import jaccard_prefix_pairs

    df = spark.createDataFrame([(1, "x y z")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="threshold > 0"):
        jaccard_prefix_pairs(df, "text", "doc_id", threshold=0)


def test_jaccard_prefix_kills_boilerplate_blowup(spark):
    """The regime prefix filtering exists for: every doc sharing a
    boilerplate sentence. The full gram equi-join materializes
    C(n,2)·(boilerplate grams) candidate rows; the rarest-first prefix
    join materializes ~none (no pair can reach the threshold, and the
    prefix keys are the unique tail grams). Results still identical."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from dragnet_spark.ops.dedup import (
        jaccard_prefix_pairs,
        ngram_jaccard_pairs,
        token_sets,
    )

    boiler = "terms of service apply to all content on this site"
    rows = [
        (i, f"{boiler} unique tail {i} alpha {i * 7} beta {i * 13}")
        for i in range(100)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sets = token_sets(df, "text", "doc_id", 3)
    ex = sets.select(
        "id", F.size("tset").alias("sz"), F.explode("tset").alias("g")
    )

    def gram_pair_volume(keyed):
        return (
            keyed.groupBy("g").agg(F.count(F.lit(1)).alias("d"))
            .agg(F.sum(F.expr("d*(d-1) div 2")).alias("v"))
            .collect()[0]["v"]
        )

    full_vol = gram_pair_volume(ex)
    gdf = ex.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    ranked = ex.join(gdf, "g").withColumn(
        "rnk", F.row_number().over(W.partitionBy("id").orderBy("df", "g"))
    )
    L = F.col("sz") - F.floor(F.lit(0.8) * F.col("sz")).cast("int") + F.lit(1)
    pref_vol = gram_pair_volume(ranked.filter(F.col("rnk") <= L))
    assert full_vol > 100 * max(pref_vol, 1)  # 49,500 vs 0 measured
    a = sorted(map(tuple, ngram_jaccard_pairs(df, "text", "doc_id", 0.8).collect()))
    b = sorted(map(tuple, jaccard_prefix_pairs(df, "text", "doc_id", 0.8).collect()))
    assert a == b == []


def test_auto_bits_per_band():
    """SRP band width grows with log2(n): the candidate budget
    formula gives the measured regime boundaries."""
    from dragnet_spark.ops.dedup import auto_bits_per_band

    assert auto_bits_per_band(0, 6) == 8 and auto_bits_per_band(1, 6) == 8
    assert auto_bits_per_band(1000, 6) == 10
    # the graded tiers' 16-bit entries are inside their regime…
    assert auto_bits_per_band(400_000, 6) <= 19
    # …and the 1000x tier (4M union vectors) demands > 16 bits — the
    # measured disk-filling collision blowup at pinned 16
    assert auto_bits_per_band(4_000_000, 6) == 22
    # budget knob: tighter budget -> wider bands
    assert auto_bits_per_band(4_000_000, 6, 0.5) > 22


def test_embedding_lsh_auto_bits_still_exact(spark):
    """embedding_near_dup_lsh at the auto width finds the same
    verified twin pairs as at the default width (recall 1 for exact
    twins at any band width)."""
    import numpy as np

    from dragnet_spark.ops.dedup import (
        auto_bits_per_band,
        embedding_near_dup_lsh,
    )

    rng = np.random.RandomState(3)
    base = rng.standard_normal((40, 16)).astype(float)
    rows = [(i, base[i].tolist()) for i in range(40)]
    rows += [(100 + i, base[i].tolist()) for i in range(40)]  # twins
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    bits = auto_bits_per_band(80, 6)
    out = embedding_near_dup_lsh(
        df, threshold=0.99, dims=16, bits_per_band=bits, bands=6
    )
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert got == {(i, 100 + i) for i in range(40)}


def test_autobits_sql_parity():
    """auto_bits_per_band (Python math.log2) and the oracle's scalar
    subquery LEAST(32, GREATEST(8, ceil(log2(n*bands/8.0)))) must
    agree for every corpus size — same libm log2 over the same
    exactly-representable quotient. Sweeps powers of two and their
    neighbors (the only places a faithful-vs-correctly-rounded log2
    could differ) up to 10^10."""
    import duckdb

    from dragnet_spark.ops.dedup import AUTOBITS_MAX, auto_bits_per_band

    con = duckdb.connect()
    ns = [2, 3, 5, 1000, 999, 400_000, 4_000_000]
    for e in range(1, 34):
        ns += [2**e - 1, 2**e, 2**e + 1]
    for n in ns:
        py = min(AUTOBITS_MAX, auto_bits_per_band(n, 6))
        # CAST to BIGINT: the oracle's n is COUNT(*) (already BIGINT);
        # a bare INT32 literal times 6 would overflow-error instead
        sql = con.execute(
            f"SELECT LEAST({AUTOBITS_MAX}, GREATEST(8, "
            f"CAST(ceil(log2(CAST({n} AS BIGINT) * 6 / 8.0)) AS INT)))"
        ).fetchone()[0]
        assert py == sql, (n, py, sql)


def test_srp_planes_prefix_property(spark):
    """srp_planes_q_prefix: band b at width w is exactly the first w
    planes of band b at full width — the slicing rule that lets one
    static 32-bit oracle grade any runtime width — and the autobits
    operator finds the planted twins."""
    import numpy as np

    from dragnet_spark.ops.dedup import (
        AUTOBITS_MAX,
        embedding_near_dup_lsh_autobits,
        srp_planes_q,
        srp_planes_q_prefix,
    )

    full = srp_planes_q(16, 6, AUTOBITS_MAX, 42)
    for w in (8, 13, 32):
        sliced = srp_planes_q_prefix(16, 6, w, 42)
        for b in range(6):
            assert np.array_equal(
                sliced[b * w: (b + 1) * w],
                full[b * AUTOBITS_MAX: b * AUTOBITS_MAX + w],
            )
    rng = np.random.RandomState(7)
    base = rng.standard_normal((30, 16)).astype(float)
    rows = [(i, base[i].tolist()) for i in range(30)]
    rows += [(100 + i, base[i].tolist()) for i in range(30)]  # twins
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = embedding_near_dup_lsh_autobits(
        df, threshold=0.99, dims=16, bands=6
    )
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert got == {(i, 100 + i) for i in range(30)}


def test_autobits_observed_count_matches_explicit_count(spark):
    """embedding_near_dup_lsh_autobits sizes its band width from a
    count OBSERVED on the vector-table materialization (no separate
    corpus pass on the non-semi route). The observed n must equal the
    explicit df.count() the old form used — including NULL and
    wrong-dims vectors, which count toward n (they rode the old
    count()) even though they can never collide — so the composed
    explicit-width pipeline over the same corpus returns the exact
    same pairs."""
    import numpy as np

    from dragnet_spark.ops.dedup import (
        auto_srp_width,
        embedding_near_dup_lsh,
        embedding_near_dup_lsh_autobits,
    )

    rng = np.random.RandomState(11)
    base = rng.standard_normal((25, 16)).astype(float)
    rows = [(i, base[i].tolist()) for i in range(25)]
    rows += [(100 + i, base[i].tolist()) for i in range(25)]  # twins
    rows += [(900, None), (901, base[0][:7].tolist())]  # null + ragged
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    fused = embedding_near_dup_lsh_autobits(
        df, threshold=0.99, dims=16, bands=6
    )
    # the pre-fusion shape: explicit count, then the sized pipeline
    n = df.count()
    bits, planes = auto_srp_width(n, 6, 16, 42)
    composed = embedding_near_dup_lsh(
        df, threshold=0.99, dims=16, bits_per_band=bits, bands=6,
        seed=42, planes_q=planes,
    )
    f = sorted(tuple(r) for r in fused.collect())
    c = sorted(tuple(r) for r in composed.collect())
    assert f == c
    assert {(a, b) for a, b, _ in f} == {(i, 100 + i) for i in range(25)}


def test_parse_size_bytes_accepts_spark_suffix_grammar():
    """spread()'s split estimate must parse any value a human sets for
    maxPartitionBytes — not only the canonical '<long>b' form. A form
    that raised inside the broad except silently routed spread() to
    the full repartition shuffle the estimate exists to avoid."""
    import pytest

    from dragnet_spark.ops import parse_size_bytes

    assert parse_size_bytes("134217728") == 134217728
    assert parse_size_bytes("134217728b") == 134217728
    assert parse_size_bytes("128m") == 128 << 20
    assert parse_size_bytes("128MB") == 128 << 20
    assert parse_size_bytes(" 1g ") == 1 << 30
    assert parse_size_bytes("64k") == 64 << 10
    assert parse_size_bytes("2t") == 2 << 40
    for junk in ("", "12.5m", "m128", "128x", "12 8m"):
        with pytest.raises(ValueError):
            parse_size_bytes(junk)


def test_bench_skip_spec_json_preserves_reason_punctuation():
    """Declared-skip reasons are prose (the r11 artifact carried a
    hand-repaired reason because ';' truncated it) — the JSON form
    must round-trip any punctuation; the legacy form still parses."""
    import sys as _sys
    from pathlib import Path as _Path

    _sys.path.insert(0, str(_Path(__file__).resolve().parent.parent))
    from tools.bench_octave import parse_skips

    reason = "x > 94 GB disk; measured 3 times, see SCALE.md"
    out = parse_skips('{"dedup_minhash_lsh": "%s"}' % reason)
    assert out == {"dedup_minhash_lsh": reason}
    legacy = parse_skips("a=r1;b=r2")
    assert legacy == {"a": "r1", "b": "r2"}
    assert parse_skips("") == {}
