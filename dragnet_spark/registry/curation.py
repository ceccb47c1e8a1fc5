"""Registry family module (split from registry.py; see _base)."""
from __future__ import annotations

from dragnet_spark.registry._base import Column, DataFrame, F, SparkSession, _t, register  # noqa: F401

# ---------------------------------------------------------------------------
# Training-data pipeline family (beyond reference): text analysis,
# dedup, similarity search, multimodal plumbing. Oracle SQL comes from
# the *_sql twins in ops.text so both sides share one definition.
# ---------------------------------------------------------------------------

from dragnet_spark.ops import text as _text  # noqa: E402
from dragnet_spark.ops.dedup import (  # noqa: E402
    embedding_near_dup_lsh,
    embedding_near_dup_pairs,
    exact_dup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash64,
    winnow_overlap_pairs,
)
from dragnet_spark.ops.multimodal import (  # noqa: E402
    attach_payloads,
    extract_features,
    frame_sample_plan,
    resize_media,
)
from dragnet_spark.ops.similarity import cosine_topk, cosine_topk_blocked  # noqa: E402

_Q = {k: v for k, v in _text.quality_sql("text").items()}

@register(
    "text_quality",
    "SELECT doc_id, "
    + ", ".join(f"{sql} AS {name}" for name, sql in _Q.items())
    + " FROM documents",
    "per-document quality features: lengths, punct/digit/stopword ratios",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "documents")
    cols = _text.quality_columns("text")
    return df.select("doc_id", *[c.alias(n) for n, c in cols.items()])


@register(
    "text_lang_id",
    f"SELECT doc_id, lang, {_text.lang_id_sql('text')} AS lang_pred FROM documents",
    "stopword-heuristic language ID vs the labeled lang column",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "documents")
    return df.select("doc_id", "lang", _text.lang_id("text").alias("lang_pred"))


@register(
    "text_tokens_by_source",
    f"""
    SELECT source, CAST(SUM({_text.token_count_sql('text')}) AS BIGINT) AS total_tokens,
           COUNT(*) AS n_docs
    FROM documents GROUP BY source
    """,
    "corpus token accounting per source (BPE-ish whitespace tokenizer)",
)
def text_tokens_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _t(spark, sf_dir, "documents")
    return (
        df.select("source", _text.token_count("text").alias("tc"))
        .groupBy("source")
        .agg(
            F.sum("tc").cast("long").alias("total_tokens"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


@register(
    "text_bpe_fertility",
    f"""
    SELECT doc_id,
           {_text.bpe_token_count_sql('text')} AS n_bpe_tokens,
           {_text.token_count_sql('text')} AS n_ws_tokens,
           round(CAST({_text.bpe_token_count_sql('text')} AS DOUBLE)
                 / NULLIF({_text.token_count_sql('text')}, 0), 6)
             AS fertility
    FROM documents
    """,
    "BPE-ish token budgeting: per-doc pre-token count under the GPT-2 "
    "pre-tokenization classes (space-prefixed letter/digit/punct runs, "
    "RE2- and Java-compatible regex so Spark and DuckDB count "
    "identically) vs whitespace tokens, plus the fertility ratio — "
    "the number a context-window budget or a per-source token quota "
    "actually needs, where whitespace counting undercounts punctuated "
    "text. Pure built-in expressions: narrow map, zero shuffle, "
    "whole-stage codegen",
)
def text_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    bpe = _text.bpe_token_count("text")
    ws = _text.token_count("text")
    return docs.select(
        "doc_id",
        bpe.alias("n_bpe_tokens"),
        ws.alias("n_ws_tokens"),
        F.round(
            bpe.cast("double") / F.nullif(ws, F.lit(0)), 6
        ).alias("fertility"),
    )


@register(
    "text_token_stats",
    """
    WITH toks AS (
      SELECT doc_id, t.tok AS tok
      FROM documents,
           LATERAL (SELECT UNNEST(regexp_split_to_array(lower(text), '\\s+')) AS tok) t
      WHERE t.tok <> ''
    ),
    cnt AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2)
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           COUNT(*) AS distinct_tokens,
           round(CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6)
             AS top_token_share
    FROM cnt GROUP BY doc_id
    """,
    "per-document token statistics — repetition (top-token share) is "
    "the cheap boilerplate/spam signal a curation gate filters on; "
    "one (doc,token) shuffle with map-side partial counts, then a "
    "doc-keyed rollup that AQE-coalesces (the token explosion never "
    "leaves its stage uncombined)",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    cnt = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    return cnt.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).alias("distinct_tokens"),
        F.round(
            F.max("c").cast("double") / F.sum("c").cast("double"), 6
        ).alias("top_token_share"),
    )


@register(
    "text_rare_token_share",
    """
    WITH toks AS (
      SELECT doc_id, t.tok AS tok
      FROM documents,
           LATERAL (SELECT UNNEST(regexp_split_to_array(lower(text), '\\s+')) AS tok) t
      WHERE t.tok <> ''
    ),
    freq AS (SELECT tok, COUNT(*) AS df FROM toks GROUP BY 1)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN df <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
           round(CAST(SUM(CASE WHEN df <= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS rare_share
    FROM toks JOIN freq USING (tok)
    GROUP BY doc_id
    """,
    "share of a document's tokens that are corpus-rare (df <= 2) — "
    "the OOV/gibberish/OCR-noise curation signal; corpus frequencies "
    "and the doc join reuse one token partitioning, and the ratio is "
    "integer-derived so it is bit-identical across engines",
)
def text_rare_token_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    # corpus df via a count window over tok instead of groupBy+join-
    # back: the join re-embedded the scan+explode lineage for the
    # freq side (two corpus passes); the window shuffles the same
    # (doc_id, tok) rows the join co-located anyway, once
    flagged = toks.withColumn(
        "df", F.count(F.lit(1)).over(W.partitionBy("tok"))
    )
    rare = F.when(F.col("df") <= 2, 1).otherwise(0)
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(rare).cast("long").alias("n_rare"),
            F.round(
                F.sum(rare).cast("double") / F.count(F.lit(1)), 6
            ).alias("rare_share"),
        )
    )


@register(
    "dedup_exact",
    f"""
    SELECT {_text.fingerprint_sql('text')} AS fp, MIN(doc_id) AS keep_id,
           COUNT(*) AS n_dupes
    FROM documents GROUP BY 1
    """,
    "exact dedup by normalized-text fingerprint (hash groupBy)",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dup_groups(_t(spark, sf_dir, "documents"), "text", "doc_id")


_JACCARD_T = 0.8


_NGRAM = 3  # w-shingling width for near-dup similarity


def _jaccard_oracle(threshold: float, ngram: int = _NGRAM) -> str:
    # same shared-shingle equi-join reformulation as the Spark side
    # (ops/dedup.py ngram_jaccard_pairs): identical values for any
    # threshold > 0, and the all-pairs list_intersect — which
    # single-threads DuckDB for minutes at sf0.1 — never materializes.
    # Grams ride as 56-bit md5 prefixes on BOTH sides (the
    # duplicate_spans discipline) — the join key is 8 bytes, and both
    # engines would count the same hash collision identically
    toks = f"list_distinct({_text.shingles_sql('text', ngram)})"
    return f"""
    WITH t AS MATERIALIZED (SELECT doc_id AS id, {toks} AS ts FROM documents),
    s AS (SELECT id, len(ts) AS sz,
                 CAST('0x' || substring(md5(unnest(ts)), 1, 14) AS BIGINT) AS g
          FROM t),
    p AS (SELECT a.id AS id_a, b.id AS id_b, a.sz AS sz_a, b.sz AS sz_b,
                 COUNT(*) AS shared
          FROM s a JOIN s b ON a.g = b.g AND a.id < b.id
          GROUP BY 1, 2, 3, 4)
    SELECT id_a, id_b,
           round(CAST(shared AS DOUBLE) / (sz_a + sz_b - shared), 6) AS jaccard
    FROM p
    WHERE round(CAST(shared AS DOUBLE) / (sz_a + sz_b - shared), 6)
          >= {threshold}
    """


@register(
    "dedup_ngram_jaccard",
    _jaccard_oracle(_JACCARD_T),
    "exact 3-shingle Jaccard near-dup detection via the shared-shingle "
    "equi-join (bit-identical to all-pairs for threshold > 0, no BNLJ); "
    "the candidate-generation scale path is dedup_minhash_lsh",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        threshold=_JACCARD_T, ngram=_NGRAM,
    )


def _containment_oracle(threshold: float, ngram: int = _NGRAM) -> str:
    # grams as md5-prefix BIGINTs, mirroring the Spark side — see
    # _jaccard_oracle
    toks = f"list_distinct({_text.shingles_sql('text', ngram)})"
    return f"""
    WITH t AS (SELECT doc_id AS id, {toks} AS ts FROM documents),
    s AS (SELECT id, len(ts) AS sz,
                 CAST('0x' || substring(md5(unnest(ts)), 1, 14) AS BIGINT) AS g
          FROM t),
    p AS (SELECT a.id AS id_a, b.id AS id_b, a.sz AS sz_a, b.sz AS sz_b,
                 COUNT(*) AS shared
          FROM s a JOIN s b ON a.g = b.g AND a.id < b.id
          GROUP BY 1, 2, 3, 4),
    d AS (SELECT id_a AS contained_id, id_b AS container_id,
                 sz_a AS sz, shared FROM p
          UNION ALL
          SELECT id_b AS contained_id, id_a AS container_id,
                 sz_b AS sz, shared FROM p)
    SELECT contained_id, container_id,
           round(CAST(shared AS DOUBLE) / sz, 6) AS containment
    FROM d
    WHERE round(CAST(shared AS DOUBLE) / sz, 6) >= {threshold}
    """


def _pagerank_oracle() -> str:
    from dragnet_spark.ops.graph import pagerank_sql

    sql = pagerank_sql(
        "SELECT doc_id AS id FROM documents",
        _jaccard_oracle(_JACCARD_T),
    )
    return f"SELECT id AS doc_id, pagerank FROM ({sql})"


@register(
    "docs_neardup_pagerank",
    _pagerank_oracle(),
    "4-iteration PageRank centrality over the shingle-Jaccard near-dup "
    "graph in exact integer fixed-point (bit-identical across engines; "
    "float PageRank's order-dependent sums can't be hash-graded) — the "
    "cluster-representative / quality-propagation primitive",
)
def docs_neardup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dragnet_spark.ops.graph import pagerank

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, "text", "doc_id", threshold=_JACCARD_T, ngram=_NGRAM
    )
    return pagerank(docs, pairs, id_col="doc_id").select(
        F.col("id").alias("doc_id"), "pagerank"
    )


def _trustrank_oracle() -> str:
    from dragnet_spark.ops.graph import personalized_pagerank_sql

    sql = personalized_pagerank_sql(
        "SELECT doc_id AS id FROM documents",
        _jaccard_oracle(_JACCARD_T),
        "SELECT doc_id AS id FROM documents WHERE doc_id % 17 = 0",
    )
    return f"SELECT id AS doc_id, trustrank FROM ({sql})"


@register(
    "docs_neardup_trustrank",
    _trustrank_oracle(),
    "personalized PageRank (TrustRank, Gyöngyi 2004) over the "
    "shingle-Jaccard near-dup graph: restart AND dangling mass re-"
    "enter only at a deterministic seed set (doc_id%17=0 stands in "
    "for a human-labeled trusted/spam list), so rank measures "
    "proximity to the seeds — the propagate-labels-over-similarity "
    "primitive for scoring unlabeled documents near known-good or "
    "known-contaminated clusters. Same exact integer fixed-point "
    "discipline as docs_neardup_pagerank (bit-identical across "
    "engines); unreachable non-seeds sit at exactly 0",
)
def docs_neardup_trustrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dragnet_spark.ops.graph import pagerank

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, "text", "doc_id", threshold=_JACCARD_T, ngram=_NGRAM
    )
    seeds = docs.filter(F.col("doc_id") % 17 == 0).select("doc_id")
    return pagerank(docs, pairs, seeds, id_col="doc_id").select(
        F.col("id").alias("doc_id"), F.col("pagerank").alias("trustrank")
    )


def _jaccard_oracle_strings(threshold: float, ngram: int = _NGRAM) -> str:
    # string-gram twin of _jaccard_oracle (no hashing): the prefix
    # entry verifies with array_intersect over STRING sets, so its
    # oracle intersects strings too — exact at any corpus size
    toks = f"list_distinct({_text.shingles_sql('text', ngram)})"
    return f"""
    WITH t AS MATERIALIZED (SELECT doc_id AS id, {toks} AS ts FROM documents),
    s AS (SELECT id, len(ts) AS sz, unnest(ts) AS g FROM t),
    p AS (SELECT a.id AS id_a, b.id AS id_b, a.sz AS sz_a, b.sz AS sz_b,
                 COUNT(*) AS shared
          FROM s a JOIN s b ON a.g = b.g AND a.id < b.id
          GROUP BY 1, 2, 3, 4)
    SELECT id_a, id_b,
           round(CAST(shared AS DOUBLE) / (sz_a + sz_b - shared), 6) AS jaccard
    FROM p
    WHERE round(CAST(shared AS DOUBLE) / (sz_a + sz_b - shared), 6)
          >= {threshold}
    """


@register(
    "dedup_jaccard_prefix",
    _jaccard_oracle_strings(_JACCARD_T),
    "same exact Jaccard pairs as dedup_ngram_jaccard via PREFIX "
    "FILTERING (PPJoin family): shingles ordered rarest-first, only "
    "each doc's (1-t)-fraction prefix acts as a join key — candidate "
    "volume collapses to the rare-gram df's and boilerplate "
    "mega-grams never key a candidate; verification intersects the "
    "full STRING sets per candidate pair only. The verified-exact "
    "pair search that survives stop-shingle-dense corpora without a "
    "df cap",
)
def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dragnet_spark.ops.dedup import jaccard_prefix_pairs

    return jaccard_prefix_pairs(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        threshold=_JACCARD_T, ngram=_NGRAM,
    )


def _triangles_oracle() -> str:
    from dragnet_spark.ops.graph import triangle_counts_sql

    sql = triangle_counts_sql(_jaccard_oracle(_JACCARD_T))
    return f"SELECT id AS doc_id, n_triangles FROM ({sql})"


@register(
    "docs_neardup_triangles",
    _triangles_oracle(),
    "exact per-node triangle counts over the shingle-Jaccard near-dup "
    "graph via degree orientation + wedge closure (Suri & "
    "Vassilvitskii WWW'11): clique-density tells bulk-droppable dup "
    "GROUPS (triangle-rich) from chains of borderline matches "
    "(triangle-poor). Out-degree after orientation is <= sqrt(2m) on "
    "any graph, so wedge volume is bounded even at a 10^6-degree hub",
)
def docs_neardup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dragnet_spark.ops.graph import triangle_counts

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, "text", "doc_id", threshold=_JACCARD_T, ngram=_NGRAM
    )
    return triangle_counts(pairs).select(
        F.col("id").alias("doc_id"), "n_triangles"
    )


def _clustering_oracle() -> str:
    from dragnet_spark.ops.graph import clustering_coefficients_sql

    sql = clustering_coefficients_sql(_jaccard_oracle(_JACCARD_T))
    return (
        f"SELECT id AS doc_id, deg, n_triangles, clustering FROM ({sql})"
    )


@register(
    "docs_neardup_clustering",
    _clustering_oracle(),
    "local clustering coefficient over the shingle-Jaccard near-dup "
    "graph — the QUANTITATIVE cliques-vs-chains diagnostic "
    "docs_neardup_triangles eyeballs: 2T/(deg·(deg−1)) per node, "
    "~1.0 = bulk-droppable duplicate GROUP, ~0 = chain of borderline "
    "matches needing judgment. Same degree-oriented wedge closure + "
    "one node-keyed degree join; explicit zeros for triangle-free "
    "nodes",
)
def docs_neardup_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dragnet_spark.ops.graph import clustering_coefficients

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, "text", "doc_id", threshold=_JACCARD_T, ngram=_NGRAM
    )
    return clustering_coefficients(pairs).select(
        F.col("id").alias("doc_id"), "deg", "n_triangles", "clustering"
    )


_CONTAIN_T = 0.9


@register(
    "dedup_containment",
    _containment_oracle(_CONTAIN_T),
    "directed shingle containment |A∩B|/|A| >= 0.9 — the asymmetric "
    "partial-copy/quotation relation Jaccard misses (Broder 1997); same "
    "shared-shingle equi-join shape as dedup_ngram_jaccard, both "
    "directions emitted from one undirected aggregation",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dragnet_spark.ops.dedup import containment_pairs

    return containment_pairs(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        threshold=_CONTAIN_T, ngram=_NGRAM,
    )


def _minhash_lsh_oracle(
    num_hashes: int, bands: int, threshold: float, ngram: int = _NGRAM
) -> str:
    r = num_hashes // bands
    sig = _text.minhash_signature_sql("text", num_hashes, ngram)
    toks = f"list_distinct({_text.shingles_sql('text', ngram)})"
    band_hash = " || chr(31) || ".join(
        f"CAST(sig[{{i}}*{r} + {j + 1}] AS VARCHAR)" for j in range(r)
    )
    return f"""
    WITH t AS (SELECT doc_id AS id, {toks} AS ts, {sig} AS sig FROM documents),
    banded AS (
      SELECT id, ts, i AS band,
             CAST('0x' || substring(md5({band_hash.format(i="i")}), 1, 14)
                  AS BIGINT) AS bhash
      FROM t, UNNEST(range(0, {bands})) AS u(i)
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM banded a JOIN banded b ON a.band = b.band AND a.bhash = b.bhash
      WHERE a.id < b.id
    )
    SELECT c.id_a, c.id_b,
           round(CAST(len(list_intersect(ta.ts, tb.ts)) AS DOUBLE)
                 / len(list_distinct(list_concat(ta.ts, tb.ts))), 6) AS jaccard
    FROM cand c JOIN t ta ON ta.id = c.id_a JOIN t tb ON tb.id = c.id_b
    WHERE round(CAST(len(list_intersect(ta.ts, tb.ts)) AS DOUBLE)
                / len(list_distinct(list_concat(ta.ts, tb.ts))), 6) >= {threshold}
    """


@register(
    "dedup_minhash_lsh",
    _minhash_lsh_oracle(16, 8, _JACCARD_T),
    "MinHash(16) over 3-shingles + LSH(8 bands × 2 rows) candidate "
    "generation, exact-Jaccard verification of candidates only — the "
    "shuffle-friendly near-dup path for 100 TB corpora",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        num_hashes=16,
        bands=8,
        threshold=_JACCARD_T,
        ngram=_NGRAM,
    )


def _band_probe_oracle(
    num_hashes: int,
    bands: int,
    ngram: int,
    probe_pred: str = "id % 5 = 0",
    store_pred: str = "id % 5 <> 0",
) -> str:
    r = num_hashes // bands
    sig = _text.minhash_signature_sql("text", num_hashes, ngram)
    band_hash = " || chr(31) || ".join(
        f"CAST(sig[{{i}}*{r} + {j + 1}] AS VARCHAR)" for j in range(r)
    )
    probe_rows = probe_pred.replace("id", "doc_id")
    # bhash = the 56-bit md5-prefix BIGINT — band-store v2's persisted
    # key, identical to the batch LSH bucket (_minhash_lsh_oracle)
    return f"""
    WITH t AS (SELECT doc_id AS id, {sig} AS sig FROM documents),
    banded AS (
      SELECT id, i AS band,
             CAST('0x' || substring(md5({band_hash.format(i="i")}), 1, 14)
                  AS BIGINT) AS bhash
      FROM t, UNNEST(range(0, {bands})) AS u(i)
    ),
    hits AS (
      SELECT n.id AS doc_id,
             COUNT(*) AS n_band_hits,
             MIN(c.id) AS dup_of
      FROM banded n JOIN banded c ON n.band = c.band AND n.bhash = c.bhash
      WHERE n.{probe_pred} AND c.{store_pred}
      GROUP BY n.id
    )
    SELECT p.doc_id,
           CAST(COALESCE(h.n_band_hits, 0) AS BIGINT) AS n_band_hits,
           h.dup_of,
           (h.dup_of IS NOT NULL) AS is_near_duplicate
    FROM (SELECT doc_id FROM documents WHERE {probe_rows}) p
    LEFT JOIN hits h ON h.doc_id = p.doc_id
    """


_BANDSTORE_CACHE: dict[str, str] = {}


def _store_amort_path(sf_dir: str, kind: str) -> str:
    """Stable on-disk home for a store-amortized entry's store. With
    DRAGNET_STORE_ROOT set (the octave bench sets it), the path is
    deterministic in (sf_dir, kind) so a store pre-built by a
    separate timed phase is REUSED across processes — the bench's
    build wall and probe wall are then honestly separable, which is
    the whole measurement (SCALE.md: pay the signature once at
    ingest). Without it, a per-process temp dir: correctness runs
    build small stores on the fly in seconds."""
    import hashlib
    import os
    import tempfile

    root = os.environ.get("DRAGNET_STORE_ROOT")
    if root:
        key = hashlib.sha256(sf_dir.encode()).hexdigest()[:12]
        path = os.path.join(root, f"{key}_{kind}")
        os.makedirs(path, exist_ok=True)
        return path
    cache_key = f"{sf_dir}::{kind}"
    if cache_key not in _STOREAMORT_CACHE:
        _STOREAMORT_CACHE[cache_key] = tempfile.mkdtemp(
            prefix=f"dragnet_{kind}_"
        )
    return _STOREAMORT_CACHE[cache_key]


_STOREAMORT_CACHE: dict[str, str] = {}


@register(
    "dedup_minhash_lsh_store",
    _minhash_lsh_oracle(16, 8, _JACCARD_T),
    "STORE-AMORTIZED MinHash-LSH near-dup: candidate discovery runs "
    "from the persisted (band, bhash, doc_id) rows of a materialized "
    "band store (index/fingerprints.band_store_pairs) instead of "
    "re-computing signatures from text — the production posture for "
    "a corpus under continuous ingest, where append_band_keys pays "
    "the signature stage (measured 48% of the batch minhash wall at "
    "the 10³ tier) exactly once per document at ingest. Store keys "
    "are bit-identical to the batch LSH bucket keys by construction "
    "(one _banded_rows definition, v2 BIGINT keys), so output equals "
    "dedup_minhash_lsh and the SAME oracle grades both",
)
def dedup_minhash_lsh_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from dragnet_spark.index.fingerprints import (
        BAND_META,
        band_store_pairs,
        build_band_store,
    )

    docs = _t(spark, sf_dir, "documents")
    path = _store_amort_path(sf_dir, "minhash_band")
    if not os.path.exists(os.path.join(path, BAND_META)):
        build_band_store(
            spark, docs, path, num_hashes=16, bands=8, ngram=_NGRAM
        )
    return band_store_pairs(spark, path, docs, threshold=_JACCARD_T)


@register(
    "dedup_minhash_lsh_store_cli",
    _minhash_lsh_oracle(16, 8, _JACCARD_T),
    "the store-amortized near-dup pipeline driven ENTIRELY through "
    "the dn CLI (VERDICT r12 #1 — the reference is verb-per-"
    "capability, bin/dn:869-896): `dn band-build` materializes the "
    "band store, then `dn band-pairs --bounded --slices 3 --out SINK` "
    "runs candidate discovery from the persisted (band,bhash,doc_id) "
    "rows plus the sliced crash-resumable exact-Jaccard verify — the "
    "production ingest-loop posture measured at the 10⁴ octave, now "
    "as commands a user can type. The result is read back from the "
    "CLI's parquet sink; pairs are bit-identical to dedup_minhash_lsh "
    "so the SAME oracle grades batch, from-store, and CLI-routed runs",
)
def dedup_minhash_lsh_store_cli(spark: SparkSession, sf_dir: str) -> DataFrame:
    import io
    import os
    import tempfile

    from dragnet_spark import cli as _cli

    key = f"{sf_dir}::cli_band_pairs"
    if key not in _STOREAMORT_CACHE:
        root = tempfile.mkdtemp(prefix="dragnet_clipairs_")
        docs = os.path.join(sf_dir, "documents.parquet")
        store = os.path.join(root, "store")
        sink = os.path.join(root, "pairs")
        cfg = os.path.join(root, "dn.json")
        buf = io.StringIO()
        rc = _cli.main(
            ["band-build", docs, "--out", store], out=buf, config_path=cfg
        )
        if rc != 0:
            raise RuntimeError(f"band-build failed: {buf.getvalue()}")
        rc = _cli.main(
            [
                "band-pairs", store, "--docs", docs,
                "--threshold", str(_JACCARD_T),
                "--bounded", "--slices", "3", "--out", sink,
            ],
            out=buf,
            config_path=cfg,
        )
        if rc != 0:
            raise RuntimeError(f"band-pairs failed: {buf.getvalue()}")
        _STOREAMORT_CACHE[key] = root
    sink = os.path.join(_STOREAMORT_CACHE[key], "pairs")
    return (
        spark.read.parquet(sink)
        .drop("slice")
        .select("id_a", "id_b", "jaccard")
    )


@register(
    "dedup_incremental_near_probe",
    _band_probe_oracle(16, 8, _NGRAM),
    "incremental NEAR-dup probe against a MATERIALIZED minhash band "
    "store (index/fingerprints.build_band_store): the corpus slice "
    "(doc_id%5≠0) persists its LSH band keys partitionBy(band); the "
    "arriving batch (doc_id%5=0) band-hashes itself with NARROW "
    "per-row expressions (ops/dedup.minhash_band_array — value-"
    "identical to the batch LSH's explode+groupBy signature) and "
    "joins the store on (band, bhash), reporting which new docs are "
    "near-duplicate candidates of the persisted corpus without "
    "re-reading corpus text. DuckDB reproduces the full signature→"
    "band→collision chain as the exact oracle. This closes the gap "
    "the exact-fingerprint store leaves: token-swapped twins and "
    "light edits are caught at ingest, not at the next batch LSH pass",
)
def dedup_incremental_near_probe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import tempfile

    from dragnet_spark.index.fingerprints import (
        build_band_store,
        probe_near_duplicates,
    )

    docs = _t(spark, sf_dir, "documents")
    if sf_dir not in _BANDSTORE_CACHE:
        path = tempfile.mkdtemp(prefix="dragnet_bandstore_")
        build_band_store(
            spark,
            docs.filter(F.col("doc_id") % 5 != 0),
            path,
            num_hashes=16,
            bands=8,
            ngram=_NGRAM,
        )
        _BANDSTORE_CACHE[sf_dir] = path
    return probe_near_duplicates(
        spark,
        _BANDSTORE_CACHE[sf_dir],
        docs.filter(F.col("doc_id") % 5 == 0),
    )


def _srp_probe_oracle(
    bands: int,
    bits_per_band: int,
    seed: int,
    dims: int,
    probe_pred: str = "id % 5 = 0",
    store_pred: str = "id % 5 <> 0",
) -> str:
    """DuckDB reproduces the ENTIRE quantize→sign-projection→band→
    collision chain: the quantized plane matrix embeds as integer
    literals and every dot product is integer arithmetic carried
    exactly in doubles (ops/dedup.SRP_SCALE), so band keys match the
    pandas-UDF store path bit-for-bit — the minhash band-probe oracle's
    discipline applied to embeddings."""
    from dragnet_spark.ops.dedup import (
        srp_banded_sql,
        srp_planes_q,
        srp_quantize_sql,
    )

    planes = srp_planes_q(dims, bands, bits_per_band, seed)
    banded = srp_banded_sql(planes, bands, bits_per_band)
    probe_rows = probe_pred.replace("id", "vec_id")
    return f"""
    WITH qv_src AS (SELECT vec_id AS id, {srp_quantize_sql()} AS qv
                    FROM embeddings),
    banded AS ({banded}),
    pair AS (
      SELECT n.id AS vec_id, c.id AS existing_id, COUNT(*) AS cnt
      FROM banded n JOIN banded c ON n.band = c.band AND n.bucket = c.bucket
      WHERE n.{probe_pred} AND c.{store_pred}
      GROUP BY n.id, c.id
    ),
    hits AS (
      SELECT vec_id, MAX(cnt) AS n_band_hits,
             MIN(CASE WHEN cnt >= 1 THEN existing_id END) AS dup_of
      FROM pair GROUP BY vec_id
    )
    SELECT p.vec_id,
           CAST(COALESCE(h.n_band_hits, 0) AS BIGINT) AS n_band_hits,
           h.dup_of,
           (h.dup_of IS NOT NULL) AS is_near_duplicate
    FROM (SELECT vec_id FROM embeddings WHERE {probe_rows}) p
    LEFT JOIN hits h ON h.vec_id = p.vec_id
    """


_SRPSTORE_CACHE: dict[str, str] = {}


@register(
    "dedup_incremental_embedding_probe",
    _srp_probe_oracle(8, 16, 42, 64),
    "incremental SEMANTIC near-dup probe against a MATERIALIZED SRP "
    "band store (index/fingerprints.build_srp_store): the corpus "
    "slice (vec_id%5≠0) persists its sign-random-projection band "
    "keys partitionBy(band) with the quantized plane matrix persisted "
    "in store metadata; the arriving batch (vec_id%5=0) computes its "
    "keys with the SAME planes (one int64 matmul per Arrow batch — "
    "engine-exact by integer arithmetic) and joins the store on "
    "(band, bucket), reporting which new embeddings are semantic "
    "near-dup candidates of the persisted corpus without re-reading "
    "any vectors. DuckDB reproduces quantize→sign→band→collision as "
    "the exact oracle. Closes the ingest-loop gap the minhash band "
    "store leaves: paraphrases with near-identical embeddings are "
    "caught at ingest, not at the next batch SemDeDup pass",
)
def dedup_incremental_embedding_probe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import tempfile

    from dragnet_spark.index.fingerprints import (
        build_srp_store,
        probe_srp_near_duplicates,
    )

    emb = _t(spark, sf_dir, "embeddings")
    if sf_dir not in _SRPSTORE_CACHE:
        path = tempfile.mkdtemp(prefix="dragnet_srpstore_")
        build_srp_store(
            spark,
            emb.filter(F.col("vec_id") % 5 != 0),
            path,
            bands=8,
            bits_per_band=16,
            seed=42,
            dims=64,
        )
        _SRPSTORE_CACHE[sf_dir] = path
    return probe_srp_near_duplicates(
        spark,
        _SRPSTORE_CACHE[sf_dir],
        emb.filter(F.col("vec_id") % 5 == 0),
    )


_SRPSTORE_MAINT_CACHE: dict[str, str] = {}


@register(
    "dedup_embedding_probe_after_compact",
    _srp_probe_oracle(8, 16, 42, 64),
    "SRP-store maintenance equivalence, driver-graded (the "
    "dedup_probe_after_compact discipline applied to the embedding "
    "store): the SRP band store is built, fragmented by re-appending "
    "its own corpus slice (replayed ingest — duplicate band AND "
    "band-pair rows, extra files), COMPACTED "
    "(index/fingerprints.compact_srp_store: distinct rows in both key "
    "directories, stage-then-swap), and only then probed. The oracle "
    "is dedup_incremental_embedding_probe's SQL verbatim: replays and "
    "compaction must be invisible to every probe field including "
    "n_band_hits — guaranteed by the probe's pre-count hit dedup",
)
def dedup_embedding_probe_after_compact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import tempfile

    from dragnet_spark.index.fingerprints import (
        append_srp_keys,
        build_srp_store,
        compact_srp_store,
        probe_srp_near_duplicates,
    )

    emb = _t(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    if sf_dir not in _SRPSTORE_MAINT_CACHE:
        path = tempfile.mkdtemp(prefix="dragnet_srpmaint_")
        build_srp_store(
            spark, corpus, path, bands=8, bits_per_band=16, seed=42,
            dims=64,
        )
        append_srp_keys(spark, corpus, path)  # replayed ingest
        compact_srp_store(spark, path)
        _SRPSTORE_MAINT_CACHE[sf_dir] = path
    return probe_srp_near_duplicates(
        spark,
        _SRPSTORE_MAINT_CACHE[sf_dir],
        emb.filter(F.col("vec_id") % 5 == 0),
    )


@register(
    "dedup_simhash",
    "SELECT doc_id, CAST(1 AS BOOLEAN) AS jvm_twin_match FROM documents",
    "64-bit SimHash signatures (near-dup by hamming distance) with a "
    "driver-gradable oracle: DuckDB cannot reproduce JVM xxhash64, so "
    "the JVM signature is cross-checked per-document against an "
    "INDEPENDENT pure-Python xxHash64 reimplementation of the public "
    "spec (ops/xxhash.py, Arrow-batched pandas_udf); two independent "
    "implementations agreeing on every document IS the oracle — a "
    "column of TRUEs DuckDB can state. Hot path stays the JVM "
    "expression; the twin runs only in this verification entry",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dragnet_spark.ops.xxhash import simhash_twin_udf

    _twin = simhash_twin_udf()
    df = _t(spark, sf_dir, "documents")
    sigs = df.select(
        "doc_id",
        simhash64("text").alias("sig_jvm"),
        _twin(_text.tokens("text")).alias("sig_py"),
    )
    return sigs.select(
        "doc_id", (F.col("sig_jvm") == F.col("sig_py")).alias("jvm_twin_match")
    )


_WINNOW_MIN_SHARED = 8
_WINNOW_MAX_DF = 20  # testdata's 30-word vocabulary makes common k-grams
# corpus-wide; the cap keeps only discriminative fingerprints (same knob
# that bounds the self-join at 100 TB)


def _winnow_oracle(min_shared: int, max_df: int) -> str:
    # normalization and grams each materialized in their own CTE:
    # inlining re-evaluates the whole-document regex per gram and every
    # md5 per window position (O(N²) both)
    grams = _text.winnow_grams_from_norm_sql("t")
    fps = _text.winnow_from_grams_sql("grams")
    return f"""
    WITH nrm AS MATERIALIZED (SELECT doc_id AS id,
                              {_text.winnow_norm_sql("text")} AS t FROM documents),
    g AS MATERIALIZED (SELECT id, {grams} AS grams FROM nrm),
    w AS MATERIALIZED (SELECT id, {fps} AS fps FROM g),
    f0 AS (SELECT id, u.fp FROM w, UNNEST(fps) AS u(fp)),
    rare AS (SELECT fp FROM f0 GROUP BY fp HAVING COUNT(*) <= {max_df}),
    f AS (SELECT f0.id, f0.fp FROM f0 JOIN rare USING (fp))
    SELECT a.id AS id_a, b.id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM f a JOIN f b ON a.fp = b.fp AND a.id < b.id
    GROUP BY a.id, b.id HAVING COUNT(*) >= {min_shared}
    """


@register(
    "dedup_winnow_overlap",
    _winnow_oracle(_WINNOW_MIN_SHARED, _WINNOW_MAX_DF),
    "winnowing-fingerprint partial-overlap pairs (Schleimer et al. "
    "SIGMOD'03): shared selected k-gram hashes catch a copied paragraph "
    "inside otherwise-different documents, which whole-document Jaccard "
    "dilutes; explode→df-cap→fp-join→count, never an O(n²) cross product",
)
def dedup_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return winnow_overlap_pairs(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        min_shared=_WINNOW_MIN_SHARED, max_df=_WINNOW_MAX_DF,
    )


from dragnet_spark.ops.skew import (  # noqa: E402
    salted_count_distinct,
    salted_top_values,
)


@register(
    "events_distinct_users_by_type",
    """
    SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct
    FROM events GROUP BY event_type
    """,
    "skew-proof exact distinct count: two-stage (key, hash(v)%salt) "
    "aggregation — a hot key fans out over salt reducers instead of "
    "one task deduplicating billions of rows",
)
def events_distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    return salted_count_distinct(
        _t(spark, sf_dir, "events"), ["event_type"], "user_id", salt=16
    )


@register(
    "events_distinct_users_by_type_approx",
    """
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct_exact,
           CAST(1 AS BOOLEAN) AS approx_ok
    FROM events GROUP BY event_type
    """,
    "HyperLogLog++ distinct count (rsd=0.02): the 100 TB scale path — "
    "a fixed-size sketch merges map-side, so the shuffle carries one "
    "sketch per group instead of every distinct value. HLL estimates "
    "are implementation-defined, so the ±3σ tolerance bound IS the "
    "oracle row: the entry computes sketch AND exact twin in one "
    "aggregation and emits (exact, |approx−exact| ≤ max(3, 6%)) — "
    "both DuckDB-statable",
)
def events_distinct_users_by_type_approx(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    approx = F.approx_count_distinct("user_id", rsd=0.02).cast("long")
    exact = F.count_distinct("user_id").cast("long")
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(approx.alias("__approx"), exact.alias("n_distinct_exact"))
        .select(
            "event_type",
            "n_distinct_exact",
            (
                F.abs(F.col("__approx") - F.col("n_distinct_exact"))
                <= F.greatest(
                    F.lit(3.0), F.col("n_distinct_exact") * F.lit(0.06)
                )
            ).alias("approx_ok"),
        )
    )


@register(
    "events_value_percentiles_approx",
    """
    SELECT event_type,
           CAST(1 AS BOOLEAN) AS p50_rank_ok,
           CAST(1 AS BOOLEAN) AS p95_rank_ok
    FROM (SELECT DISTINCT event_type FROM events)
    """,
    "approx_percentile(accuracy=10000): bounded-memory mergeable "
    "quantile summary — at 100 TB the exact sort-based percentile "
    "shuffles every value, the sketch ships one summary per group. "
    "GK-summary values are implementation-defined, so the sketch's "
    "own guarantee becomes the oracle: the returned value's RANK must "
    "sit within ±(1/accuracy + slack) of the target quantile. The "
    "per-group approx values broadcast back onto the events and one "
    "aggregation computes each value's empirical rank bracket "
    "(frac< , frac≤); the emitted booleans are DuckDB-statable TRUEs",
)
def events_value_percentiles_approx(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    ap = e.groupBy("event_type").agg(
        F.approx_percentile("value", F.lit(0.5), F.lit(10000)).alias("p50"),
        F.approx_percentile("value", F.lit(0.95), F.lit(10000)).alias("p95"),
    ).withColumnRenamed("event_type", "__et")
    eps = 0.001  # 10x the 1/accuracy rank guarantee

    def rank_ok(target: float, pcol: str) -> Column:
        frac_lt = F.avg((F.col("value") < F.col(pcol)).cast("double"))
        frac_le = F.avg((F.col("value") <= F.col(pcol)).cast("double"))
        return (frac_lt - F.lit(eps) <= F.lit(target)) & (
            F.lit(target) <= frac_le + F.lit(eps)
        )

    # null-SAFE broadcast-back: a NULL event_type is a real group on
    # both engines (parquet-resident NULL fixture); a bare equi-join
    # would silently drop it
    return (
        e.join(
            F.broadcast(ap), F.col("event_type").eqNullSafe(F.col("__et"))
        )
        .groupBy("event_type")
        .agg(
            rank_ok(0.5, "p50").alias("p50_rank_ok"),
            rank_ok(0.95, "p95").alias("p95_rank_ok"),
        )
    )


@register(
    "events_top_users_by_type",
    """
    SELECT event_type, value, weight, rank FROM (
      SELECT event_type, user_id AS value,
             CAST(COUNT(*) AS BIGINT) AS weight,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY COUNT(*) DESC, user_id) AS INT) AS rank
      FROM events GROUP BY event_type, user_id
    ) WHERE rank <= 5
    """,
    "skew-proof per-key top-N by weight: algebraic per-value counts, "
    "candidate pruning per salt bucket, final re-rank "
    "(the reference's future-work top-N, docs/design-stateful.md:166)",
)
def events_top_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    return salted_top_values(
        _t(spark, sf_dir, "events"), ["event_type"], "user_id", n=5, salt=16
    )


_EMB_T = 0.42  # driver's synthetic embeddings are near-orthogonal (max cos ≈ 0.51)
_EMB_COS = (
    "round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), "
    "CAST(b.embedding AS DOUBLE[])), 6)"
)


@register(
    "dedup_embedding_cosine",
    f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_EMB_COS} AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {_EMB_COS} >= {_EMB_T}
    """,
    "embedding-cosine near-dup pairs (exact all-pairs baseline; norms "
    "precomputed per row so the quadratic stage is one dot per pair)",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_near_dup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=_EMB_T
    )


_EMB_LSH_T = 0.9
_EMB_COS_U = (
    "round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), "
    "CAST(b.embedding AS DOUBLE[])), 6)"
)
_EMB_LSH_DIMS, _EMB_LSH_BITS, _EMB_LSH_BANDS = 64, 16, 6
#: synthetic-twin id offset. Must sit ABOVE every tier's real id range:
#: the octave generators replicate ids with large offsets (vec_id up to
#: 9.9e6 / doc_id up to 9.9e6 at the 100× tier), and a colliding shift
#: silently merges a twin with an unrelated real row — both engines
#: agreed (it graded green) but the "corpus ∪ exact twins" semantics
#: were mush at 100×. 1e12 clears any plausible octave tier; ids stay
#: far below 2^63.
_TWIN_SHIFT = 10**12
_EMB_LSH_UNION = f"""
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + {_TWIN_SHIFT}, embedding FROM embeddings
"""


def _emb_lsh_oracle() -> str:
    """Bucketed SRP oracle — the SAME quantize→sign→band→collision→
    exact-verify pipeline the operator runs, in DuckDB SQL (the
    integer-exact SRP discipline _srp_probe_oracle already grades
    key-for-key). n·bands band rows, tiny bucket joins — tractable at
    every octave tier, unlike the old all-pairs-over-the-union form
    (8e10 cosines at 100×). The all-pairs form remains the RECALL
    check, as a test at small SF (test_kmeans_registry/
    test_emb_lsh_bucketed_oracle_matches_allpairs)."""
    from dragnet_spark.ops.dedup import (
        srp_banded_sql,
        srp_planes_q,
        srp_quantize_sql,
    )

    planes = srp_planes_q(_EMB_LSH_DIMS, _EMB_LSH_BANDS, _EMB_LSH_BITS, 42)
    banded = srp_banded_sql(planes, _EMB_LSH_BANDS, _EMB_LSH_BITS)
    return f"""
    WITH u AS ({_EMB_LSH_UNION}),
    qv_src AS (SELECT vec_id AS id, {srp_quantize_sql()} AS qv FROM u),
    banded AS ({banded}),
    cand AS (
      SELECT DISTINCT x.id AS id_a, y.id AS id_b
      FROM banded x JOIN banded y
        ON x.band = y.band AND x.bucket = y.bucket AND x.id < y.id
    )
    SELECT c.id_a, c.id_b, {_EMB_COS_U} AS cosine
    FROM cand c
    JOIN u a ON a.vec_id = c.id_a
    JOIN u b ON b.vec_id = c.id_b
    WHERE {_EMB_COS_U} >= {_EMB_LSH_T}
    """


@register(
    "dedup_embedding_lsh",
    _emb_lsh_oracle(),
    "near-dup via sign-random-projection LSH at its working regime "
    "(threshold 0.9): corpus ∪ exact twins; candidates collide on "
    "16-bit sign buckets per band — the shuffle keys on (band, bucket), "
    "never the O(n^2) cross product — then exact-cosine verification. "
    "Identical vectors collide in every band, so recall is exactly 1 "
    "here (asserted against the all-pairs form by test at small SF); "
    "the oracle reproduces the bucketed pipeline itself in DuckDB "
    "(integer-exact SRP keys), so this grades at EVERY octave tier "
    "including 100×.",
)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    twins = emb.select(
        (F.col("vec_id") + _TWIN_SHIFT).alias("vec_id"), F.col("embedding")
    )
    corpus = emb.select("vec_id", "embedding").unionByName(twins)
    return embedding_near_dup_lsh(
        corpus,
        threshold=_EMB_LSH_T,
        dims=64,
        bits_per_band=16,
        bands=6,
    ).select("id_a", "id_b", "cosine")


def _emb_lsh_autobits_oracle() -> str:
    """Auto-width SRP oracle: same bucketed pipeline as
    :func:`_emb_lsh_oracle`, but the band width is the scalar
    subquery ``LEAST(32, GREATEST(8, ceil(log2(n·bands/8))))`` —
    the exact expression ``auto_bits_per_band(n, bands)`` computes in
    Python (same libm log2 over the same exactly-representable
    quotient; parity pinned by test_autobits_sql_parity) — and every
    bucket key is the ``bits``-prefix of the full 32-bit band
    signature (srp_planes_q_prefix's slicing rule), so ONE static
    SQL string grades the runtime-chosen width at every tier."""
    from dragnet_spark.ops.dedup import (
        AUTOBITS_MAX,
        srp_banded_sql,
        srp_planes_q,
        srp_quantize_sql,
    )

    planes = srp_planes_q(_EMB_LSH_DIMS, _EMB_LSH_BANDS, AUTOBITS_MAX, 42)
    banded = srp_banded_sql(planes, _EMB_LSH_BANDS, AUTOBITS_MAX)
    return f"""
    WITH u AS ({_EMB_LSH_UNION}),
    nb AS (
      SELECT LEAST({AUTOBITS_MAX}, GREATEST(8, CAST(ceil(log2(
        COUNT(*) * {_EMB_LSH_BANDS} / 8.0)) AS INT))) AS bits
      FROM u
    ),
    qv_src AS (SELECT vec_id AS id, {srp_quantize_sql()} AS qv FROM u),
    bandedf AS ({banded}),
    banded AS (
      SELECT id, band, substring(bucket, 1, (SELECT bits FROM nb)) AS bucket
      FROM bandedf
    ),
    cand AS (
      SELECT DISTINCT x.id AS id_a, y.id AS id_b
      FROM banded x JOIN banded y
        ON x.band = y.band AND x.bucket = y.bucket AND x.id < y.id
    )
    SELECT c.id_a, c.id_b, {_EMB_COS_U} AS cosine
    FROM cand c
    JOIN u a ON a.vec_id = c.id_a
    JOIN u b ON b.vec_id = c.id_b
    WHERE {_EMB_COS_U} >= {_EMB_LSH_T}
    """


@register(
    "dedup_embedding_lsh_autobits",
    _emb_lsh_autobits_oracle(),
    "SRP near-dup at the CORPUS-SCALED band width — the regime fix "
    "for the pinned-16-bit form's ~400k-vector ceiling (measured at "
    "the 1000× tier: 16-bit bands admitted ~7e8 random candidates "
    "and filled 76 GB of shuffle disk): one COUNT sizes bits = "
    "max(8, ceil(log2(n·bands/8))), holding random band collisions "
    "at ~4·n candidates at ANY corpus size. Both engines derive the "
    "working width as a PREFIX of the same full 32-bit plane matrix "
    "(srp_planes_q_prefix / substring(bucket,1,bits)), so one static "
    "oracle grades the dynamic width at every octave tier. Recall at "
    "the 0.9 working regime is unchanged — identical vectors collide "
    "at every width",
)
def dedup_embedding_lsh_autobits(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from dragnet_spark.ops.dedup import embedding_near_dup_lsh_autobits

    emb = _t(spark, sf_dir, "embeddings")
    twins = emb.select(
        (F.col("vec_id") + _TWIN_SHIFT).alias("vec_id"), F.col("embedding")
    )
    corpus = emb.select("vec_id", "embedding").unionByName(twins)
    return embedding_near_dup_lsh_autobits(
        corpus,
        threshold=_EMB_LSH_T,
        dims=_EMB_LSH_DIMS,
        bands=_EMB_LSH_BANDS,
    ).select("id_a", "id_b", "cosine")


@register(
    "dedup_embedding_lsh_autobits_store",
    _emb_lsh_autobits_oracle(),
    "STORE-AMORTIZED auto-width SRP near-dup — "
    "dedup_minhash_lsh_store's posture on embeddings: the corpus "
    "persists its (band, bucket, vec_id) rows once (build_srp_store "
    "with the prefix-sliced auto-width planes, no pair-key dir), and "
    "pair discovery runs from the persisted rows "
    "(index/fingerprints.srp_store_pairs) — the quantize+sign-matmul "
    "never re-runs at dedup time. Width = min(32, max(8, "
    "ceil(log2(n·bands/8)))) over the SAME union corpus as the batch "
    "form, keys a prefix of the same static 32-bit plane matrix, so "
    "the SAME static oracle grades both batch and from-store paths "
    "at every tier",
)
def dedup_embedding_lsh_autobits_store(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os

    from dragnet_spark.index.fingerprints import (
        SRP_META,
        build_srp_store,
        srp_store_pairs,
    )
    from dragnet_spark.ops.dedup import auto_srp_width

    emb = _t(spark, sf_dir, "embeddings")
    twins = emb.select(
        (F.col("vec_id") + _TWIN_SHIFT).alias("vec_id"), F.col("embedding")
    )
    corpus = emb.select("vec_id", "embedding").unionByName(twins)
    path = _store_amort_path(sf_dir, "srp_autobits")
    if not os.path.exists(os.path.join(path, SRP_META)):
        n = corpus.count()
        bits, planes = auto_srp_width(n, _EMB_LSH_BANDS, _EMB_LSH_DIMS, 42)
        build_srp_store(
            spark,
            corpus,
            path,
            vec_col="embedding",
            id_col="vec_id",
            bands=_EMB_LSH_BANDS,
            bits_per_band=bits,
            seed=42,
            dims=_EMB_LSH_DIMS,
            planes_q=planes,
            with_pairs=False,
        )
    return srp_store_pairs(spark, path, corpus, threshold=_EMB_LSH_T)


@register(
    "dedup_embedding_lsh_autobits_store_cli",
    _emb_lsh_autobits_oracle(),
    "the store-amortized SEMANTIC near-dup pipeline driven ENTIRELY "
    "through the dn CLI (VERDICT r13 #4 — the SRP mirror of "
    "dedup_minhash_lsh_store_cli): `dn srp-build --bits auto "
    "--no-pair-keys` materializes the auto-width store (corpus-sized "
    "width from ops/dedup.auto_bits_per_band, prefix-sliced planes "
    "off the static 32-bit matrix), then `dn srp-pairs --mode bucket "
    "--out SINK` runs per-band bucket-local exact-cosine verify from "
    "the persisted (band, bucket, vec_id) rows — the shape that "
    "completed the 10⁴ octave. The result is read back from the CLI's "
    "band-partitioned parquet sink with the same cross-band collapse "
    "the library return applies; pairs are bit-identical to "
    "dedup_embedding_lsh_autobits so the SAME static oracle grades "
    "batch, from-store, and CLI-routed runs",
)
def dedup_embedding_lsh_autobits_store_cli(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import io
    import os
    import tempfile

    from dragnet_spark import cli as _cli

    key = f"{sf_dir}::cli_srp_pairs"
    if key not in _STOREAMORT_CACHE:
        root = tempfile.mkdtemp(prefix="dragnet_clisrp_")
        emb = _t(spark, sf_dir, "embeddings")
        twins = emb.select(
            (F.col("vec_id") + _TWIN_SHIFT).alias("vec_id"),
            F.col("embedding"),
        )
        corpus_path = os.path.join(root, "corpus.parquet")
        (
            emb.select("vec_id", "embedding")
            .unionByName(twins)
            .write.parquet(corpus_path)
        )
        store = os.path.join(root, "store")
        sink = os.path.join(root, "pairs")
        cfg = os.path.join(root, "dn.json")
        buf = io.StringIO()
        rc = _cli.main(
            [
                "srp-build", corpus_path, "--out", store,
                "--bands", str(_EMB_LSH_BANDS), "--bits", "auto",
                "--seed", "42", "--dims", str(_EMB_LSH_DIMS),
                "--no-pair-keys",
            ],
            out=buf,
            config_path=cfg,
        )
        if rc != 0:
            raise RuntimeError(f"srp-build failed: {buf.getvalue()}")
        rc = _cli.main(
            [
                "srp-pairs", store, "--vectors", corpus_path,
                "--threshold", str(_EMB_LSH_T),
                "--mode", "bucket", "--out", sink,
            ],
            out=buf,
            config_path=cfg,
        )
        if rc != 0:
            raise RuntimeError(f"srp-pairs failed: {buf.getvalue()}")
        _STOREAMORT_CACHE[key] = root
    sink = os.path.join(_STOREAMORT_CACHE[key], "pairs")
    return (
        spark.read.parquet(sink)
        .drop("band")
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", "cosine")
    )


_KM_K = 8
_KM_ITERS = 3
#: auto-k target (SemDeDup's k ∝ n regime): 250 rows/cluster gives
#: k=2 at sf0.01 (500 vectors), k=8 at sf0.1 (2,000 vectors — the
#: old pinned value), k=80 at 10×, k=800 at the 100× tier (200k
#: vectors), keeping the within-cluster pair stage LINEAR in the
#: corpus instead of (n/8)²-quadratic
_KM_TARGET = 250


def _kmeans_oracle() -> str:
    from dragnet_spark.ops.kmeans import kmeans_sql

    return kmeans_sql(k=_KM_K, iterations=_KM_ITERS)


@register(
    "semdedup_kmeans",
    _kmeans_oracle(),
    "exact fixed-point k-means (Lloyd, 3 rounds, k=8) over quantized "
    "embeddings — the clustering stage of SemDeDup semantic dedup. "
    "Every step is integer arithmetic (quantize, squared-L2, "
    "lexicographic argmin, truncating-div centroid update, md5 seed "
    "draw), so an ITERATIVE algorithm value-hash grades across engines "
    "(the PageRank discipline, ops/kmeans.py). Centroids are k×dims "
    "driver/broadcast state; per round: one codegen'd assignment pass "
    "+ one (cluster,dim) partial-agg whose output is k·dims rows",
)
def semdedup_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dragnet_spark.ops.kmeans import kmeans_assign

    emb = _t(spark, sf_dir, "embeddings")
    return kmeans_assign(emb, k=_KM_K, iterations=_KM_ITERS).select(
        F.col("id").alias("vec_id"), "cluster", "dist"
    )


def _semdedup_prune_oracle(threshold: float) -> str:
    from dragnet_spark.ops.kmeans import kmeans_sql

    km = kmeans_sql(
        iterations=_KM_ITERS, target_rows_per_cluster=_KM_TARGET
    )
    cos = (
        "round(list_cosine_similarity(CAST(x.embedding AS DOUBLE[]), "
        "CAST(y.embedding AS DOUBLE[])), 6)"
    )
    return f"""
    WITH v AS (
      SELECT a.vec_id AS id, a.cluster, e.embedding
      FROM ({km}) a JOIN embeddings e ON e.vec_id = a.vec_id
    )
    SELECT x.cluster, x.id AS kept_id, y.id AS dropped_id, {cos} AS cosine
    FROM v x JOIN v y ON x.cluster = y.cluster AND x.id < y.id
    WHERE {cos} >= {threshold}
    """


@register(
    "semdedup_prune",
    _semdedup_prune_oracle(_EMB_T),
    "SemDeDup pruning at the paper's SCALE regime (auto-k, k ∝ n: "
    "target 250 rows/cluster — k=8 at sf0.01, k=800 at the 100× "
    "tier): near-dup pair search restricted to k-means cluster "
    "mates, turning semantic dedup into k independent bounded-size "
    "searches — LINEAR in the corpus, not (n/pinned-k)² (Abbas et "
    "al. 2023). One shuffle on cluster, then per-cluster BLAS "
    "matmul (applyInPandas). Keeps the lower id of each "
    "within-cluster pair with cosine >= threshold. Recall vs the "
    "all-pairs baseline is by construction the fraction of near-dup "
    "pairs that co-cluster (true near-identical pairs, cos→1, "
    "co-cluster almost surely; this corpus's near-orthogonal 0.42s "
    "split across boundaries — dedup_embedding_cosine remains the "
    "exhaustive twin)",
)
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dragnet_spark.ops.kmeans import semdedup_prune_fused

    emb = _t(spark, sf_dir, "embeddings")
    # the pairs of kmeans_assign's auto-k clusters (pinned against a
    # brute-force search by test_semdedup_prune_fused_matches_composed)
    return semdedup_prune_fused(
        emb, iterations=_KM_ITERS,
        target_rows_per_cluster=_KM_TARGET, threshold=_EMB_T,
        mode="flat",
    )[0]


def _semdedup_prune_two_level_oracle(threshold: float) -> str:
    from dragnet_spark.ops.kmeans import kmeans_two_level_sql

    km = kmeans_two_level_sql(
        iterations=_KM_ITERS, target_rows_per_cluster=_KM_TARGET
    )
    cos = (
        "round(list_cosine_similarity(CAST(x.embedding AS DOUBLE[]), "
        "CAST(y.embedding AS DOUBLE[])), 6)"
    )
    return f"""
    WITH v AS (
      SELECT a.vec_id AS id, a.cluster, e.embedding
      FROM ({km}) a JOIN embeddings e ON e.vec_id = a.vec_id
    )
    SELECT x.cluster, x.id AS kept_id, y.id AS dropped_id, {cos} AS cosine
    FROM v x JOIN v y ON x.cluster = y.cluster AND x.id < y.id
    WHERE {cos} >= {threshold}
    """


@register(
    "semdedup_prune_two_level",
    _semdedup_prune_two_level_oracle(_EMB_T),
    "SemDeDup pruning with the HIERARCHICAL (two-level) assignment — "
    "the scale form past flat auto-k, whose n·k·dims assignment cost "
    "is n²·dims/target (measured factor 27.6 on 10× data at the "
    "1000× tier): level 1 clusters into ceil(√k) super-clusters "
    "(n·√k), level 2 Lloyd-clusters each super independently via one "
    "applyInPandas pass (Σ m_g·k₂ ≈ n·√k) — total 2·n·√k, every step "
    "the same exact integer discipline, so the unrolled two-level "
    "DuckDB twin (kmeans_two_level_sql) grades it bit-for-bit. "
    "Cluster ids pack as super·2²⁰+sub; the pair search runs inside "
    "each super-cluster task, same bounded-cluster linear pair stage",
)
def semdedup_prune_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dragnet_spark.ops.kmeans import semdedup_prune_fused

    emb = _t(spark, sf_dir, "embeddings")
    # level-2 Lloyd AND the pair search run inside the
    # per-super-cluster task (one vector-sized exchange total); the
    # pairs of kmeans_assign_two_level's clusters (pinned by
    # test_semdedup_prune_fused_matches_composed)
    return semdedup_prune_fused(
        emb, iterations=_KM_ITERS,
        target_rows_per_cluster=_KM_TARGET, threshold=_EMB_T,
        mode="two_level",
    )[0]


def _semdedup_prune_auto_oracle(threshold: float) -> str:
    """One static SQL that grades semdedup_prune_fused's mode="auto"
    ROUTING: both branch pipelines appear, each reading from a source
    guarded by the router's own k-condition (k = ceil(n/target) vs
    TWO_LEVEL_MIN_K — the exact integer expression auto_k computes),
    so at any tier exactly one branch sees rows and the other's entire
    Lloyd chain runs over empty tables (cheap by construction — the
    guard lives in the deepest scan, not an outer WHERE an optimizer
    might not push).
    """
    from dragnet_spark.ops.kmeans import (
        TWO_LEVEL_MIN_K,
        kmeans_sql,
        kmeans_two_level_sql,
    )

    t = _KM_TARGET
    guard = f"(SELECT (COUNT(*) + {t - 1}) // {t} FROM embeddings)"
    src_flat = (
        f"SELECT vec_id, embedding FROM embeddings "
        f"WHERE {guard} < {TWO_LEVEL_MIN_K}"
    )
    src_two = (
        f"SELECT vec_id, embedding FROM embeddings "
        f"WHERE {guard} >= {TWO_LEVEL_MIN_K}"
    )
    km_flat = kmeans_sql(
        iterations=_KM_ITERS, target_rows_per_cluster=t, source=src_flat
    )
    km_two = kmeans_two_level_sql(
        iterations=_KM_ITERS, target_rows_per_cluster=t, source=src_two
    )
    cos = (
        "round(list_cosine_similarity(CAST(x.embedding AS DOUBLE[]), "
        "CAST(y.embedding AS DOUBLE[])), 6)"
    )
    return f"""
    WITH vflat AS (
      SELECT a.vec_id AS id, a.cluster, e.embedding
      FROM ({km_flat}) a JOIN embeddings e ON e.vec_id = a.vec_id
    ),
    vtwo AS (
      SELECT a.vec_id AS id, a.cluster, e.embedding
      FROM ({km_two}) a JOIN embeddings e ON e.vec_id = a.vec_id
    )
    SELECT CAST(x.cluster AS BIGINT) AS cluster,
           x.id AS kept_id, y.id AS dropped_id, {cos} AS cosine
    FROM vflat x JOIN vflat y ON x.cluster = y.cluster AND x.id < y.id
    WHERE {cos} >= {threshold}
    UNION ALL
    SELECT CAST(x.cluster AS BIGINT) AS cluster,
           x.id AS kept_id, y.id AS dropped_id, {cos} AS cosine
    FROM vtwo x JOIN vtwo y ON x.cluster = y.cluster AND x.id < y.id
    WHERE {cos} >= {threshold}
    """


@register(
    "semdedup_prune_auto",
    _semdedup_prune_auto_oracle(_EMB_T),
    "SemDeDup pruning through the PRODUCTION entry point "
    "(semdedup_prune_fused mode=auto — `dn semdedup --target-rows`): "
    "one count sizes k = ceil(n/250) and routes flat assignment below "
    "k=1024 (lower constants, the measured-good regime to the 100x "
    "tier) or two-level at/above it (the n*sqrt(k) form that retired the "
    "1000x tier's factor-27.6 wall). The oracle grades the ROUTING "
    "itself: both branch pipelines are present, each source-guarded "
    "by the router's own integer k-condition, so exactly one branch "
    "sees rows at any tier and a routing bug on either side "
    "hash-mismatches",
)
def semdedup_prune_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dragnet_spark.ops.kmeans import semdedup_prune_fused

    emb = _t(spark, sf_dir, "embeddings")
    # k routes at TWO_LEVEL_MIN_K from the fused prune's own count
    return semdedup_prune_fused(
        emb, iterations=_KM_ITERS,
        target_rows_per_cluster=_KM_TARGET, threshold=_EMB_T,
        mode="auto",
    )[0]


_ANN_ORACLE = """
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 10),
     c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
           FROM embeddings),
     scored AS (
       SELECT q.query_id, c.neighbor_id,
              round(list_cosine_similarity(q.qv, c.cv), 6) AS score
       FROM q, c WHERE q.query_id <> c.neighbor_id
     ),
     ranked AS (
       SELECT query_id, neighbor_id, score,
              CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, neighbor_id) AS INT) AS rank
       FROM scored
     )
SELECT * FROM ranked WHERE rank <= 5
"""


@register(
    "ann_cosine_topk",
    _ANN_ORACLE,
    "exact brute-force cosine top-5 for 10 query vectors (baseline ANN; "
    "built-in zip_with/aggregate expressions, corpus side never shuffles)",
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


@register(
    "ann_cosine_topk_blocked",
    _ANN_ORACLE,
    "same result via mapInPandas blocked BLAS matmul (the 100 TB "
    "throughput path) — must agree with the expression path exactly",
)
def ann_cosine_topk_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return cosine_topk_blocked(emb, emb.filter(F.col("vec_id") < 10), k=5)


@register(
    "curation_pipeline",
    f"""
    WITH kept AS (
      SELECT doc_id, source, text
      FROM documents
      WHERE {_text.quality_sql('text')['n_tokens']} >= 10
        AND {_text.quality_sql('text')['digit_ratio']} <= 0.3
    ),
    survivors AS (
      SELECT MIN(doc_id) AS doc_id
      FROM kept GROUP BY {_text.fingerprint_sql('text')}
    )
    SELECT k.source, COUNT(*) AS n_docs,
           CAST(SUM({_text.token_count_sql('k.text')}) AS BIGINT) AS total_tokens
    FROM kept k JOIN survivors s ON k.doc_id = s.doc_id
    GROUP BY k.source
    """,
    "end-to-end curation composite: quality gate -> exact-dedup "
    "survivors -> per-source token budget, all in one declarative plan "
    "(the shape of a real training-data prep job)",
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    qc = _text.quality_columns("text")
    kept = docs.filter((qc["n_tokens"] >= 10) & (qc["digit_ratio"] <= 0.3))
    survivors = (
        kept.groupBy(_text.fingerprint("text").alias("fp"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return (
        kept.join(survivors, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(_text.token_count("text")).cast("long").alias("total_tokens"),
        )
    )


@register(
    "ann_ivf_topk",
    _ANN_ORACLE,  # n_probe == n_centroids is exhaustive, so the full
    # IVF machinery (centroid training, cell assignment, cell join,
    # scoring) must reproduce the exact top-k; the pruned-probe
    # approximate path (n_probe < n_centroids) is pytest-covered
    "IVF (inverted-file) ANN: k-means cells from a bounded driver "
    "sample, distributed cell assignment, queries probe n_probe cells "
    "— scan cost ~n_probe/n_centroids of the corpus (the scale path "
    "beyond one blocked full pass per query batch)",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dragnet_spark.ops.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb, emb.filter(F.col("vec_id") < 10), k=5, n_centroids=16, n_probe=16
    )


@register(
    "embedding_int8_audit",
    """
    SELECT vec_id AS id,
           CAST(len(embedding) AS INT) AS n_dims,
           CAST(1 AS BOOLEAN) AS recon_ok,
           CAST(1 AS BOOLEAN) AS codes_in_range
    FROM embeddings
    """,
    "int8 embedding quantization audit: symmetric per-vector codes "
    "(scale = max|v|/127, round-to-nearest) — the 4× storage/IO lever "
    "for a 100 TB embedding corpus — with the quantizer's CONTRACT as "
    "the oracle: every reconstruction error ≤ scale/2 and every code "
    "in [-127,127], per vector. Pure transform/zip_with expressions, "
    "narrow map, no Python; quantized-ANN recall is pytest-pinned "
    "(test_ops)",
)
def embedding_int8_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dragnet_spark.ops.similarity import dequantize_error_audit

    return dequantize_error_audit(_t(spark, sf_dir, "embeddings"))


_ANN_QUANT_ORACLE = """
    WITH deq AS (
      SELECT vec_id,
             CASE WHEN amax > 0 THEN
               list_transform(embedding,
                 x -> round(CAST(x AS DOUBLE) / (amax / 127.0))
                      * (amax / 127.0))
             ELSE list_transform(embedding, x -> 0.0) END AS v
      FROM (SELECT vec_id, embedding,
                   CAST(list_max(list_transform(embedding,
                        x -> abs(x))) AS DOUBLE) AS amax
            FROM embeddings)
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM deq WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, v AS cv FROM deq),
    scored AS (
      SELECT q.query_id, c.neighbor_id,
             round(list_cosine_similarity(q.qv, c.cv), 6) AS score
      FROM q, c WHERE q.query_id <> c.neighbor_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, score,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY score DESC, neighbor_id) AS INT) AS rank
      FROM ranked_src
    )
    SELECT * FROM ranked WHERE rank <= 5
    """.replace("ranked_src", "scored")


@register(
    "ann_quantized_topk",
    _ANN_QUANT_ORACLE,
    "end-to-end quantized ANN: the corpus quantizes to int8 "
    "(ops/similarity.quantize_embeddings), DEQUANTIZED vectors rank "
    "with the blocked matmul scorer, and — because symmetric "
    "round-to-nearest is plain arithmetic — DuckDB reproduces the "
    "entire chain (quantize → dequantize → cosine → rank) as the "
    "exact oracle. This is the 4× IO configuration an embedding "
    "corpus actually serves from, graded end to end rather than only "
    "contract-audited",
)
def ann_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dragnet_spark.ops.similarity import quantize_embeddings

    emb = _t(spark, sf_dir, "embeddings")
    deq = quantize_embeddings(emb).select(
        F.col("id").alias("vec_id"),
        F.transform(
            "qvec", lambda q: q.cast("double") * F.col("scale")
        ).alias("embedding"),
    )
    return cosine_topk_blocked(deq, deq.filter(F.col("vec_id") < 10), k=5)


_VINDEX_CACHE: dict[str, str] = {}
_FPSTORE_CACHE: dict[str, str] = {}


@register(
    "dedup_incremental_probe",
    f"""
    WITH corpus AS (SELECT doc_id, {_text.fingerprint_sql('text')} AS fp
                    FROM documents WHERE doc_id % 5 <> 0),
    newb AS (SELECT doc_id, {_text.fingerprint_sql('text')} AS fp
             FROM documents WHERE doc_id % 5 = 0),
    hits AS (SELECT n.doc_id, MIN(c.doc_id) AS dup_of
             FROM newb n JOIN corpus c ON n.fp = c.fp GROUP BY 1)
    SELECT n.doc_id, n.fp, h.dup_of,
           (h.dup_of IS NOT NULL) AS is_duplicate
    FROM newb n LEFT JOIN hits h ON n.doc_id = h.doc_id
    """,
    "incremental ingest dedup against a MATERIALIZED fingerprint store "
    "(index/fingerprints.py): the corpus slice (doc_id%5≠0) persists "
    "as (fp_bucket, fp, doc_id) partitioned by the fingerprint's "
    "first hex byte; the arriving batch (doc_id%5=0) fingerprints "
    "itself, broadcast-joins the store on (bucket, fp) — dynamic "
    "partition pruning skips buckets the batch doesn't hash into — "
    "and reports dup_of without EVER re-reading corpus text. The "
    "continuous-ingest shape a 100 TB pipeline runs per batch, "
    "mirroring the reference's never-rescan index discipline",
)
def dedup_incremental_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from dragnet_spark.index.fingerprints import (
        build_fingerprint_store,
        probe_new_documents,
    )

    docs = _t(spark, sf_dir, "documents")
    if sf_dir not in _FPSTORE_CACHE:
        path = tempfile.mkdtemp(prefix="dragnet_fpstore_")
        build_fingerprint_store(
            spark, docs.filter(F.col("doc_id") % 5 != 0), path
        )
        _FPSTORE_CACHE[sf_dir] = path
    return probe_new_documents(
        spark, _FPSTORE_CACHE[sf_dir], docs.filter(F.col("doc_id") % 5 == 0)
    )


_FPSTORE_MAINT_CACHE: dict[str, str] = {}


@register(
    "dedup_probe_after_compact",
    f"""
    WITH corpus AS (SELECT doc_id, {_text.fingerprint_sql('text')} AS fp
                    FROM documents WHERE doc_id % 5 <> 0),
    newb AS (SELECT doc_id, {_text.fingerprint_sql('text')} AS fp
             FROM documents WHERE doc_id % 5 = 0),
    hits AS (SELECT n.doc_id, MIN(c.doc_id) AS dup_of
             FROM newb n JOIN corpus c ON n.fp = c.fp GROUP BY 1)
    SELECT n.doc_id, n.fp, h.dup_of,
           (h.dup_of IS NOT NULL) AS is_duplicate
    FROM newb n LEFT JOIN hits h ON n.doc_id = h.doc_id
    """,
    "store-maintenance equivalence, driver-graded: the fingerprint "
    "store is built, then fragmented by re-appending its own corpus "
    "slice (duplicate rows, extra files — a replayed ingest), then "
    "COMPACTED (index/fingerprints.compact_fingerprint_store: "
    "keep-min per fingerprint, stage-then-swap rewrite), and only "
    "then probed. The oracle is dedup_incremental_probe's SQL "
    "verbatim: replays and compaction must be invisible to every "
    "probe answer — the maintenance job is graded against the same "
    "truth as the clean build, not just unit-tested",
)
def dedup_probe_after_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from dragnet_spark.index.fingerprints import (
        append_fingerprints,
        build_fingerprint_store,
        compact_fingerprint_store,
        probe_new_documents,
    )

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    if sf_dir not in _FPSTORE_MAINT_CACHE:
        path = tempfile.mkdtemp(prefix="dragnet_fpmaint_")
        build_fingerprint_store(spark, corpus, path)
        append_fingerprints(spark, corpus, path)  # replayed ingest
        compact_fingerprint_store(spark, path)
        _FPSTORE_MAINT_CACHE[sf_dir] = path
    return probe_new_documents(
        spark,
        _FPSTORE_MAINT_CACHE[sf_dir],
        docs.filter(F.col("doc_id") % 5 == 0),
    )


@register(
    "ann_vector_index_topk",
    _ANN_ORACLE,  # exhaustive probing (n_probe == n_centroids) makes
    # the materialized-index path exact, so the brute-force SQL top-k
    # grades the whole build→persist→prune→score chain; the pruned
    # approximate path and the partition-pruning plan shape are
    # pytest-covered (test_vector_index.py)
    "materialized IVF vector index (index/vector.py): the event-index "
    "build-once pattern applied to embeddings — vectors persisted "
    "partitionBy(cell) under seeded k-means centroids, queries probe "
    "their cells driver-side and the scan's cell IN (...) filter "
    "partition-prunes every other cell directory, so probe I/O is "
    "~n_probe/n_centroids of the corpus at any scale",
)
def ann_vector_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from dragnet_spark.index.vector import (
        build_vector_index,
        query_vector_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    if sf_dir not in _VINDEX_CACHE:
        path = tempfile.mkdtemp(prefix="dragnet_vindex_")
        build_vector_index(spark, emb, path, n_centroids=16)
        _VINDEX_CACHE[sf_dir] = path
    return query_vector_index(
        spark,
        _VINDEX_CACHE[sf_dir],
        emb.filter(F.col("vec_id") < 10),
        k=5,
        n_probe=16,
    )


_VINDEX_Q_CACHE: dict[str, str] = {}


@register(
    "ann_vector_index_quantized",
    _ANN_QUANT_ORACLE,  # at n_probe == n_centroids the quantized index
    # is exhaustive over DEQUANTIZED vectors, so DuckDB's
    # quantize→dequantize→cosine→rank chain grades the whole persisted
    # int8 path exactly; pruned-probe recall ≥0.9 vs the float index is
    # pytest-pinned (test_vector_index.py)
    "QUANTIZED materialized IVF index (index/vector.py, "
    "quantize=True): cells persist int8 codes + one scale per vector "
    "— ~4× less probe I/O than the float store at identical "
    "partition-pruned plan shape — and the probe dequantizes inline "
    "(q*scale, narrow transform) before the exact scorer. Symmetric "
    "round-to-nearest is plain arithmetic, so the full build→persist→"
    "prune→dequantize→score chain is graded bit-for-bit against the "
    "SQL twin. This is the configuration a 100 TB embedding corpus "
    "actually serves from: 1 byte/dim off disk, floats only in flight",
)
def ann_vector_index_quantized(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import tempfile

    from dragnet_spark.index.vector import (
        build_vector_index,
        query_vector_index,
    )
    from dragnet_spark.ops.similarity import quantize_embeddings

    emb = _t(spark, sf_dir, "embeddings")
    if sf_dir not in _VINDEX_Q_CACHE:
        path = tempfile.mkdtemp(prefix="dragnet_vindexq_")
        build_vector_index(spark, emb, path, n_centroids=16, quantize=True)
        _VINDEX_Q_CACHE[sf_dir] = path
    # the oracle dequantizes the query side too — mirror it exactly
    deq_q = quantize_embeddings(emb.filter(F.col("vec_id") < 10)).select(
        F.col("id").alias("vec_id"),
        F.transform(
            "qvec", lambda q: q.cast("double") * F.col("scale")
        ).alias("embedding"),
    )
    return query_vector_index(
        spark, _VINDEX_Q_CACHE[sf_dir], deq_q, k=5, n_probe=16
    )


@register(
    "multimodal_dhash_dedup",
    """
    SELECT d.doc_id, CAST(1 AS BOOLEAN) AS partner_in_bucket
    FROM documents d
    JOIN documents p ON p.doc_id = d.doc_id + 1 - 2 * (d.doc_id % 2)
    """,
    "perceptual image dedup via 64-bit dHash (difference hash): every "
    "doc id synthesizes a 16×16 PNG whose pattern depends on id//2 "
    "and whose BRIGHTNESS depends on id%2 — so each doc has a twin "
    "that byte-level fingerprints cannot match (the payload bytes "
    "differ) but the perceptual hash must (brightness shifts preserve "
    "every adjacent-pixel comparison). The Spark side REALLY encodes, "
    "REALLY decodes, hashes (ops/multimodal.perceptual_hash, "
    "mapInPandas, payloads never shuffle), groups by the 8-byte hash, "
    "and reports whether the twin landed in the same bucket; the "
    "oracle states the invariant (all TRUE) over exactly the ids "
    "whose twin id exists in the table — a self-join on the partner "
    "id in BOTH engines, so an odd row count or id gap at a future "
    "SF can never fail the gate for the generator's parity rather "
    "than a real hash bug. The dedup shape is the text fingerprint "
    "store's: only hashes ride the shuffle",
)
def multimodal_dhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from dragnet_spark.ops.multimodal import encode_png, perceptual_hash

    all_docs = _t(spark, sf_dir, "documents").select("doc_id")
    # Graded population = ids whose brightness twin (id XOR 1) exists;
    # mirrors the oracle's self-join so the invariant tests the HASH,
    # never the generator's row-count parity.
    partner_id = F.col("doc_id") + 1 - 2 * (F.col("doc_id") % 2)
    from dragnet_spark.ops.dedup import _materialize_once

    docs = all_docs.join(
        all_docs.select(F.col("doc_id").alias("__partner")),
        partner_id == F.col("__partner"),
    ).select("doc_id")

    def gen(batches):
        i = np.arange(16)[:, None]
        j = np.arange(16)[None, :]
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                g = ((did // 2) * 31 + i * 7 + j * 13) % 200
                if did % 2:
                    g = g + 20  # brightness twin; 199+20 < 255, no clip
                px = np.repeat(g.astype(np.uint8)[:, :, None], 3, axis=2)
                payloads.append(encode_png(px))
            yield pd.DataFrame(
                {
                    "id": pdf["doc_id"],
                    "media_type": "image/png",
                    "payload": payloads,
                }
            )

    media = docs.mapInPandas(
        gen, schema="id long, media_type string, payload binary"
    )
    # materialize the (id, dhash) table once: the bucket self-join
    # references it twice and Catalyst re-embeds — i.e. re-encodes and
    # re-decodes every PNG — per reference (measured r14: two full
    # MapInPandas codec chains in the plan). 16 bytes/row, linear.
    hashed = _materialize_once(
        perceptual_hash(media, decode_stub=False).select("id", "dhash")
    )
    a = hashed.select(F.col("id").alias("doc_id"), "dhash")
    b = hashed.select(F.col("id").alias("other_id"), "dhash")
    expected = F.col("doc_id") + 1 - 2 * (F.col("doc_id") % 2)
    res = (
        a.join(b, "dhash")
        .filter(F.col("other_id") != F.col("doc_id"))
        .groupBy("doc_id")
        .agg(F.max(F.col("other_id") == expected).alias("partner_in_bucket"))
    )
    return docs.join(res, "doc_id", "left").select(
        "doc_id",
        F.coalesce("partner_in_bucket", F.lit(False)).alias(
            "partner_in_bucket"
        ),
    )


@register(
    "multimodal_audio_tone_probe",
    """
    SELECT doc_id,
           CAST(100 + (doc_id % 30) * 20 AS DOUBLE) AS freq_hz,
           CAST(1 AS BOOLEAN) AS centroid_ok,
           CAST(1 AS BOOLEAN) AS rolloff_ok,
           CAST(1 AS BOOLEAN) AS zcr_ok
    FROM documents
    """,
    "audio DSP probe with a SQL oracle: each doc id synthesizes a "
    "pure sine (freq = 100 + id%30·20 Hz, exactly periodic over the "
    "0.5 s / 8 kHz buffer) and the REAL decode→rFFT pipeline "
    "(ops/multimodal.audio_spectral_stats, mapInPandas) must recover "
    "it — spectral centroid and 85% rolloff within 1 Hz of the tone, "
    "zero-crossing rate within 1% of 2f/rate. The oracle is the "
    "arithmetic the DSP must reproduce, so the whole encode→decode→"
    "FFT chain is driver-graded without DuckDB touching a sample",
)
def multimodal_audio_tone_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from dragnet_spark.ops.multimodal import (
        audio_spectral_stats, encode_wav,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    rate, n = 8000, 4000

    def gen(batches):
        t = np.arange(n) / rate
        for pdf in batches:
            payloads, freqs = [], []
            for did in pdf["doc_id"]:
                f = 100 + (int(did) % 30) * 20
                payloads.append(
                    encode_wav(0.5 * np.sin(2 * np.pi * f * t), rate)
                )
                freqs.append(float(f))
            yield pd.DataFrame(
                {
                    "id": pdf["doc_id"],
                    "media_type": "audio/wav",
                    "payload": payloads,
                    "freq_hz": freqs,
                }
            )

    media = docs.mapInPandas(
        gen,
        schema="id long, media_type string, payload binary, freq_hz double",
    )
    stats = audio_spectral_stats(media)
    joined = stats.join(
        media.select("id", "freq_hz"), "id"
    )
    return joined.select(
        F.col("id").alias("doc_id"),
        "freq_hz",
        (F.abs(F.col("spectral_centroid_hz") - F.col("freq_hz")) < 1.0).alias(
            "centroid_ok"
        ),
        (F.abs(F.col("spectral_rolloff_hz") - F.col("freq_hz")) < 1.0).alias(
            "rolloff_ok"
        ),
        (
            F.abs(
                F.col("zero_cross_rate") - 2 * F.col("freq_hz") / F.lit(rate)
            )
            < 0.01
        ).alias("zcr_ok"),
    )


@register(
    "multimodal_features",
    """
    SELECT doc_id AS id,
           CASE (doc_id % 3 + 1) WHEN 1 THEN 'image/png'
                WHEN 2 THEN 'audio/wav' ELSE 'video/mp4' END AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(t.i AS BIGINT) AS dim,
           -- the (4*i) % 28 wrap is INTENTIONAL and mirrors
           -- ops/multimodal._fake_features exactly (dim 7 reuses
           -- digest bytes 0-3; bytes 28-31 unused): change both
           -- together or the cross-check breaks
           CAST(('0x' || substr(sha256(text), ((4*t.i) % 28)*2 + 1, 8))
                AS UBIGINT) / 4294967296.0 AS feature
    FROM documents, range(8) t(i)
    """,
    "binary-column plumbing: payload bytes → deterministic stub features "
    "via mapInPandas (decode step stubbed; schema/batching real). "
    "Features exploded to (id, dim, feature) — scalar columns hash "
    "cleanly in the cross-check, and the sha256-chunk formula is exact "
    "in both engines (uint32/2^32 is lossless in a double)",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    media = attach_payloads(docs, "text", "doc_id")
    feats = extract_features(media, decode_stub=True)
    return feats.select(
        "id",
        "media_type",
        "n_bytes",
        F.posexplode("features").alias("dim", "feature"),
    ).withColumn("dim", F.col("dim").cast("long"))


@register(
    "multimodal_frame_plan",
    """
    SELECT doc_id AS id, CAST(u.i AS BIGINT) AS frame_index,
           CAST(length(text) AS BIGINT) AS pixels
    FROM documents,
         UNNEST(range(0, greatest(CAST(FLOOR(octet_length(encode(text)) / 10.0) AS INT), 1))) AS u(i)
    WHERE doc_id % 3 = 2
    """,
    "video frame-sampling plan: explode-to-work-units keeps per-task "
    "memory flat when one video fans out to many frames",
)
def multimodal_frame_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    media = attach_payloads(docs, "text", "doc_id")
    plan = frame_sample_plan(media, every_n=10)
    return plan.select(
        "id",
        F.col("frame_index").cast("long").alias("frame_index"),
        F.col("pixels").cast("long").alias("pixels"),
    )


@register(
    "multimodal_video_frames",
    """
    SELECT doc_id AS id, CAST(u.i AS INT) AS frame_index,
           16 AS width, 16 AS height,
           CAST(('0x' || substr(sha256(text), CAST(u.i AS INT) * 2 + 1, 2))
                AS INT) AS luma
    FROM documents,
         UNNEST(range(0, doc_id % 3 + 2)) AS u(i)
    """,
    "REAL video decode (VERDICT r8 #3): every doc synthesizes an "
    "MJPEG-in-AVI clip of doc_id%3+2 frames, frame i a 16x16 solid "
    "gray at sha256(text) byte i; the Spark side REALLY encodes the "
    "AVI (ops/avi.encode_avi_mjpeg: RIFF hdrl/avih/strl + movi 00dc "
    "chunks + idx1), REALLY walks the container and entropy-decodes "
    "every frame JPEG (decode_video_frames -> ops/jpeg.decode_jpeg), "
    "and reports each frame's decoded dimensions and mean. The "
    "oracle recomputes the expected luma from first principles "
    "(digest byte i) — exact, no tolerance: a 16x16 solid gray "
    "round-trips the q90 JPEG path bit-exactly for all 256 levels "
    "(measured). Payloads never shuffle; the explode-to-work-units "
    "output is scalar rows (mapInPandas, frame sampling happens "
    "before any entropy decode)",
)
def multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    import numpy as np
    import pandas as pd

    from dragnet_spark.ops.avi import encode_avi_mjpeg
    from dragnet_spark.ops.multimodal import decode_video_frames

    # Fan the codec work out across every core BEFORE any payload
    # exists: sf-sized documents.parquet is one small file -> one input
    # partition, which would serialize ~15k frame encodes+decodes onto
    # a single task. Repartitioning here shuffles only (doc_id, text)
    # scalars; the synthesized AVI payloads stay inside the narrow
    # gen -> decode chain and never cross a shuffle boundary.
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def gen(batches):
        for pdf in batches:
            payloads = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                digest = hashlib.sha256(text.encode("utf-8")).digest()
                n = int(did) % 3 + 2
                frames = [
                    np.full((16, 16, 3), digest[i], dtype=np.uint8)
                    for i in range(n)
                ]
                payloads.append(encode_avi_mjpeg(frames, fps=10))
            yield pd.DataFrame(
                {
                    "id": pdf["doc_id"],
                    "media_type": "video/x-msvideo",
                    "payload": payloads,
                }
            )

    media = docs.mapInPandas(
        gen, schema="id long, media_type string, payload binary"
    )
    frames = decode_video_frames(media)
    return frames.select(
        "id",
        "frame_index",
        "width",
        "height",
        F.col("mean_r").cast("int").alias("luma"),
    )


@register(
    "multimodal_injected_decoder",
    """
    SELECT doc_id AS id,
           CAST(octet_length(encode(text)) % 5 + 3 AS INT) AS width,
           CAST(octet_length(encode(text)) % 9 + 2 AS INT) AS height,
           CAST(('0x' || substr(sha256(text), 1, 2)) AS INT) AS luma,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents WHERE doc_id % 5 = 0
    """,
    "the decoders={media_type: fn} injection hook, registry-graded "
    "end to end (VERDICT r9 #5): formats whose frames need an entropy "
    "codec this dependency-free engine doesn't carry (H.264/VP9 in "
    "mp4/webm) plug in through extract_features(decoders=...) — here "
    "a deterministic stand-in codec for 'video/mp4' builds a solid "
    "(len%9+2, len%5+3, 3) frame at sha256(payload) byte 0, and the "
    "oracle recomputes width/height/luma from first principles, so "
    "the hook's batching, feature layout ([w, h, means, n_bytes, 0, "
    "6.0]), and error normalization are under the same value-hash "
    "gate as the native codecs. Payloads synthesize in-task and "
    "never shuffle (mapInPandas end to end)",
)
def multimodal_injected_decoder(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    import numpy as np
    import pandas as pd

    from dragnet_spark.ops.multimodal import extract_features

    # fan the codec work across every core BEFORE any payload exists —
    # sf-sized documents.parquet is one file -> one input partition
    # (the multimodal_video_frames lesson); only (doc_id, text)
    # scalars ride the shuffle, payloads stay in their task
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") % 5 == 0)
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "id": pdf["doc_id"],
                    "media_type": "video/mp4",
                    "payload": [t.encode("utf-8") for t in pdf["text"]],
                }
            )

    media = docs.mapInPandas(
        gen, schema="id long, media_type string, payload binary"
    )

    def fake_mp4(payload: bytes):
        d = hashlib.sha256(payload).digest()
        return np.full(
            (len(payload) % 9 + 2, len(payload) % 5 + 3, 3),
            d[0],
            dtype=np.uint8,
        )

    feats = extract_features(
        media, decode_stub=False, decoders={"video/mp4": fake_mp4}
    )
    return feats.select(
        "id",
        F.col("features")[0].cast("int").alias("width"),
        F.col("features")[1].cast("int").alias("height"),
        F.round(F.col("features")[2] * 255, 0).cast("int").alias("luma"),
        "n_bytes",
    )


@register(
    "multimodal_resize",
    """
    SELECT doc_id AS id, 'image/png' AS media_type,
           GREATEST(CAST(FLOOR(octet_length(encode(text))
                    * LEAST(4096.0 / GREATEST(length(text), 1), 1.0))
                    AS BIGINT), 1) AS n_bytes,
           CAST(64 AS INT) AS width, CAST(64 AS INT) AS height
    FROM documents WHERE doc_id % 3 + 1 = 1
    """,
    "image resize plumbing: pure map over binary columns via "
    "mapInPandas (decode stubbed, Arrow batch shape + meta update "
    "real); payloads never cross a shuffle boundary. The stub's "
    "output-size formula (src_bytes * min(target_px/src_px, 1), "
    "floored, min 1) is deterministic, so it oracles exactly",
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    media = attach_payloads(docs, "text", "doc_id")
    out = resize_media(media, target_width=64, target_height=64)
    return out.select(
        "id", "media_type", F.length("payload").cast("long").alias("n_bytes"),
        "width", "height",
    )




_LM_STORE_CACHE: dict[str, str] = {}
_LM_MIN_COUNT = 2
_LM_LAM_PCT = 80


def _lm_scores_oracle() -> str:
    lam = _LM_LAM_PCT / 100.0
    toks = _text.tokens_sql("text")
    return f"""
    WITH ref AS (SELECT {toks} AS tk FROM documents WHERE doc_id % 5 <> 0),
    rtok AS (SELECT unnest(tk) AS tok FROM ref),
    c1 AS (SELECT tok, COUNT(*) AS c1 FROM rtok GROUP BY tok),
    rbg AS (SELECT tk[i] AS u, tk[i + 1] AS v
            FROM ref, UNNEST(range(1, len(tk))) AS r(i)
            WHERE len(tk) >= 2),
    c2a AS (SELECT u, v, COUNT(*) AS c2 FROM rbg GROUP BY u, v),
    cu AS (SELECT u, SUM(c2) AS cu FROM c2a GROUP BY u),
    big AS (SELECT * FROM c2a WHERE c2 >= {_LM_MIN_COUNT}),
    tv AS (SELECT SUM(c1) AS t, COUNT(*) AS v FROM c1),
    nt AS (SELECT doc_id, {toks} AS tk FROM documents WHERE doc_id % 5 = 0),
    nbg AS (SELECT doc_id, tk[i] AS u, tk[i + 1] AS v
            FROM nt, UNNEST(range(1, len(tk))) AS r(i)
            WHERE len(tk) >= 2),
    dbc AS (SELECT doc_id, u, v, COUNT(*) AS n FROM nbg GROUP BY 1, 2, 3),
    p AS (SELECT dbc.doc_id, dbc.n,
                 CAST(ROUND(LN({lam!r} * COALESCE(CAST(big.c2 AS DOUBLE)
                                                  / cu.cu, 0.0)
                               + {1.0 - lam!r} * ((CAST(COALESCE(c1.c1, 0)
                                                        AS DOUBLE) + 1.0)
                                                  / (tv.t + tv.v + 1.0)))
                            * 1e9, 0) AS BIGINT) AS logp_e9
          FROM dbc
          LEFT JOIN big USING (u, v)
          LEFT JOIN cu USING (u)
          LEFT JOIN c1 ON c1.tok = dbc.v, tv)
    SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams,
           CAST(-((-SUM(logp_e9 * n)) // SUM(n)) AS DOUBLE) / 1e9
             AS mean_logp
    FROM p GROUP BY doc_id
    """


@register(
    "lm_reference_scores",
    _lm_scores_oracle(),
    "frozen reference-LM gate (index/lm.py): the corpus slice "
    "(doc_id%5!=0) freezes interpolated bigram+add-one-unigram counts "
    "into an LM STORE; the arriving slice (doc_id%5=0) is scored under "
    "it without the judged data ever shifting the judge — the ingest-"
    "gating shape, vs text_bigram_logprob's self-scored corpus. Same "
    "e9-integer exactness discipline; df-capped bigram table (c2>=2) "
    "keeps the join broadcastable at web scale",
)
def lm_reference_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from dragnet_spark.index.lm import (
        build_lm_store,
        score_against_lm_store,
    )

    docs = _t(spark, sf_dir, "documents")
    if sf_dir not in _LM_STORE_CACHE:
        path = tempfile.mkdtemp(prefix="dragnet_lmstore_")
        build_lm_store(
            spark, docs.filter(F.col("doc_id") % 5 != 0), path,
            min_count=_LM_MIN_COUNT, lam_pct=_LM_LAM_PCT,
        )
        _LM_STORE_CACHE[sf_dir] = path
    return score_against_lm_store(
        spark, _LM_STORE_CACHE[sf_dir],
        docs.filter(F.col("doc_id") % 5 == 0),
    )
