"""Text analysis operators: tokenize, quality, language ID, fingerprints.

Everything here is a pure Spark column expression — no UDFs — so the
operators vectorize, push down, and scale linearly with input
partitions. Each has an exact ANSI-SQL twin used by the DuckDB oracle
(kept adjacent so they evolve together).

Determinism contract: any hash used for signatures is md5 of an
explicit string (same bytes → same hex on any engine); min/argmax over
hex strings is total because the strings are fixed-length.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# small built-in stopword sets for the language-ID heuristic; a real
# deployment would swap in fastText or CLD3 via a pandas_udf — the
# heuristic keeps the operator dependency-free and oracle-checkable
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "is", "in", "that"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans"],
    "es": ["el", "los", "las", "y", "es", "un", "una", "que"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不"],
}
_LANG_ORDER = ["en", "de", "fr", "es", "zh"]  # deterministic tie-break


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization of lowercased text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(F.lower(c)), r"\s+")


def tokens_sql(expr: str) -> str:
    return f"regexp_split_to_array(trim(lower({expr})), '\\s+')"


def shingles(col: Column | str, n: int = 3) -> Column:
    """Consecutive n-token shingles (w-shingling), the unit of
    near-dup similarity: random token *sequences* are near-unique even
    over a tiny vocabulary, where bare token sets saturate (every doc
    pair looks similar). Shingle separator is 0x1f. Documents shorter
    than n tokens produce one whole-document shingle."""
    if n <= 1:
        return tokens(col)

    # let-binding via a 1-element transform: expressions inside a
    # higher-order-function lambda are re-evaluated PER ELEMENT, so
    # referencing tokens(col) directly in the position lambda re-runs
    # the full regex tokenize for every shingle position — O(tokens²)
    # per document. Binding the token array as the outer lambda's
    # variable evaluates it once per row; the inner lambda then slices
    # a bound value. Same output, measured ~1.7× steady-state on the
    # shingle explode (grows with document length).
    def _over(tk: Column) -> Column:
        starts = F.sequence(
            F.lit(1), F.greatest(F.size(tk) - (n - 1), F.lit(1))
        )
        return F.transform(
            starts, lambda i: F.concat_ws("\x1f", F.slice(tk, i, n))
        )

    return F.transform(F.array(tokens(col)), _over)[0]


def shingles_sql(expr: str, n: int = 3) -> str:
    if n <= 1:
        return tokens_sql(expr)
    toks = tokens_sql(expr)
    return (
        f"list_transform(range(1, greatest(len({toks}) - {n - 1}, 1) + 1), "
        f"i -> array_to_string(list_slice({toks}, i, i + {n - 1}), chr(31)))"
    )


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col)).cast("long")


def token_count_sql(expr: str) -> str:
    return f"CAST(len({tokens_sql(expr)}) AS BIGINT)"


# BPE-ish pre-tokenizer: the GPT-2 pre-tokenization classes
# (space-prefixed letter runs / digit runs / punctuation runs) with
# the lookahead clauses dropped so the SAME pattern runs under Java
# regex (Spark) and RE2 (DuckDB) with identical leftmost-first
# semantics. Counting these pre-tokens approximates subword budget far
# better than whitespace counting ("don't!" = 1 ws token, 3 BPE-ish).
BPE_PRETOKEN_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"


def bpe_token_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    # idx=0 → the whole match (Spark defaults to capture group 1)
    return F.size(
        F.regexp_extract_all(c, F.lit(BPE_PRETOKEN_PATTERN), 0)
    ).cast("long")


def bpe_token_count_sql(expr: str) -> str:
    return (
        f"CAST(len(regexp_extract_all({expr}, "
        f"' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+')) AS BIGINT)"
    )


def quality_columns(col: Column | str) -> dict[str, Column]:
    """Quality-scoring features: length, token stats, punct/digit/space
    ratios. Returned as named columns so callers pick what they keep."""
    c = F.col(col) if isinstance(col, str) else col
    n_chars = F.length(c).cast("long")
    toks = tokens(c)
    n_tokens = F.size(toks).cast("long")
    n_punct = n_chars - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    n_digit = n_chars - F.length(F.regexp_replace(c, r"[0-9]", ""))
    n_space = n_chars - F.length(F.regexp_replace(c, r"\s", ""))
    stop = F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop, t))).cast("long")
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "avg_token_len": F.round(
            (n_chars - n_space).cast("double") / F.greatest(n_tokens, F.lit(1)), 6
        ),
        "punct_ratio": F.round(n_punct.cast("double") / F.greatest(n_chars, F.lit(1)), 6),
        "digit_ratio": F.round(n_digit.cast("double") / F.greatest(n_chars, F.lit(1)), 6),
        "stopword_ratio": F.round(
            n_stop.cast("double") / F.greatest(n_tokens, F.lit(1)), 6
        ),
    }


def quality_sql(expr: str) -> dict[str, str]:
    toks = tokens_sql(expr)
    n_chars = f"CAST(length({expr}) AS BIGINT)"
    n_tokens = f"CAST(len({toks}) AS BIGINT)"
    n_punct = f"(length({expr}) - length(regexp_replace({expr}, '[^\\w\\s]', '', 'g')))"
    n_digit = f"(length({expr}) - length(regexp_replace({expr}, '[0-9]', '', 'g')))"
    n_space = f"(length({expr}) - length(regexp_replace({expr}, '\\s', '', 'g')))"
    stop = "[" + ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"]) + "]"
    n_stop = f"len(list_filter({toks}, t -> list_contains({stop}, t)))"
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "avg_token_len": (
            f"round(CAST(length({expr}) - {n_space} AS DOUBLE)"
            f" / greatest(len({toks}), 1), 6)"
        ),
        "punct_ratio": f"round(CAST({n_punct} AS DOUBLE) / greatest(length({expr}), 1), 6)",
        "digit_ratio": f"round(CAST({n_digit} AS DOUBLE) / greatest(length({expr}), 1), 6)",
        "stopword_ratio": f"round(CAST({n_stop} AS DOUBLE) / greatest(len({toks}), 1), 6)",
    }


def lang_scores(col: Column | str) -> dict[str, Column]:
    """Stopword-hit count per language (the n-gram-heuristic family)."""
    toks = tokens(col)
    out = {}
    for lang in _LANG_ORDER:
        hits = [
            F.array_contains(toks, w).cast("int") for w in LANG_STOPWORDS[lang]
        ]
        score = hits[0]
        for h in hits[1:]:
            score = score + h
        out[lang] = score
    return out


def lang_id(col: Column | str) -> Column:
    """argmax language with deterministic tie-break (_LANG_ORDER);
    'unknown' when no stopword hits at all."""
    scores = lang_scores(col)
    all_zero = F.lit(True)
    for s in scores.values():
        all_zero = all_zero & (s == 0)
    # CASE chain: the first language (in _LANG_ORDER) whose score is >=
    # every later language's score wins — built back-to-front
    result = F.lit(_LANG_ORDER[-1])
    for i in range(len(_LANG_ORDER) - 2, -1, -1):
        lang = _LANG_ORDER[i]
        cond = F.lit(True)
        for other in _LANG_ORDER[i + 1 :]:
            cond = cond & (scores[lang] >= scores[other])
        result = F.when(cond, F.lit(lang)).otherwise(result)
    return F.when(all_zero, F.lit("unknown")).otherwise(result)


def lang_id_sql(expr: str) -> str:
    toks = tokens_sql(expr)

    def score(lang: str) -> str:
        return " + ".join(
            f"CAST(list_contains({toks}, '{w}') AS INT)" for w in LANG_STOPWORDS[lang]
        )

    scores = {lang: f"({score(lang)})" for lang in _LANG_ORDER}
    all_zero = " AND ".join(f"{s} = 0" for s in scores.values())
    cases = []
    for i, lang in enumerate(_LANG_ORDER):
        conds = [
            f"{scores[lang]} >= {scores[other]}" for other in _LANG_ORDER[i + 1 :]
        ]
        cases.append(
            f"WHEN {' AND '.join(conds)} THEN '{lang}'" if conds else f"ELSE '{lang}'"
        )
    chain = " ".join(cases[:-1])
    last = _LANG_ORDER[-1]
    return (
        f"CASE WHEN {all_zero} THEN 'unknown' "
        f"ELSE (CASE {chain} ELSE '{last}' END) END"
    )


def fingerprint(col: Column | str) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase text
    (exact-dedup key robust to spacing/case)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.regexp_replace(F.trim(F.lower(c)), r"\s+", " "))


def fingerprint_sql(expr: str) -> str:
    return f"md5(regexp_replace(trim(lower({expr})), '\\s+', ' ', 'g'))"


# universal-hash minhash: each shingle is md5-hashed ONCE to a 28-bit
# integer h; permutation i is the universal hash (a_i*h + b_i) mod p.
# 28-bit h keeps a_i*h within int64 under ANSI arithmetic; coefficients
# are fixed by seed so Spark and the SQL oracle agree literal-for-
# literal. This replaces k md5 passes per shingle set with one.
MINHASH_P = 2147483647  # 2^31 - 1


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    import random

    rng = random.Random(0x5EED)
    return [
        (rng.randrange(1, MINHASH_P), rng.randrange(0, MINHASH_P))
        for _ in range(num_hashes)
    ]


def shingle_hash(col: Column) -> Column:
    """28-bit integer hash of one shingle: first 7 hex chars of md5."""
    return F.conv(F.substring(F.md5(col), 1, 7), 16, 10).cast("long")


def shingle_hash_sql(expr: str) -> str:
    return f"CAST('0x' || substring(md5({expr}), 1, 7) AS BIGINT)"


def minhash_signature_ngram(
    col: Column | str, num_hashes: int = 16, ngram: int = 1
) -> Column:
    """MinHash signature as one array expression (small inputs / tests;
    the scale path is dedup.minhash_lsh_pairs' explode+groupBy shape,
    which hashes each shingle exactly once)."""
    hs = F.transform(
        F.array_distinct(shingles(col, ngram)), lambda t: shingle_hash(t)
    )
    sig = [
        F.array_min(
            F.transform(hs, lambda h, a=a, b=b: (F.lit(a) * h + F.lit(b)) % MINHASH_P)
        )
        for a, b in minhash_coeffs(num_hashes)
    ]
    return F.array(*sig)


def minhash_signature_sql(expr: str, num_hashes: int = 16, ngram: int = 1) -> str:
    toks = f"list_distinct({shingles_sql(expr, ngram)})"
    hs = f"list_transform({toks}, t -> {shingle_hash_sql('t')})"
    parts = ", ".join(
        f"list_min(list_transform({hs}, h -> (CAST({a} AS BIGINT) * h + {b}) % {MINHASH_P}))"
        for a, b in minhash_coeffs(num_hashes)
    )
    return f"[{parts}]"


# ----------------------------------------------------- winnowing fingerprints

def _bind_once(expr: Column, f) -> Column:
    """Evaluate ``expr`` once per row and pass it to ``f`` as a lambda
    variable. Catalyst inlines a Column referenced from inside a
    higher-order-function lambda, re-evaluating it per element — for an
    expensive array expression referenced N times that's an O(N²)
    blowup. A lambda *variable*, by contrast, is bound once. Wrapping
    the value in a 1-element array and transforming it gives us a
    let-binding."""
    return F.element_at(F.transform(F.array(expr), f), 1)


def winnow_fingerprints(
    col: Column | str, k: int = 8, window: int = 4
) -> Column:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03):
    hash every character k-gram of the normalized text (rolling-hash
    family; here the same portable 28-bit md5-prefix used by minhash),
    then keep the minimum hash of each ``window`` of consecutive
    k-gram hashes. Guarantees any shared substring of length
    >= k + window - 1 contributes a shared fingerprint — so *partial*
    overlap (a copied paragraph) is detectable where whole-document
    similarity is low. Pure expressions; returns array<long> of
    distinct selected hashes. The normalized text and the gram array
    are let-bound via _bind_once so each md5 is computed exactly once
    per gram, not once per (gram, window) pair.
    """
    c = F.col(col) if isinstance(col, str) else col
    txt = F.regexp_replace(F.trim(F.lower(c)), r"\s+", " ")

    def _grams(t: Column) -> Column:
        n = F.greatest(F.length(t) - (k - 1), F.lit(1))
        return F.transform(
            F.sequence(F.lit(1), n), lambda i: shingle_hash(F.substring(t, i, k))
        )

    def _wins(g: Column) -> Column:
        n = F.greatest(F.size(g) - (window - 1), F.lit(1))
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n),
                lambda j: F.array_min(F.slice(g, j, window)),
            )
        )

    return _bind_once(_bind_once(txt, _grams), _wins)


def winnow_norm_sql(expr: str) -> str:
    """DuckDB expression: the whitespace-normalized text. Materialize
    it in its own CTE column — grams reference it once per gram, so an
    inlined regex would re-scan the whole document per gram (O(N²))."""
    return f"regexp_replace(trim(lower({expr})), '\\s+', ' ', 'g')"


def winnow_grams_from_norm_sql(norm_col: str, k: int = 8) -> str:
    """DuckDB expression: k-gram hash array over an already-normalized
    text column."""
    return (
        f"list_transform(range(1, greatest(length({norm_col}) - {k - 1}, 1) + 1), "
        f"i -> {shingle_hash_sql(f'substring({norm_col}, CAST(i AS INT), {k})')})"
    )


def winnow_grams_sql(expr: str, k: int = 8) -> str:
    """One-expression form (tests / small inputs): inlines the
    normalization per gram — prefer winnow_norm_sql in a CTE +
    winnow_grams_from_norm_sql on real tables."""
    return winnow_grams_from_norm_sql(winnow_norm_sql(expr), k)


def winnow_from_grams_sql(grams_col: str, window: int = 4) -> str:
    """DuckDB expression: distinct window-min selection over an already
    materialized gram-array column."""
    return (
        f"list_distinct(list_transform("
        f"range(1, greatest(len({grams_col}) - {window - 1}, 1) + 1), "
        f"j -> list_min(list_slice({grams_col}, CAST(j AS INT), "
        f"CAST(j AS INT) + {window - 1}))))"
    )


def winnow_fingerprints_sql(expr: str, k: int = 8, window: int = 4) -> str:
    """One-expression form (tests / small inputs). For real tables use
    winnow_grams_sql in a materialized CTE + winnow_from_grams_sql."""
    return winnow_from_grams_sql(winnow_grams_sql(expr, k), window)


# ------------------------------------------------------------- PII redaction

# patterns restricted to syntax Java regex and RE2 interpret identically
# (ASCII classes, \b word boundaries, bounded repetition — no lookaround)
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]


def redact_pii(col: Column | str) -> Column:
    """Replace emails, phone numbers, and IPv4 addresses with typed
    placeholder tokens — the standard scrub pass before a corpus is
    used for training. Pure chained regexp_replace: JVM-side,
    whole-stage-codegen'd, no UDF."""
    c = F.col(col) if isinstance(col, str) else col
    for pat, token in PII_PATTERNS:
        c = F.regexp_replace(c, pat, token)
    return c


def redact_pii_sql(expr: str) -> str:
    for pat, token in PII_PATTERNS:
        expr = f"regexp_replace({expr}, '{pat}', '{token}', 'g')"
    return expr


def pii_count(col: Column | str) -> Column:
    """Number of PII spans that redact_pii would replace."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.lit(0)
    for pat, token in PII_PATTERNS:
        n = n + F.size(F.regexp_extract_all(c, F.lit(pat), 0))
        c = F.regexp_replace(c, pat, token)  # don't double-count IP inside email etc.
    return n.cast("long")


def pii_count_sql(expr: str) -> str:
    parts = []
    for pat, token in PII_PATTERNS:
        parts.append(f"len(regexp_extract_all({expr}, '{pat}'))")
        expr = f"regexp_replace({expr}, '{pat}', '{token}', 'g')"
    return "CAST(" + " + ".join(parts) + " AS BIGINT)"


# ------------------------------------------------------------- tf-idf


def tfidf_top_terms(
    df, text_col: str, id_col: str, k: int = 3,
):
    """Top-k distinguishing terms per document, scored tf/df — term
    frequency weighted by linear inverse document frequency.

    Linear (not log) idf keeps the score a single IEEE division of two
    integers, which every engine rounds identically — the ranking is
    therefore bit-reproducible across engines and runs, where a
    log-idf tie near the row_number boundary could flip on a ulp
    difference between libm implementations. Ties break on the term.

    Scale shape: tf is a (doc, term) groupBy whose partial aggregation
    collapses repeats map-side; df reuses tf (no second pass over the
    corpus); the df join shuffles on term; the top-k window shuffles on
    doc. No driver-side state, no UDF.

    Returns (doc_id, term, tf, df, score, rank).
    """
    from pyspark.sql import Window

    from dragnet_spark.ops import spread

    tok = spread(df).select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # df via a count window over term instead of groupBy+join-back:
    # the join form re-embeds tf's scan+tokenize lineage for the df
    # side (measured r14 — the "reuse" was logical only), while the
    # window shuffles the same (doc, term, tf) rows the join already
    # had to co-locate by term, once, and counts in place
    scored = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
    ).withColumn("score", F.col("tf").cast("double") / F.col("df"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "df", "score", "rank")
    )


def tfidf_top_terms_sql(text_expr: str, k: int = 3) -> str:
    """DuckDB twin of tfidf_top_terms over the documents table."""
    return f"""
    WITH tok AS (SELECT doc_id, t.term
                 FROM documents, UNNEST({tokens_sql(text_expr)}) AS t(term)),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    scored AS (SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
                      CAST(tf.tf AS DOUBLE) / dfreq.df AS score
               FROM tf JOIN dfreq USING (term))
    SELECT * FROM (
      SELECT doc_id, term, tf, df, score,
             CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY score DESC, term) AS INT) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


# ----------------------------------------------------- inverted index


def shingle_postings(
    df, text_col: str, id_col: str, ngram: int = 3,
    min_df: int = 2, max_df: int = 5,
):
    """Inverted index over rare n-gram shingles: for each shingle whose
    document frequency is in [min_df, max_df], the sorted posting list
    of containing documents (joined with '|' — a string, not an array,
    so result comparison stays hashable).

    The df band is the scale guard: common shingles (stopword runs)
    would dominate the index and carry posting lists proportional to
    the corpus, while df-banded postings are bounded by max_df — the
    same df-capping discipline as winnow_overlap_pairs. collect_list
    runs after a (shingle) shuffle whose values are just ids.

    Returns (shingle, df, postings).
    """
    from dragnet_spark.ops import spread

    ex = spread(df).select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(shingles(text_col, ngram))).alias("sh"),
    )
    return (
        ex.groupBy("sh")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.concat_ws("|", F.sort_array(F.collect_list(F.col("id").cast("string")))).alias(
                "postings"
            ),
        )
        .filter((F.col("df") >= min_df) & (F.col("df") <= max_df))
        .select(F.col("sh").alias("shingle"), "df", "postings")
    )


def shingle_postings_sql(
    text_expr: str, ngram: int = 3, min_df: int = 2, max_df: int = 5
) -> str:
    """DuckDB twin of shingle_postings over the documents table.

    Sorts ids as *strings* to match Spark's sort_array over the cast
    ids (digit-count differences would otherwise reorder)."""
    return f"""
    WITH ex AS (SELECT DISTINCT doc_id, s.sh
                FROM documents,
                     UNNEST(list_distinct({shingles_sql(text_expr, ngram)})) AS s(sh))
    SELECT sh AS shingle, COUNT(*) AS df,
           string_agg(CAST(doc_id AS STRING), '|'
                      ORDER BY CAST(doc_id AS STRING)) AS postings
    FROM ex GROUP BY sh
    HAVING COUNT(*) BETWEEN {min_df} AND {max_df}
    """


# ------------------------------------------------------------ chunking


def chunk_token_windows(
    df, text_col: str, id_col: str, size: int = 50, stride: int = 40,
):
    """Split documents into overlapping token windows — the unit a
    training pipeline feeds a fixed context: chunk i covers tokens
    [i*stride, i*stride + size). Every document yields at least one
    chunk; the final chunk may be short. Returns
    (doc_id, chunk_id, n_tokens, chunk).

    Pure array expressions (slice over the token array inside a
    transform+explode) — each row expands independently, so the
    operator is a narrow map: no shuffle, parallel per input split,
    and the expansion factor is len/stride, known in advance.
    """
    from dragnet_spark.ops import spread

    toks = tokens(text_col)
    n = F.size(toks)
    n_chunks = F.greatest(
        F.ceil((n - F.lit(size)) / F.lit(stride)).cast("long") + 1, F.lit(1)
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.cast("int").alias("chunk_id"),
            F.slice(toks, i * stride + 1, size).alias("toks"),
        ),
    )
    ex = spread(df).select(
        F.col(id_col).alias("doc_id"), F.explode(chunks).alias("c")
    )
    return ex.select(
        "doc_id",
        F.col("c.chunk_id").alias("chunk_id"),
        F.size("c.toks").cast("long").alias("n_tokens"),
        F.array_join("c.toks", " ").alias("chunk"),
    )


def chunk_token_windows_sql(
    text_expr: str, size: int = 50, stride: int = 40
) -> str:
    """DuckDB twin of chunk_token_windows over the documents table."""
    toks = tokens_sql(text_expr)
    return f"""
    WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
    n AS (SELECT doc_id, toks,
                 GREATEST(CAST(CEIL((len(toks) - {size}) / {stride}.0) AS BIGINT) + 1,
                          1) AS n_chunks
          FROM t),
    ex AS (SELECT doc_id, u.i AS chunk_id,
                  toks[u.i * {stride} + 1 : u.i * {stride} + {size}] AS ctoks
           FROM n, UNNEST(range(0, n.n_chunks)) AS u(i))
    SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
           CAST(len(ctoks) AS BIGINT) AS n_tokens,
           array_to_string(ctoks, ' ') AS chunk
    FROM ex
    """


def unigram_logprob(
    df, text_col: str = "text", id_col: str = "doc_id"
):
    """CCNet-style corpus-LM quality score: each document's mean token
    log-probability under the corpus's own unigram distribution. Docs
    far below the corpus mean are gibberish / OOV-heavy / wrong-
    language — the standard cheap LM gate before an expensive model
    ever sees the text.

    Exactness across engines: per-token logp is scaled to an e9
    INTEGER (round(ln(p)*1e9) — boundary-safe because ln outputs are
    transcendental), summed as exact bigints (order-independent), and
    the mean is a sign-safe truncating integer division re-scaled to
    double. No decimal→double re-round anywhere: the former
    round(sum/n, 9) hit half-boundary values (rational quotients of
    exact decimals) that Spark's HALF_UP BigDecimal and DuckDB's
    float-multiply rounding resolved differently at sf0.1 — 1-ulp
    hash mismatches this formulation cannot produce.

    Scale shape: one (doc, token) explode feeding two aggregations —
    the vocabulary count (token-key shuffle) and the per-doc sum
    (doc-key shuffle after the vocab join). The vocab side is
    runtime-sized: AQE broadcasts it when it is small; at web-corpus
    vocab sizes it degrades to a plain shuffle join, never a driver
    collect. The corpus total rides a 1-row broadcast cross-join.
    """
    from pyspark.sql import functions as F

    from dragnet_spark.ops import spread

    from dragnet_spark.ops.dedup import _materialize_once

    tok = spread(df).select(
        F.col(id_col), F.explode(tokens(text_col)).alias("tok")
    )
    # (doc, token) occurrence counts first: the vocab join then moves
    # one row per distinct token per doc instead of one per occurrence
    # — measured 1.75x faster at 64x corpus scale (17.3 s -> 9.9 s),
    # with bit-identical results (sum over occurrences equals
    # count x logp)
    #
    # dtc is referenced twice (vocab derivation + the per-doc join)
    # and cnt twice (probs + the corpus total); Catalyst re-embeds an
    # unmaterialized subplan per reference, which made this a
    # THREE-scan, three-tokenize query (measured r14). Two
    # checkpoints — one at doc×distinct-token grain, one vocab-sized
    # — collapse it to a single scan+explode pass.
    dtc = _materialize_once(
        tok.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("n"))
    )
    cnt = _materialize_once(
        dtc.groupBy("tok").agg(F.sum("n").alias("c"))
    )
    tot = cnt.agg(F.sum("c").alias("t"))
    probs = cnt.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.round(
            F.log(F.col("c").cast("double") / F.col("t")) * F.lit(1e9), 0
        )
        .cast("long")
        .alias("logp_e9"),
    )
    per_doc = (
        dtc.join(probs, "tok")
        .groupBy(id_col)
        .agg(
            F.sum("n").cast("long").alias("n_tokens"),
            F.sum(F.col("logp_e9") * F.col("n")).alias("sum_e9"),
        )
    )
    # `div` truncates toward zero in Spark but DuckDB's `//` floors;
    # negating the (always-negative) sum makes both operands positive,
    # where the two semantics coincide
    mean = (
        (-F.expr("(-sum_e9) div n_tokens")).cast("double") / F.lit(1e9)
    ).alias("mean_logp")
    return per_doc.select(id_col, "n_tokens", mean)


def unigram_logprob_sql(text_expr: str = "text") -> str:
    """DuckDB twin of unigram_logprob over the documents table."""
    return f"""
    WITH tok AS (SELECT doc_id, unnest({tokens_sql(text_expr)}) AS tok
                 FROM documents),
    cnt AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
    tot AS (SELECT SUM(c) AS t FROM cnt),
    p AS (SELECT tok,
                 CAST(ROUND(LN(CAST(c AS DOUBLE) / t) * 1e9, 0)
                      AS BIGINT) AS logp_e9
          FROM cnt, tot)
    SELECT doc_id, COUNT(*) AS n_tokens,
           CAST(-((-SUM(logp_e9)) // COUNT(*)) AS DOUBLE) / 1e9
             AS mean_logp
    FROM tok JOIN p USING (tok)
    GROUP BY doc_id
    """


def bigram_logprob(
    df, text_col: str = "text", id_col: str = "doc_id", lam: float = 0.8
):
    """Interpolated bigram-LM quality score: each document's mean
    log P(w_i | w_{i-1}) under the corpus's own bigram model with
    unigram interpolation (Jelinek-Mercer smoothing),

        P(v|u) = lam * c(u,v)/c(u,·) + (1-lam) * c(v)/T

    where c(u,·) is u's count as a LEFT CONTEXT (occurrences with a
    successor — the proper MLE denominator, no end-of-doc bias) and
    c(v)/T is the corpus unigram prior. Catches the word-salad the
    unigram gate (:func:`unigram_logprob`) is blind to: shuffled
    common words keep their unigram score exactly but crater here,
    while fluent text scores near the corpus mean. The standard
    second-tier cheap LM gate before a neural perplexity model.

    Exactness across engines: the interpolated probability is a fixed
    left-to-right double expression written identically in both
    engines (IEEE ops are deterministic; neither engine contracts to
    FMA), its log is scaled to an e9 integer (boundary-safe: ln
    outputs are transcendental), summed as exact bigints, mean via
    the sign-safe truncating integer division — the same discipline
    that keeps unigram_logprob hash-exact at every octave.

    Scale shape: ONE corpus pass — a single explode of each doc's
    bigrams plus one unigram-completion sentinel row (every token
    occurrence is a bigram second or the doc's first token, so the
    unigram prior derives from the same exploded rows) grouped to
    per-doc occurrence counts, then bigram-key and context-key
    aggregations (map-side partial combine on both), a
    bigram-vocabulary join that AQE broadcasts when small and
    shuffles when web-scale, and a final doc-key aggregation. The
    corpus total rides a 1-row broadcast. No driver-side state, no
    BNLJ."""
    from pyspark.sql import functions as F

    from dragnet_spark.ops import spread

    toks = tokens(text_col)
    n = F.size(toks)
    # bigrams as (u, v) structs: zip the array with itself shifted by
    # one — docs with < 2 tokens contribute no bigrams (greatest(n-1,
    # 0) keeps the slice length legal for 0/1-token docs)
    bg = F.zip_with(
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
        lambda u, v: F.struct(u.alias("u"), v.alias("v")),
    )
    # unigram-completion sentinel: every token occurrence is either a
    # bigram SECOND (positions 2..n) or the doc's FIRST token, so one
    # (null, first-token) row per non-empty doc lets the unigram
    # prior be derived from the same exploded rows — the token
    # explode's second corpus scan+tokenize pass (measured r14)
    # disappears
    first_sent = F.transform(
        F.slice(toks, 1, 1),
        lambda t: F.struct(
            F.lit(None).cast("string").alias("u"), t.alias("v")
        ),
    )
    dbg = (
        spread(df)
        .select(
            F.col(id_col), F.explode(F.concat(bg, first_sent)).alias("b")
        )
        .select(id_col, F.col("b.u").alias("u"), F.col("b.v").alias("v"))
    )
    from dragnet_spark.ops.dedup import _materialize_once

    # per-doc bigram occurrence counts first (the vocab join then
    # moves one row per distinct bigram per doc — unigram_logprob's
    # measured discipline)
    #
    # materialization discipline (unigram_logprob's, one level up):
    # dbc feeds the bigram vocab, the unigram prior AND the per-doc
    # join, c2 feeds cu and the probability table, c1 feeds the prior
    # and the corpus total — unmaterialized, Catalyst re-embedded the
    # scan+tokenize lineage FIVE times (measured r14). Three
    # checkpoints (doc-gram grain + two vocab-sized) and the sentinel
    # rows collapse it to ONE corpus pass: a single combined explode.
    dbc = _materialize_once(
        dbg.groupBy(id_col, "u", "v").agg(F.count(F.lit(1)).alias("n"))
    )
    c2 = _materialize_once(
        dbc.filter(F.col("u").isNotNull())
        .groupBy("u", "v")
        .agg(F.sum("n").alias("c2"))
    )
    cu = c2.groupBy("u").agg(F.sum("c2").alias("cu"))
    # unigram prior over ALL token occurrences (not just contexts):
    # bigram seconds + the per-doc sentinel = every occurrence
    c1 = _materialize_once(
        dbc.groupBy("v").agg(F.sum("n").alias("c1"))
    )
    tot = c1.agg(F.sum("c1").alias("t"))
    # fixed evaluation order, written identically in the SQL twin:
    # lam * (c2/cu) + (1-lam) * (c1/t)
    p = (
        F.lit(lam) * (F.col("c2").cast("double") / F.col("cu"))
        + F.lit(1.0 - lam) * (F.col("c1").cast("double") / F.col("t"))
    )
    probs = (
        c2.join(cu, "u")
        .join(c1, "v")
        .crossJoin(F.broadcast(tot))
        .select(
            "u", "v",
            F.round(F.log(p) * F.lit(1e9), 0).cast("long").alias("logp_e9"),
        )
    )
    per_doc = (
        # the unigram sentinels (u IS NULL) are not bigrams — filter
        # before the vocab join (an equi-join would drop them anyway;
        # the filter makes it explicit and keeps them out of the
        # join's build side)
        dbc.filter(F.col("u").isNotNull())
        .join(probs, ["u", "v"])
        .groupBy(id_col)
        .agg(
            F.sum("n").cast("long").alias("n_bigrams"),
            F.sum(F.col("logp_e9") * F.col("n")).alias("sum_e9"),
        )
    )
    mean = (
        (-F.expr("(-sum_e9) div n_bigrams")).cast("double") / F.lit(1e9)
    ).alias("mean_logp")
    return per_doc.select(id_col, "n_bigrams", mean)


def bigram_logprob_sql(text_expr: str = "text", lam: float = 0.8) -> str:
    """DuckDB twin of bigram_logprob over the documents table."""
    toks = tokens_sql(text_expr)
    return f"""
    WITH t AS (SELECT doc_id, {toks} AS tk FROM documents),
    bg AS (SELECT doc_id, tk[i] AS u, tk[i + 1] AS v
           FROM t, UNNEST(range(1, len(tk))) AS r(i)
           WHERE len(tk) >= 2),
    dbc AS (SELECT doc_id, u, v, COUNT(*) AS n FROM bg GROUP BY 1, 2, 3),
    c2 AS (SELECT u, v, SUM(n) AS c2 FROM dbc GROUP BY u, v),
    cu AS (SELECT u, SUM(c2) AS cu FROM c2 GROUP BY u),
    tok AS (SELECT unnest(tk) AS v FROM t),
    c1 AS (SELECT v, COUNT(*) AS c1 FROM tok GROUP BY v),
    tot AS (SELECT SUM(c1) AS t FROM c1),
    p AS (SELECT c2.u, c2.v,
                 CAST(ROUND(LN({lam} * (CAST(c2.c2 AS DOUBLE) / cu.cu)
                                + {1.0 - lam} * (CAST(c1.c1 AS DOUBLE) / tot.t))
                            * 1e9, 0) AS BIGINT) AS logp_e9
          FROM c2 JOIN cu USING (u) JOIN c1 USING (v), tot)
    SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams,
           CAST(-((-SUM(logp_e9 * n)) // SUM(n)) AS DOUBLE) / 1e9
             AS mean_logp
    FROM dbc JOIN p USING (u, v)
    GROUP BY doc_id
    """


def duplicate_spans(
    df, text_col: str = "text", id_col: str = "doc_id", n: int = 8
):
    """Exact duplicate-span detection (the fixed-n variant of
    suffix-array substring dedup, Lee et al. 2022 "Deduplicating
    Training Data Makes Language Models Better"): a position is
    duplicated when its n-token gram also appears in ANOTHER document.
    Per doc: gram count, duplicated-gram count, duplicated fraction —
    the copy-paste contamination measure that drives span-level
    removal.

    Scale shape: grams ride the shuffle as md5 hashes (16 bytes,
    never the text); (doc, token) positions are exploded once and the
    gram at each position is assembled with ``lead()`` over a per-doc
    window — one doc-key shuffle, O(n) per position. (The obvious
    ``transform(sequence, i -> slice(toks, i, n))`` alternative
    re-copies the token array per gram — measured 4× slower at bench
    scale — so the window form is deliberate.) Counts are exact
    integers; the fraction is one double division at the end.
    """
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from dragnet_spark.ops import spread

    tok = spread(df).select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("pos", "tok")
    )
    w = W.partitionBy(id_col).orderBy("pos")
    gram = F.concat_ws(
        " ", F.col("tok"), *[F.lead("tok", k).over(w) for k in range(1, n)]
    )
    pos = (
        tok.select(
            F.col(id_col),
            F.md5(gram).alias("gh"),
            # a position within n-1 of the end has no full gram
            F.lead("tok", n - 1).over(w).isNotNull().alias("__full"),
        )
        .filter(F.col("__full"))
        .drop("__full")
    )
    # "appears in ANOTHER document" ⟺ the gram's min and max doc ids
    # differ — exactly count_distinct(id) > 1, but min/max partial-
    # aggregate in a few bytes where count_distinct carries a set.
    # Computed as a window over gh rather than groupBy+join-back: the
    # join form evaluates the expensive gram-assembly lineage twice
    # (once per join side); the window shuffles the positions by gh
    # once and flags them in place.
    wg = W.partitionBy("gh")
    flagged = pos.select(
        id_col,
        (F.min(id_col).over(wg) != F.max(id_col).over(wg))
        .cast("int")
        .alias("is_dup"),
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("is_dup").cast("long").alias("n_dup_grams"),
        )
        .select(
            id_col,
            "n_grams",
            "n_dup_grams",
            F.round(
                F.col("n_dup_grams").cast("double") / F.col("n_grams"), 9
            ).alias("dup_frac"),
        )
    )


def duplicate_spans_sql(text_expr: str = "text", n: int = 8) -> str:
    """DuckDB twin of duplicate_spans over the documents table."""
    return f"""
    WITH t AS (SELECT doc_id, {tokens_sql(text_expr)} AS toks
               FROM documents),
    g AS (SELECT doc_id,
                 md5(array_to_string(toks[u.i + 1 : u.i + {n}], ' ')) AS gh
          FROM t, UNNEST(range(0, GREATEST(len(toks) - {n} + 1, 0))) AS u(i)),
    freq AS (SELECT gh, COUNT(DISTINCT doc_id) AS ndocs FROM g GROUP BY gh)
    SELECT doc_id, COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_grams,
           ROUND(CAST(SUM(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 9) AS dup_frac
    FROM g JOIN freq USING (gh)
    GROUP BY doc_id
    """


def repetition_stats(df, text_col: str = "text", id_col: str = "doc_id"):
    """Gopher-style within-document repetition measures (Rae et al.
    2021, Table A1 "repetition filters"): per document,

    * ``top_2gram_frac`` — fraction of the normalized character
      stream covered by occurrences of the single most frequent
      2-gram (tie broken by lexicographically smallest gram);
    * ``dup_5gram_frac`` — fraction covered by all 5-grams that occur
      more than once within the document (occurrence-weighted: each
      occurrence contributes the gram's characters);
    * ``repetition_flag`` — 1 when either exceeds the Gopher
      thresholds (0.20 / 0.15), the drop decision.

    Character coverage is occurrence-weighted (overlaps counted per
    occurrence), the standard reimplementation of the paper's rule;
    the denominator is the single-spaced normalized token stream so
    both engines measure the same string.

    Scale shape: one posexplode of (doc, pos, token), grams assembled
    with ``lead()`` over the per-doc window (one doc-key shuffle; the
    2-gram and 5-gram are stacked into one long-form explode so the
    expensive position pass happens once), then (doc, n, gram) counts.
    Everything per-doc — no global state, no skew beyond document
    length. Exact integer counts; two double divisions at the end.
    """
    from pyspark.sql import Window as W

    from dragnet_spark.ops import spread

    toks = tokens(text_col)
    base = spread(df).select(
        F.col(id_col),
        toks.alias("__toks"),
        F.length(F.array_join(toks, " ")).cast("long").alias("n_norm_chars"),
    )
    # posexplode_OUTER: a doc with no tokens (empty or NULL text)
    # still emits one (NULL pos, NULL tok) row, which the n=0
    # sentinel below carries to the per-doc aggregate — every doc
    # keeps its output row without the old second-scan join-back
    pos = base.select(
        id_col, "n_norm_chars", F.posexplode_outer("__toks").alias("pos", "tok")
    )
    w = W.partitionBy(id_col).orderBy("pos")
    # window exprs can't live inside a generator — materialize the
    # leads once, then explode the two gram sizes from plain columns
    led = pos.select(
        id_col,
        "n_norm_chars",
        "pos",
        "tok",
        *[F.lead("tok", k).over(w).alias(f"__l{k}") for k in range(1, 5)],
    )
    gram2 = F.when(
        F.col("__l1").isNotNull(),
        F.concat_ws(" ", F.col("tok"), F.col("__l1")),
    )
    gram5 = F.when(
        F.col("__l4").isNotNull(),
        F.concat_ws(
            " ", F.col("tok"), *[F.col(f"__l{k}") for k in range(1, 5)]
        ),
    )
    # every position emits its 2- and 5-gram, and position 0 (or the
    # posexplode_outer NULL row of a token-less doc) ALSO emits an
    # n=0 sentinel — exactly one per doc — so every document reaches
    # the per-doc aggregate. This removes the old join-back against a
    # second full scan+tokenize of the corpus (measured r14: base was
    # re-embedded once for the per-doc n_norm_chars side) — the
    # aggregate now keys on (id, n_norm_chars) directly.
    long = (
        led.select(
            id_col,
            "n_norm_chars",
            "pos",
            F.explode(
                F.array(
                    F.struct(F.lit(2).alias("n"), gram2.alias("gram")),
                    F.struct(F.lit(5).alias("n"), gram5.alias("gram")),
                    F.struct(
                        F.lit(0).alias("n"), F.lit(None).cast("string").alias("gram")
                    ),
                )
            ).alias("g"),
        )
        .select(id_col, "n_norm_chars", "pos", "g.n", "g.gram")
        .filter(
            F.col("gram").isNotNull()
            | (
                (F.col("n") == 0)
                & ((F.col("pos") == 0) | F.col("pos").isNull())
            )
        )
    )
    counts = long.groupBy(id_col, "n_norm_chars", "n", "gram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # linear chain — a filter-and-rejoin per gram size would evaluate
    # the explode lineage once per branch. argmax-with-tiebreak is
    # min(struct(-cnt, gram)): highest count, then smallest gram.
    agg = (
        counts.groupBy(id_col, "n_norm_chars")
        .agg(
            F.min(
                F.when(
                    F.col("n") == 2,
                    F.struct(
                        (-F.col("cnt")).alias("negc"),
                        F.col("gram").alias("gram"),
                    ),
                )
            ).alias("__top2"),
            F.sum(
                F.when(
                    (F.col("n") == 5) & (F.col("cnt") > 1),
                    F.col("cnt") * F.length("gram"),
                )
            )
            .cast("long")
            .alias("__d5chars"),
        )
        .select(
            id_col,
            "n_norm_chars",
            F.col("__top2.gram").alias("top_2gram"),
            (-F.col("__top2.negc") * F.length("__top2.gram"))
            .cast("long")
            .alias("__t2chars"),
            "__d5chars",
        )
    )
    out = (
        agg.select(
            id_col,
            "n_norm_chars",
            "top_2gram",
            F.round(
                F.coalesce(F.col("__t2chars"), F.lit(0)).cast("double")
                / F.col("n_norm_chars"),
                9,
            ).alias("top_2gram_frac"),
            F.round(
                F.coalesce(F.col("__d5chars"), F.lit(0)).cast("double")
                / F.col("n_norm_chars"),
                9,
            ).alias("dup_5gram_frac"),
        )
        .withColumn(
            "repetition_flag",
            (
                (F.col("top_2gram_frac") > 0.20)
                | (F.col("dup_5gram_frac") > 0.15)
            ).cast("int"),
        )
    )
    return out


def repetition_stats_sql(text_expr: str = "text") -> str:
    """DuckDB twin of repetition_stats over the documents table."""
    toks = tokens_sql(text_expr)
    return f"""
    WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
    base AS (SELECT doc_id,
                    CAST(length(array_to_string(toks, ' ')) AS BIGINT)
                      AS n_norm_chars,
                    toks
             FROM t),
    g2 AS (SELECT doc_id,
                  array_to_string(toks[u.i + 1 : u.i + 2], ' ') AS gram
           FROM base, UNNEST(range(0, GREATEST(len(toks) - 1, 0))) AS u(i)),
    c2 AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g2 GROUP BY 1, 2),
    top2 AS (SELECT doc_id, gram AS top_2gram,
                    CAST(cnt * length(gram) AS BIGINT) AS t2chars
             FROM (SELECT *, ROW_NUMBER() OVER (
                       PARTITION BY doc_id
                       ORDER BY cnt DESC, gram ASC) AS rn
                   FROM c2)
             WHERE rn = 1),
    g5 AS (SELECT doc_id,
                  array_to_string(toks[u.i + 1 : u.i + 5], ' ') AS gram
           FROM base, UNNEST(range(0, GREATEST(len(toks) - 4, 0))) AS u(i)),
    c5 AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g5 GROUP BY 1, 2),
    dup5 AS (SELECT doc_id,
                    CAST(SUM(cnt * length(gram)) AS BIGINT) AS d5chars
             FROM c5 WHERE cnt > 1 GROUP BY 1),
    j AS (SELECT b.doc_id, b.n_norm_chars, top2.top_2gram,
                 ROUND(CAST(COALESCE(top2.t2chars, 0) AS DOUBLE)
                       / b.n_norm_chars, 9) AS top_2gram_frac,
                 ROUND(CAST(COALESCE(dup5.d5chars, 0) AS DOUBLE)
                       / b.n_norm_chars, 9) AS dup_5gram_frac
          FROM base b
          LEFT JOIN top2 ON b.doc_id = top2.doc_id
          LEFT JOIN dup5 ON b.doc_id = dup5.doc_id)
    SELECT doc_id, n_norm_chars, top_2gram, top_2gram_frac, dup_5gram_frac,
           CAST(top_2gram_frac > 0.20 OR dup_5gram_frac > 0.15 AS INTEGER)
             AS repetition_flag
    FROM j
    """


def doc_gram_hashes(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
):
    """One row per overlapping n-token gram per document: (id_col,
    gh) where gh is the md5 of the space-joined gram. Occurrence-
    weighted (a gram repeated in a doc yields multiple rows). Docs
    shorter than n tokens emit nothing. Gram assembly is the same
    lead()-window pass as duplicate_spans — one doc-key shuffle, no
    array materialization.
    """
    from pyspark.sql import Window as W

    from dragnet_spark.ops import spread

    tok = spread(df).select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("pos", "tok")
    )
    w = W.partitionBy(id_col).orderBy("pos")
    gram = F.concat_ws(
        " ", F.col("tok"), *[F.lead("tok", k).over(w) for k in range(1, n)]
    )
    return (
        tok.select(
            F.col(id_col),
            F.md5(gram).alias("gh"),
            F.lead("tok", n - 1).over(w).isNotNull().alias("__full"),
        )
        .filter(F.col("__full"))
        .drop("__full")
    )


def benchmark_overlap(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    bench_mod: int = 97,
):
    """Benchmark decontamination audit: flag training documents that
    share an n-token gram with any held-out evaluation document. The
    eval set here is the deterministic slice ``doc_id % bench_mod ==
    0`` — a stand-in for a real benchmark table (swap the slice for a
    `spark.read` of the eval corpus; the plan shape is identical).

    Per training doc: total grams, grams that hit the eval gram set
    (occurrence-weighted, so long verbatim overlaps score higher),
    hit fraction, and the contaminated flag used for removal.

    Scale shape: eval docs are a tiny fraction, so their distinct
    gram-hash set is broadcast — the 100-TB training side never
    shuffles for the probe; grams ride as md5 hashes. Gram assembly
    is the same lead()-window pass as duplicate_spans (one doc-key
    shuffle). Docs shorter than n tokens have no grams and are
    definitionally clean (absent from the report on both engines).
    """
    pos = doc_gram_hashes(df, text_col, id_col, n)
    is_bench = F.col(id_col) % bench_mod == 0
    bench_grams = (
        pos.filter(is_bench).select("gh").distinct().withColumn(
            "__hit", F.lit(1)
        )
    )
    train = pos.filter(~is_bench)
    return (
        train.join(F.broadcast(bench_grams), "gh", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            .cast("long")
            .alias("n_hit_grams"),
        )
        .select(
            id_col,
            "n_grams",
            "n_hit_grams",
            F.round(
                F.col("n_hit_grams").cast("double") / F.col("n_grams"), 9
            ).alias("hit_frac"),
            (F.col("n_hit_grams") > 0).cast("int").alias("contaminated"),
        )
    )


def benchmark_overlap_sql(
    text_expr: str = "text", n: int = 8, bench_mod: int = 97
) -> str:
    """DuckDB twin of benchmark_overlap over the documents table."""
    return f"""
    WITH t AS (SELECT doc_id, {tokens_sql(text_expr)} AS toks
               FROM documents),
    g AS (SELECT doc_id,
                 md5(array_to_string(toks[u.i + 1 : u.i + {n}], ' ')) AS gh
          FROM t, UNNEST(range(0, GREATEST(len(toks) - {n} + 1, 0))) AS u(i)),
    bench AS (SELECT DISTINCT gh FROM g WHERE doc_id % {bench_mod} = 0),
    train AS (SELECT * FROM g WHERE doc_id % {bench_mod} <> 0)
    SELECT train.doc_id, COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN bench.gh IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit_grams,
           ROUND(CAST(SUM(CASE WHEN bench.gh IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 9) AS hit_frac,
           CAST(SUM(CASE WHEN bench.gh IS NOT NULL THEN 1 ELSE 0 END) > 0
                AS INTEGER) AS contaminated
    FROM train LEFT JOIN bench ON train.gh = bench.gh
    GROUP BY train.doc_id
    """


# --------------------------------------------------------- BM25 rank


def bm25_rank(
    df, text_col: str, id_col: str, query_terms: list[str], k: int = 10,
):
    """Top-k documents for a keyword query, scored with BM25
    (k1=1.2, b=0.75) using a LINEAR idf — the relevance-mining op a
    training-data pipeline runs to pull topical documents out of a
    100 TB corpus.

    Cross-engine exactness (the repo's e-integer discipline): with
    k1 = 6/5 and b = 3/4 every per-term score is a ratio of two exact
    BIGINT products —

        idf_lin   = (2N - 2df + 1) / (2df + 1)          # (N-df+.5)/(df+.5)
        saturation = 44*T*tf / (20*T*tf + 6*T + 18*dl*N) # tf(k1+1)/(tf+k1(1-b+b*dl/avgdl)), avgdl=T/N
        score_t   = (2N-2df+1)*44*T*tf / ((2df+1)*(20*T*tf + 6*T + 18*dl*N))

    — ONE IEEE division per term, and the document score adds the
    per-term doubles in the FIXED order of ``query_terms`` (conditional
    pivot, not SUM over rows), so no engine can disagree on summation
    order or libm ulp. Linear idf replaces log idf for the same
    bit-reproducibility reason as ``tfidf_top_terms`` (documented
    variant; monotone in df).

    Scale shape: tokens are filtered to the query terms BEFORE the
    (doc, term) aggregation, so only matching tokens shuffle; dl/T/N
    come from one narrow token-count pass; the totals ride a broadcast
    1-row cross join (sanctioned normalizer pattern). No UDF.

    Returns (doc_id, score, rank) — rank 1..k, ties break on doc_id.
    """
    from dragnet_spark.ops import spread

    if not query_terms or len(set(query_terms)) != len(query_terms):
        raise ValueError("query_terms must be non-empty and distinct")

    # ONE tokenize pass (r14: the old dl/tf/totals branches re-embedded
    # the explode lineage three times): per-doc token count and the
    # per-query-term tfs come out of a single conditional-count
    # aggregation, then df/T/N reduce the per-doc table to one
    # broadcast row. The per-doc table is materialized once — it is
    # the whole-corpus reduction every later step reads, at
    # docs-not-tokens cardinality.
    from dragnet_spark.ops.dedup import _materialize_once

    tok = spread(df).select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("term")
    )
    perdoc = _materialize_once(
        tok.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("dl"),
            *[
                F.sum(F.when(F.col("term") == t, 1).otherwise(0))
                .alias(f"_tf{i}")
                for i, t in enumerate(query_terms)
            ],
        )
    )
    glob = perdoc.agg(
        F.sum("dl").alias("T"),
        F.count(F.lit(1)).alias("N"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(query_terms))
        ],
    )
    # only docs containing >= 1 query term are ranked (the old tf
    # table's population — zero-score rows must not pad the top-k)
    matched = perdoc.filter(
        F.greatest(*[F.col(f"_tf{i}") for i in range(len(query_terms))]) > 0
    )
    scored = matched.crossJoin(F.broadcast(glob))

    def _score_t(i: int):
        tf, dfq = F.col(f"_tf{i}"), F.col(f"_df{i}")
        return F.when(
            tf > 0,
            (
                (2 * F.col("N") - 2 * dfq + 1) * (44 * F.col("T") * tf)
            ).cast("double")
            / (
                (2 * dfq + 1)
                * (
                    20 * F.col("T") * tf
                    + 6 * F.col("T")
                    + 18 * F.col("dl") * F.col("N")
                )
            ).cast("double"),
        ).otherwise(F.lit(0.0))

    # fixed-order sum: score = s(term_1) + s(term_2) + ... exactly as
    # written, identical in any engine (absent terms contribute the
    # same 0.0 literal the old coalesce produced)
    agg = scored.select(
        "doc_id",
        *[_score_t(i).alias(f"_s{i}") for i in range(len(query_terms))],
    )
    score = F.col("_s0")
    for i in range(1, len(query_terms)):
        score = score + F.col(f"_s{i}")
    # global rank without the single-partition WindowExec (banned
    # registry-wide): distributed range sort + per-partition offsets
    from dragnet_spark.ops.rank import global_row_number

    return (
        global_row_number(
            agg.withColumn("score", score),
            [F.desc("score"), F.asc("doc_id")],
            "rank",
        )
        .withColumn("rank", F.col("rank").cast("int"))
        .filter(F.col("rank") <= k)
        .select("doc_id", "score", "rank")
    )


def bm25_rank_sql(text_expr: str, query_terms: list[str], k: int = 10) -> str:
    """DuckDB twin of bm25_rank over the documents table."""
    terms_list = ", ".join(f"'{t}'" for t in query_terms)
    pivot = " + ".join(
        f"COALESCE(MAX(CASE WHEN term = '{t}' THEN score_t END), 0.0)"
        for t in query_terms
    )
    return f"""
    WITH tok AS (SELECT doc_id, t.term
                 FROM documents, UNNEST({tokens_sql(text_expr)}) AS t(term)),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
    totals AS (SELECT SUM(dl) AS T, COUNT(*) AS N FROM dl),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
           WHERE term IN ({terms_list}) GROUP BY doc_id, term),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id, tf.term,
             CAST((2*N - 2*df + 1) * (44*T*tf) AS DOUBLE)
             / CAST((2*df + 1) * (20*T*tf + 6*T + 18*dl*N) AS DOUBLE)
             AS score_t
      FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id), totals),
    agg AS (SELECT doc_id, {pivot} AS score
            FROM scored GROUP BY doc_id)
    SELECT doc_id, score,
           CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
    FROM agg QUALIFY rank <= {k}
    """
