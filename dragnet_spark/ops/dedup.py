"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Designed for the 100 TB regime:

* **exact** — one hash-groupBy shuffle keyed on the fingerprint;
  partial aggregation means the shuffle carries unique digests.
* **MinHash-LSH** — signatures are per-row expressions (no shuffle);
  candidate generation explodes each row into `bands` rows and
  self-joins on (band, band_hash) — a shuffle whose keys are hash
  buckets, so it parallelizes and AQE handles skewed buckets; exact
  Jaccard verification touches only candidate pairs, never the O(n²)
  cross product.
* **n-gram Jaccard** — exact pairwise similarity, gated behind the
  LSH prefilter (the un-prefiltered variant exists for small inputs
  and oracle checks).
* **SimHash** — 64-bit signature via xxhash64 (JVM hash; no SQL twin,
  so its registry entry is a rows-only check).

All outputs order pairs as id_a < id_b to keep results canonical.
"""

from __future__ import annotations

from dragnet_spark.errors import ContractError

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Column
from pyspark.sql import functions as F

from dragnet_spark.ops import spread
from dragnet_spark.ops.text import (
    MINHASH_P,
    fingerprint,
    minhash_coeffs,
    shingle_hash,
    shingles,
    tokens,
)


#: minhash verify-stage routing boundary: below this input size the
#: whole shingle-set table is a few GB and two direct shuffles beat
#: the semi-filter's ~1 s of fixed cost (checkpoint + distinct +
#: broadcast + two extra joins); above it the sets shuffle grows
#: linearly with the corpus while candidates stay collision-family
#: sized, and the semi path wins by the same margin (256 MB of docs
#: ≈ 2M docs on the graded corpus — between the 100× tier, where the
#: direct form measures fine, and the 1000× tier, where the verify
#: stage was 47% of wall and the 10⁴ tier filled this box's disk).
MINHASH_SEMI_VERIFY_MIN_BYTES = 256 * 1024 * 1024


def _relation_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for the plan — file-source relations
    report their scan bytes (metadata only, no job). Unknown sources
    report spark.sql.defaultSizeInBytes (Long.Max), which routes to
    the scale path: correct either way, and real corpora are
    file-backed. A stats-API failure (py4j hiccup, exotic plan)
    likewise returns Long.Max — "size unknown" must route to the
    scale-safe semi path, never the direct path whose double sets
    shuffle fills disks on a huge corpus; the cost of guessing wrong
    on a small corpus is ~1 s of semi-path fixed overhead."""
    import sys as _sys

    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # pragma: no cover — stats API unavailable
        return _sys.maxsize


def _materialize_once(df: DataFrame) -> DataFrame:
    """Materialize a small intermediate that the downstream plan
    references several times (Catalyst re-embeds — i.e. re-executes —
    an unmaterialized subplan per reference). Uses RELIABLE
    ``checkpoint`` when the session has a checkpoint dir configured
    (``sc.setCheckpointDir`` — blocks survive executor loss, the right
    posture on clusters with dynamic allocation / spot nodes), else
    ``localCheckpoint`` (executor-local blocks: fastest, and fine on
    local[N] or static clusters, but an executor loss truncates the
    lineage permanently — the tradeoff callers opt into by not
    configuring a checkpoint dir)."""
    try:
        has_dir = df.sparkSession.sparkContext.getCheckpointDir() is not None
    except Exception:  # pragma: no cover — py4j hiccup
        has_dir = False
    if has_dir:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def _collision_pairs(
    rows: DataFrame, id_col: str, key_cols: list[str],
    rows_materialized: bool = False,
) -> DataFrame:
    """Deduplicated candidate pairs (id_a < id_b) from one
    (key..., id) collision-row table — the LSH candidate-generation
    core shared by minhash_lsh_pairs, embedding_near_dup_lsh, and the
    store-amortized forms (index/fingerprints.band_store_pairs /
    srp_store_pairs read the SAME rows from a persisted store, so one
    definition here is what makes batch and from-store pair discovery
    provably identical). The self-join keys on hash buckets, so it
    shuffles n·bands rows — never the O(n²) cross product — and AQE
    splits hot buckets.

    The input is materialized before the self-join unless the caller
    says it is already file-backed (``rows_materialized=True`` — the
    store paths, whose band rows come off a persisted parquet store):
    the join references ``rows`` twice and Catalyst re-embeds — i.e.
    re-executes — the whole row-generation lineage per reference
    (measured r14: the batch minhash plan ran the scan → shingle →
    signature pipeline twice and the SRP plan ran the bucket-UDF
    matmul twice, because a BroadcastExchange build side can never be
    a ReusedExchange of the probe side). The checkpoint is linear and
    skinny (id + band + an 8-byte-or-so bucket key per band row), and
    AQE still picks the join strategy from the checkpoint's ACTUAL
    size — broadcast while it fits, sort-merge at corpus scale."""
    if not rows_materialized:
        rows = _materialize_once(rows)
    left = rows.select(*key_cols, F.col(id_col).alias("id_a"))
    right = rows.select(*key_cols, F.col(id_col).alias("id_b"))
    return (
        left.join(right, list(key_cols))
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


#: the semi-verify id set is force-broadcast up to this many ids.
#: Without the explicit hint the gate is AQE's 10 MB
#: autoBroadcastJoinThreshold, and an id set just past it (measured:
#: ~2.7M ids per verify slice at the 10⁴ octave) silently downgrades
#: the semi to a sort-merge that shuffles the FULL corpus table —
#: raw text included, ~40 GB of exchange to serve a 21 MB id set, the
#: exact wall the semi path exists to avoid. Past the cap the
#: sort-merge semi is the correct shape (a degenerate all-duplicates
#: corpus must not OOM the driver).
#:
#: MEMORY CONTRACT: broadcasting n ids makes the DRIVER collect them
#: and build the hashed relation — roughly 40-64 B per long row once
#: LongToUnsafeRowMap overhead is in, so the 16M default needs
#: ~0.6-1 GB of driver headroom (this repo's sessions run multi-GB
#: drivers; measured fine at the 10⁴ octave). On a default 1g driver
#: set the cap near 2_000_000 via either knob below — the AQE
#: threshold that used to protect small drivers no longer gates this
#: join.
MAX_SEMI_BROADCAST_IDS = 16_000_000


def _max_semi_broadcast_ids(spark) -> int:
    """The effective broadcast-id cap: the Spark conf
    ``spark.dragnet.semiBroadcastMaxIds`` wins, then the env var
    ``DRAGNET_MAX_SEMI_BROADCAST_IDS``, then the 16M default — the
    two overrides exist so a small-driver deployment can lower the
    cap without code changes (see :data:`MAX_SEMI_BROADCAST_IDS`'s
    memory contract)."""
    import os as _os

    try:
        conf = spark.conf.get("spark.dragnet.semiBroadcastMaxIds", None)
    except Exception:  # pragma: no cover — conf API hiccup
        conf = None
    if conf is not None:
        # int() raises on purpose: a malformed value (e.g. '2M') set
        # to PROTECT a small driver must not silently fall back to
        # the 16M default — the failure the knob exists to prevent
        try:
            return int(conf)
        except ValueError:
            raise ContractError(
                f"spark.dragnet.semiBroadcastMaxIds={conf!r} is not an "
                f"integer — set a plain row count (e.g. 2000000); "
                f"refusing to fall back to the {MAX_SEMI_BROADCAST_IDS} "
                f"default that the knob was set to override"
            ) from None
    env = _os.environ.get("DRAGNET_MAX_SEMI_BROADCAST_IDS")
    if env:
        return int(env)
    return MAX_SEMI_BROADCAST_IDS


def _semi_filter_ids(side: DataFrame, candidates: DataFrame, key: str):
    """sets/vecs table left-semi-filtered to the distinct candidate
    ids, with the id side explicitly broadcast when it is counted
    small (:data:`MAX_SEMI_BROADCAST_IDS`). The count is one narrow
    job over the already-materialized candidates — metadata-cheap
    next to the join it sizes."""
    cand_ids = (
        candidates.select(F.col("id_a").alias(key))
        .union(candidates.select(F.col("id_b").alias(key)))
        .distinct()
    )
    if cand_ids.count() <= _max_semi_broadcast_ids(side.sparkSession):
        cand_ids = F.broadcast(cand_ids)
    return side.join(cand_ids, key, "leftsemi")


def _verify_jaccard_pairs(
    candidates: DataFrame,
    sets: DataFrame,
    threshold: float,
    verify_semi: bool,
    candidates_materialized: bool = False,
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs against a
    (id, tset) shingle-set table — the verify tail shared by
    minhash_lsh_pairs and the store-amortized band_store_pairs.
    ``verify_semi`` picks the join shape (see minhash_lsh_pairs's
    docstring): the semi path materializes candidates once and
    left-semi-joins the sets table to the distinct candidate ids
    BEFORE the pair joins (ids explicitly broadcast when counted
    small — :data:`MAX_SEMI_BROADCAST_IDS`), so only collision-family
    docs ever compute or shuffle a shingle set. The filtered sets
    table is itself materialized once: the pair stage references it
    TWICE (id_a and id_b joins), and Catalyst re-embeds — i.e.
    re-scans the corpus and re-computes survivor shingle sets — per
    reference otherwise (measured at the 10⁴ octave: two full
    50M-doc text scans per verify job). Output is bit-identical
    either way. ``candidates_materialized`` says the caller's
    candidates are ALREADY file-backed (the bounded runs pass a
    filter over their parquet-resident ``_candidates`` sink) — the
    re-references then re-read a column-pruned parquet slice, which
    is cheap, and skipping the checkpoint keeps a long sliced run
    from accumulating one candidate checkpoint per slice on the
    disk-constrained box the slicing exists for."""
    if verify_semi:
        if not candidates_materialized:
            candidates = _materialize_once(candidates)
        sets = _materialize_once(_semi_filter_ids(sets, candidates, "id"))
    with_sets = candidates.join(
        sets.select(F.col("id").alias("id_a"), F.col("tset").alias("ts_a")),
        "id_a",
    ).join(
        sets.select(F.col("id").alias("id_b"), F.col("tset").alias("ts_b")),
        "id_b",
    )
    return (
        with_sets.withColumn("jaccard", _jaccard(F.col("ts_a"), F.col("ts_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def exact_dup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Group rows by normalized-text fingerprint: (fingerprint, keep_id,
    n_dupes). keep_id is the smallest id in the group (the canonical
    survivor); n_dupes counts group size."""
    return (
        df.select(fingerprint(text_col).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dupes"),
        )
    )


def token_sets(
    df: DataFrame, text_col: str, id_col: str, ngram: int = 1
) -> DataFrame:
    """Distinct shingle sets (ngram=1 → plain token sets). Near-dup
    similarity uses 3-shingles by default: over a small vocabulary,
    bare token sets saturate (most pairs look alike) while consecutive
    word n-grams stay discriminative."""
    return df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(shingles(text_col, ngram)).alias("tset"),
    )


def _exploded_gram_hashes(sets: DataFrame) -> DataFrame:
    """(id, sz, g): explode a (id, tset) shingle-set table with the
    gram riding as a 56-bit md5-prefix BIGINT, not the string. The
    gram string never crosses the shuffle: the sort/join key is 8
    bytes instead of a ~30-char UTF8 blob (duplicate_spans'
    discipline, applied to the pair-finding family). ``sz`` is the
    true distinct-STRING shingle count, fixed before hashing; both
    engines hash with the same md5 prefix, so the cross-engine
    comparison stays exact even in the astronomically-unlikely
    collision case (both sides would count the same collision)."""
    return sets.select(
        "id", F.size("tset").alias("sz"), F.explode("tset").alias("gs")
    ).select(
        "id",
        "sz",
        F.conv(F.substring(F.md5("gs"), 1, 14), 16, 10)
        .cast("long")
        .alias("g"),
    )


def _shared_gram_counts(ex: DataFrame) -> DataFrame:
    """Count shared grams per document pair from ONE exploded
    (id, sz, g) table: (id_a, sz_a, id_b, sz_b, shared).

    The join is a deliberately-shuffled self-join (merge hint on both
    sides) rather than the planner's default. Two reasons, both scale:

    * AQE would otherwise BROADCAST the exploded gram table when the
      sf is small — a plan that dies at corpus scale (the build side
      IS the corpus's shingle inventory). Forcing the shuffle keeps
      the plan shape the one a 1000-executor run needs: both sides
      hash-partitioned on the gram, AQE skew-split available for
      stop-shingle-dense grams.
    * With both sides canonically identical (same DataFrame, alias
      only), AQE materializes the gram-partitioned shuffle ONCE and
      feeds the second side from a ReusedExchange — the scan, the
      shingle transform, and the explode run a single time instead of
      twice (shingling dominates the wall time: tokenize + slice +
      concat per position per doc).
    """
    A, B = ex.alias("A"), ex.alias("B")
    return (
        A.hint("merge")
        .join(B.hint("merge"), F.col("A.g") == F.col("B.g"))
        .filter(F.col("A.id") < F.col("B.id"))
        .groupBy(
            F.col("A.id").alias("id_a"),
            F.col("A.sz").alias("sz_a"),
            F.col("B.id").alias("id_b"),
            F.col("B.sz").alias("sz_b"),
        )
        .agg(F.count("*").alias("shared"))
    )


def _jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.round(inter / union, 6)


def ngram_jaccard_pairs(
    df: DataFrame, text_col: str, id_col: str, threshold: float = 0.8,
    ngram: int = 3,
) -> DataFrame:
    """Exact shingle-set Jaccard ≥ threshold via the shared-shingle
    equi-join: explode distinct shingles, self-join on the shingle,
    count shared grams per pair, then
    ``jaccard = shared / (|A| + |B| - shared)``.

    Bit-identical to the naive all-pairs form for any threshold > 0
    (a pair sharing zero shingles has jaccard 0 and can't pass), but
    the O(n²) non-equi BNLJ with a per-pair set intersection becomes
    hash shuffles whose volume is Σ_g C(df_g, 2) — only pairs that
    actually co-occur in some shingle are materialized (~10× fewer
    intermediate rows than n²/2 even on the shingle-dense synthetic
    corpus; unrelated real-corpus docs contribute nothing). Still the
    exact verification path — dedup_minhash_lsh remains the candidate
    generator at scale, and a 100 TB run would additionally ride the
    grams as md5 hashes (duplicate_spans' discipline) and df-cap
    stop-shingles (winnow_overlap's discipline)."""
    if threshold <= 0:
        raise ContractError(
            "ngram_jaccard_pairs requires threshold > 0 (the equi-join "
            "form cannot emit zero-overlap pairs)"
        )
    df = spread(df)
    sets = token_sets(df, text_col, id_col, ngram)
    shared = _shared_gram_counts(_exploded_gram_hashes(sets))
    jac = F.round(
        F.col("shared").cast("double")
        / (F.col("sz_a") + F.col("sz_b") - F.col("shared")).cast("double"),
        6,
    )
    return (
        shared.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame, text_col: str, id_col: str, threshold: float = 0.9,
    ngram: int = 3,
) -> DataFrame:
    """Directed shingle-set CONTAINMENT ``|A∩B| / |A| ≥ threshold``:
    the asymmetric near-dup relation Jaccard is blind to. A 50-token
    quote lifted verbatim into a 5,000-token page has Jaccard ≈ 0.01
    (never passes any sane symmetric threshold) but containment 1.0 —
    exactly the partial-copy / quotation / boilerplate-inclusion
    structure a training-data dedup pass must catch (Broder 1997
    introduced containment alongside resemblance for this reason).

    Emits (contained_id, container_id, containment): the row says
    "contained_id's shingles are ≥ threshold inside container_id".
    Both directions of every overlapping pair are tested from ONE
    undirected shared-shingle aggregation (post-agg row doubling is
    free; re-grouping directed pairs would double the shuffle).

    Same scale shape as :func:`ngram_jaccard_pairs` — shared-shingle
    equi-join, volume Σ_g C(df_g, 2), no BNLJ; bit-identical to the
    all-pairs form for threshold > 0 since a zero-overlap pair has
    containment 0. At 100 TB the same two disciplines apply verbatim:
    grams ride as md5 hashes and stop-shingles get df-capped (a gram
    shared by every boilerplate page would otherwise dominate
    Σ C(df_g, 2)); candidates can also come from the minhash band
    store, since band collision lower-bounds resemblance which
    lower-bounds containment."""
    if threshold <= 0:
        raise ContractError(
            "containment_pairs requires threshold > 0 (the equi-join "
            "form cannot emit zero-overlap pairs)"
        )
    df = spread(df)
    sets = token_sets(df, text_col, id_col, ngram)
    shared = _shared_gram_counts(_exploded_gram_hashes(sets))
    directed = shared.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("contained_id"),
                    F.col("id_b").alias("container_id"),
                    F.col("sz_a").alias("sz"),
                    F.col("shared"),
                ),
                F.struct(
                    F.col("id_b").alias("contained_id"),
                    F.col("id_a").alias("container_id"),
                    F.col("sz_b").alias("sz"),
                    F.col("shared"),
                ),
            )
        ).alias("d")
    ).select("d.*")
    cont = F.round(
        F.col("shared").cast("double") / F.col("sz").cast("double"), 6
    )
    return (
        directed.withColumn("containment", cont)
        .filter(F.col("containment") >= threshold)
        .select("contained_id", "container_id", "containment")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.8,
    ngram: int = 3,
    verify_semi: bool | None = None,
) -> DataFrame:
    """MinHash + banded LSH candidate generation, then exact-Jaccard
    verification of candidates only.

    rows-per-band r = num_hashes/bands; a pair collides in some band
    with probability 1-(1-j^r)^bands. Band hash is md5 over the band's
    signature slice.

    Shuffle discipline for 100 TB: the band join carries only
    (band, bhash, id) — the shingle sets needed for verification are
    joined back *after* candidate pairs are deduplicated, so the
    potentially-wide text payload never rides through the bucket
    shuffle or the pair-dedup shuffle.

    ``verify_semi`` picks the verify-join's shape; ``None`` (default)
    auto-routes on the input relation's Catalyst size estimate
    (metadata-only — no extra job), crossing at
    ``MINHASH_SEMI_VERIFY_MIN_BYTES``:

    * **False / small corpus**: the shingle-set table joins the
      candidate pairs directly. Two sets-table shuffles, zero fixed
      overhead — the right shape while the whole sets table is a few
      GB (graded at sf0.01/0.1/10×/100×).
    * **True / large corpus**: candidates are materialized once
      (:func:`_materialize_once` — they are referenced five times
      below, and Catalyst re-embeds, i.e. re-executes, the
      signature+band subplan per reference otherwise; reliable
      checkpoint when a checkpoint dir is configured, executor-local
      otherwise), then the sets table is
      left-semi-joined to the distinct candidate ids BEFORE the pair
      joins, so only docs that collided in some band ever compute or
      shuffle a shingle set. Catalyst pushes the semi-join below the
      token-set projection (PushDownLeftSemiAntiJoin — the join key
      is a pass-through column); AQE converts it to broadcast at
      runtime (candidate ids are collision families, a few MB of
      ids — while a degenerate all-duplicates corpus falls back to a
      sort-merge semi instead of OOMing the driver). Measured: at the
      10⁴ tier (50M docs) the unfiltered form shuffled the full
      50M-row token-set table twice (~100 GB each way) to serve
      ~2.5M candidate pairs and filled this box's disk; the
      semi-filtered form shuffles only collision-family sets. Graded
      end-to-end at the 1000× tier (CORRECTNESS_SF1000.json).

    Output is bit-identical either way — docs absent from every
    candidate pair cannot contribute a verified pair — and the
    fixed costs of the semi path (checkpoint, distinct, broadcast,
    two extra joins: ~1 s) are why it is not unconditional.
    """
    if num_hashes % bands:
        raise ContractError("num_hashes must be divisible by bands")
    r = num_hashes // bands
    if verify_semi is None:
        verify_semi = _relation_bytes(df) >= MINHASH_SEMI_VERIFY_MIN_BYTES

    df = spread(df)
    sets = token_sets(df, text_col, id_col, ngram)
    # signature via explode + groupBy: each shingle is md5-hashed ONCE,
    # the k permutations are cheap modular arithmetic, and the partial
    # aggregation means the shuffle carries k longs per document
    ex = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(shingles(text_col, ngram))).alias("sh"),
    )
    h = shingle_hash(F.col("sh"))
    base = ex.groupBy("id").agg(
        *[
            F.min((F.lit(a) * h + F.lit(b)) % MINHASH_P).alias(f"__m{i}")
            for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
        ]
    )
    # band bucket = 56-bit md5 prefix as BIGINT, the same discipline
    # grams ride in _exploded_gram_hashes: the bucket key is the join
    # AND shuffle key for bands·n rows, and an 8-byte long shuffles +
    # sorts at ~1/3 the volume of a 32-char md5 string (measured: the
    # banded exchange was the largest single shuffle of the 10⁴-tier
    # minhash run). The oracle twin takes the IDENTICAL prefix of the
    # identical md5, so both engines see the same buckets — including
    # any astronomically-unlikely prefix collision, which verification
    # would discard on both sides anyway.
    band_arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                "\x1f",
                                *[F.col(f"__m{i * r + j}") for j in range(r)],
                            )
                        ),
                        1,
                        14,
                    ),
                    16,
                    10,
                )
                .cast("long")
                .alias("bhash"),
            )
            for i in range(bands)
        ]
    )
    banded = base.select("id", F.explode(band_arr).alias("b")).select(
        "id", F.col("b.band").alias("band"), F.col("b.bhash").alias("bhash")
    )
    candidates = _collision_pairs(banded, "id", ["band", "bhash"])
    return _verify_jaccard_pairs(candidates, sets, threshold, verify_semi)


def minhash_band_array(
    text_col: Column | str,
    num_hashes: int = 16,
    bands: int = 8,
    ngram: int = 3,
) -> Column:
    """Per-ROW minhash band keys as ONE ``array<long>`` column
    (element *i* = band *i*'s 56-bit md5-prefix BIGINT — the exact
    bucket key :func:`minhash_lsh_pairs` shuffles on), value-identical
    to the batch LSH's explode+groupBy signature (same seeded coeffs,
    same shingle hash, same band md5 prefix), but built from narrow
    array expressions with NO shuffle: ``array_min`` over the permuted
    shingle hashes replaces the explode+``min`` agg. Band-store v2
    persists these longs directly, so store keys, streaming anti-join
    keys, and any batch LSH run agree bit-for-bit again — an 8-byte
    key shuffles/sorts/persists at ~1/3 the volume of the 32-char md5
    string v1 stored.

    That makes the band keys computable inside a streaming micro-batch
    (stateless projection) and inside the band-store build at scan
    speed. A document with no shingles (short text) yields a NULL
    array — it can never collide (``posexplode`` of NULL emits no
    rows), matching the batch path where such a document emits no
    candidate rows.

    Returning one array matters for cost: the shingle-hash array is
    let-bound (`ops/text._bind_once`) and the whole expression is
    evaluated ONCE per row. Returning ``bands`` separate columns would
    re-inline — and re-evaluate — the md5-per-shingle work once per
    band (HOFs are CodegenFallback; no subexpression elimination).
    Consumers either ``posexplode`` this column (store build/probe) or
    project it once and reference elements of the projected attribute
    (the streaming per-band anti-joins).
    """
    from dragnet_spark.ops.text import _bind_once

    if num_hashes % bands:
        raise ContractError("num_hashes must be divisible by bands")
    r = num_hashes // bands

    def _bands_from(hs):
        mins = [
            F.array_min(
                F.transform(
                    hs, lambda h: (F.lit(a) * h + F.lit(b)) % MINHASH_P
                )
            )
            for (a, b) in minhash_coeffs(num_hashes)
        ]
        return F.when(
            F.size(hs) > 0,
            F.array(
                *[
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat_ws(
                                    "\x1f",
                                    *[mins[i * r + j] for j in range(r)],
                                )
                            ),
                            1,
                            14,
                        ),
                        16,
                        10,
                    ).cast("long")
                    for i in range(bands)
                ]
            ),
        )

    hashed = F.transform(
        F.array_distinct(shingles(text_col, ngram)),
        lambda s: shingle_hash(s),
    )
    return _bind_once(hashed, _bands_from)


def dedup_keep_first(pairs: DataFrame, df: DataFrame, id_col: str) -> DataFrame:
    """Survivor set: drop any row that appears as the larger id of a
    duplicate pair (single-pass approximation of connected-component
    dedup — keeps at least one row per duplicate cluster)."""
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def simhash64(col: Column | str, num_tokens_bits: int = 64) -> Column:
    """64-bit SimHash over the token multiset: for each bit b, sum
    (+1/-1) of token-hash bit b across tokens; bit b of the signature
    is 1 when the sum is positive. Pure built-in expressions via
    xxhash64 + bitwise ops (JVM-side; no portable SQL twin).
    """
    toks = tokens(col)
    # per-bit contribution: shiftright(hash,b)&1 ? +1 : -1, summed with
    # aggregate(); bits assembled with OR (no arithmetic overflow)
    hashes = F.transform(toks, lambda t: F.xxhash64(t))

    def bit_contrib(b: int):
        # helper (not a default-arg lambda: pyspark requires exactly
        # two lambda parameters for aggregate's merge function)
        return F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )

    out = F.lit(0).cast("long")
    for b in range(num_tokens_bits):
        contrib = bit_contrib(b)
        bit = F.when(contrib > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        out = out.bitwiseOR(F.shiftleft(bit, b))
    return out


def simhash_hamming(a: Column, b: Column) -> Column:
    """Hamming distance between two simhash64 values."""
    return F.bit_count(a.bitwiseXOR(b))


# ------------------------------------------------- embedding-cosine near-dup

# one shared implementation of dot/norm (similarity.py): a zero vector
# must score 0, not NaN — NaN satisfies >= threshold in Spark and
# desc-sorts first, so an unguarded norm emits junk pairs/ranks
from dragnet_spark.ops.similarity import (  # noqa: E402
    _dot as _vdot,
    _ids,
    _matrix,
    _safe_norm as _vnorm,
    cosine_pairs,
)


#: broadcast ceiling for the all-pairs baseline, in MATRIX ELEMENTS
#: (n_vectors × dims). 64M float64s = 512 MB on the driver and per
#: executor — the honest limit of "broadcast one side"; beyond it the
#: LSH variant is the only sane shape and the error says so.
MAX_ALLPAIRS_ELEMENTS = 64_000_000


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    max_elements: int = MAX_ALLPAIRS_ELEMENTS,
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs: (id_a < id_b,
    cosine) for every pair with round(cosine, 6) >= threshold.

    All-pairs — the oracle-checkable baseline. Physical shape: collect
    the (id, vector) table as Arrow and broadcast it, then one
    :func:`~dragnet_spark.ops.similarity.cosine_pairs` call per Arrow
    batch against it (mapInArrow), emitting each unordered pair exactly
    once from its lower-id side. This is the same O(n²) arithmetic an
    expression-tree self-join does, but ~10²-10³× faster: a non-equi
    self-join is a BroadcastNestedLoop join evaluating an interpreted
    HOF dot per pair (measured: the 20k-vector tier took >1 h; the
    matmul form does the identical 2×10⁸ dots in seconds), and the
    broadcast posture is unchanged — the BNLJ broadcast one side too.
    Decimal HALF_UP rounding (Spark's ``F.round``) happens before the
    threshold, so results stay reproducible across engines and
    summation orders. A null id pairs with nothing, as in the SQL
    twin's ``a.vec_id < b.vec_id``. A corpus over ``max_elements``
    (n_vectors × dims) fails loudly naming
    :func:`embedding_near_dup_lsh` — the scale path that produces the
    same verified pairs from hyperplane buckets.
    """
    spark = df.sparkSession
    side = (
        spread(df)
        .select(
            F.col(id_col).cast("long").alias("id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .where(F.col("id").isNotNull())
    )
    table = side.toArrow()
    ids, mat = np.array([], np.int64), None
    if table.num_rows:
        ids = _ids(table.column("id"))[0]
        mat = _matrix(table.column("v"), np.float64)
        if mat.size > max_elements:
            raise ContractError(
                f"all-pairs baseline refuses {mat.shape[0]} vectors x "
                f"{mat.shape[1]} dims > {max_elements} broadcast "
                f"elements; use embedding_near_dup_lsh for corpus-scale "
                f"near-dup (same verified pairs, bucketed candidates)"
            )
    bc = spark.sparkContext.broadcast((ids, mat))

    def run(batches):
        bids, bmat = bc.value
        for batch in batches:
            if not batch.num_rows or not len(bids):
                continue
            a, b, c = cosine_pairs(
                _ids(batch.column("id"))[0],
                _matrix(batch.column("v"), np.float64),
                bids, bmat, threshold,
            )
            if len(a):
                yield pa.record_batch({"id_a": a, "id_b": b, "cosine": c})

    return side.mapInArrow(run, schema="id_a long, id_b long, cosine double")


#: SRP quantization scale: embeddings and plane coefficients both
#: quantize to round(x·1e6) int64 before the sign test, which makes the
#: signature EXACT integer arithmetic — every partial sum stays far
#: below 2^53, so numpy int64, Spark, and DuckDB (integers carried in
#: doubles) all compute bit-identical signs. A float dot product's sign
#: is summation-order-dependent near zero; the quantized family has no
#: such boundary, which is what lets a persisted SRP band store be
#: graded by a DuckDB twin key-for-key (sign-projection → band →
#: collision), the way the minhash band store is.
SRP_SCALE = 1_000_000


def auto_bits_per_band(
    n: int, bands: int, target_candidates_per_row: float = 4.0
) -> int:
    """The SRP band width a corpus of ``n`` vectors NEEDS: expected
    RANDOM band collisions are C(n,2)·bands·2^-bits (uncorrelated
    pair, p≈0.5 per bit), so holding the candidate budget at
    ``target_candidates_per_row``·n requires

        bits ≥ log2(n · bands / (2 · target)).

    Band width must grow with log2(n) — a pinned width has a corpus
    ceiling. Measured at the 1000× tier (4M vectors): 16-bit bands
    admit ~7e8 random candidates whose exact-verify join ships two
    vectors per pair and filled 76 GB of shuffle disk; the formula
    gives 22 bits there, restoring O(n) candidates. (True near-dups
    are unaffected: identical vectors collide at ANY width, and
    near-identical pairs' per-bit collision prob is ≈1, so recall at
    the 0.9 working regime stays ~1 while random collisions halve per
    added bit.) Floor of 8 keeps tiny corpora from degenerate 1-bit
    bands."""
    import math

    if n < 2:
        return 8
    return max(
        8,
        math.ceil(
            math.log2(n * bands / (2.0 * target_candidates_per_row))
        ),
    )


#: width ceiling for the auto-width SRP form: 32 bits per band covers
#: corpora to n·bands/8 = 2³² (n ≈ 5.7e9 vectors at 6 bands) — beyond
#: any single-index regime this engine targets. A FIXED ceiling is what
#: makes auto-width oracle-twinnable: both engines derive the working
#: width as a PREFIX of the same 32-bit plane matrix, so the oracle SQL
#: can stay one static string whose width is a scalar subquery of
#: COUNT(*), graded unchanged at every tier.
AUTOBITS_MAX = 32


def auto_srp_width(
    n: int, bands: int, dims: int, seed: int = 42
) -> tuple[int, "np.ndarray"]:
    """THE auto-width rule, single-sourced: (bits, prefix planes) for
    a corpus of ``n`` vectors — ``bits = min(AUTOBITS_MAX,
    auto_bits_per_band(n, bands))`` keyed as a prefix of the static
    32-bit plane matrix. Every surface that sizes an SRP store
    (library autobits pipeline, ``dn srp-build --bits auto``, the
    octave tools) calls this one function so the formula and the
    ceiling cannot drift apart across copies."""
    bits = min(AUTOBITS_MAX, auto_bits_per_band(n, bands))
    return bits, srp_planes_q_prefix(dims, bands, bits, seed)


def srp_planes_q_prefix(
    dims: int, bands: int, bits_per_band: int, seed: int = 42
):
    """The first ``bits_per_band`` planes of each band of the
    full-width (:data:`AUTOBITS_MAX`) matrix — the auto-width slicing
    rule. Unlike :func:`srp_planes_q` (which consumes RNG rows
    sequentially, so different widths get entirely different planes),
    prefix slicing keeps every width's band b a sub-signature of the
    full band b: the property that lets a runtime-chosen width match
    a static full-width oracle via ``substring(bucket, 1, bits)``."""
    if bits_per_band > AUTOBITS_MAX:
        raise ContractError(
            f"bits_per_band={bits_per_band} > AUTOBITS_MAX={AUTOBITS_MAX}"
        )
    full = srp_planes_q(dims, bands, AUTOBITS_MAX, seed)
    return np.vstack(
        [
            full[b * AUTOBITS_MAX: b * AUTOBITS_MAX + bits_per_band]
            for b in range(bands)
        ]
    )


def embedding_near_dup_lsh_autobits(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    dims: int = 64,
    bands: int = 16,
    seed: int = 42,
    target_candidates_per_row: float = 4.0,
) -> DataFrame:
    """SRP near-dup at the CORPUS-SCALED band width: one COUNT sizes
    ``bits = min(AUTOBITS_MAX, auto_bits_per_band(n, bands))`` and the
    pipeline runs :func:`embedding_near_dup_lsh` over the prefix-sliced
    plane matrix (:func:`srp_planes_q_prefix`). This is the fix for
    the pinned-width regime ceiling measured at the 1000× tier
    (16-bit bands → ~7e8 random candidates → 76 GB of shuffle disk,
    SCALE.md): random band collisions are C(n,2)·bands·2^-bits, so
    width must grow with log₂ n to hold the candidate budget at
    O(n). Recall at the 0.9 working regime is unaffected — identical
    vectors collide at any width. Returns (id_a, id_b, cosine)."""
    df = spread(df)
    # the sizing COUNT need not be its own corpus pass on the non-semi
    # route: that route materializes the (__id, __vec) projection
    # eagerly anyway (embedding_near_dup_lsh's _materialize_once), so n
    # rides the checkpoint job as an observed metric — the pagerank
    # setup discipline — and the separate count() pass disappears. The
    # semi route streams the corpus (nothing eager to ride), so it
    # keeps the explicit count. Routing is decided here from the same
    # plan-size estimate embedding_near_dup_lsh would use on this df.
    verify_semi = _relation_bytes(df) >= MINHASH_SEMI_VERIFY_MIN_BYTES
    vecs = None
    if verify_semi:
        n = df.count()
    else:
        from pyspark.sql import Observation

        obs = Observation()
        vecs = _materialize_once(
            df.select(
                F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec")
            ).observe(obs, F.count(F.lit(1)).alias("n"))
        )
        n = int(obs.get["n"])
    bits, planes = auto_srp_width(n, bands, dims, seed)
    return embedding_near_dup_lsh(
        df,
        id_col=id_col,
        vec_col=vec_col,
        threshold=threshold,
        dims=dims,
        bits_per_band=bits,
        bands=bands,
        seed=seed,
        planes_q=planes,
        verify_semi=verify_semi,
        _vecs=vecs,
    )


def srp_planes_q(
    dims: int, bands: int, bits_per_band: int, seed: int = 42
):
    """Quantized random hyperplanes for SRP-LSH: seeded gaussian
    directions scaled by :data:`SRP_SCALE` and rounded to int64.
    Deterministic in (dims, bands, bits_per_band, seed) — persisting
    these four recovers the exact plane matrix, and quantizing the
    DIRECTIONS (a ~1e-6 angular nudge) leaves the LSH family's
    collision geometry unchanged."""
    rng = np.random.RandomState(seed)
    P = rng.standard_normal((bands * bits_per_band, dims))
    return np.rint(P * SRP_SCALE).astype(np.int64)


def _quantize_i64(M: "np.ndarray") -> "np.ndarray":
    """round(x·1e6) half-AWAY-FROM-ZERO to int64 — the tie rule both
    Spark's and DuckDB's ``round()`` use (np.round is half-even and
    would disagree on exact .5 boundaries)."""
    S = M * float(SRP_SCALE)
    return (np.floor(np.abs(S) + 0.5) * np.sign(S)).astype(np.int64)


def _band_buckets_udf(planes_q, bands: int, bits_per_band: int):
    """Arrow UDF: embedding → array of per-band bucket strings.

    signs = (quantize(V) @ Pq.T >= 0) computed as one int64 matmul per
    Arrow batch; each band's bit-slice is rendered as a '0101…' bucket
    key. ~100× the scalar-expression throughput, the plan stays small
    (the plane matrix ships once in the closure, not as 6k literal
    nodes), and the integer arithmetic makes every sign engine-exact
    (see :data:`SRP_SCALE`). ``planes_q`` must be the int64 matrix from
    :func:`srp_planes_q` (or a store's persisted copy).
    """
    from pyspark.sql.functions import arrow_udf

    P = np.asarray(planes_q, dtype=np.int64)
    d = P.shape[1]
    width = bands * bits_per_band

    @arrow_udf("array<string>")
    def buckets(vecs: pa.Array) -> pa.Array:
        # NULL / wrong-dims rows yield NULL (they can never collide):
        # the UDF evaluates eagerly over the whole Arrow batch, so the
        # mask must live here — a F.when() wrapper would not stop a
        # ragged row from reaching the matmul
        ok = pc.fill_null(pc.equal(pc.list_value_length(vecs), d), False)
        valid = vecs.filter(ok)
        m = len(valid)
        keys = np.empty((m, width), np.uint8)
        if m:
            signs = _quantize_i64(_matrix(valid, np.float64)) @ P.T
            keys[:] = np.where(signs >= 0, ord("1"), ord("0"))
        # every valid row holds `bands` keys of `bits_per_band` chars
        values = pa.StringArray.from_buffers(
            m * bands,
            pa.py_buffer(np.arange(m * bands + 1, dtype=np.int32) * bits_per_band),
            pa.py_buffer(keys.tobytes()),
        )
        ok = ok.to_numpy(zero_copy_only=False)
        offsets = np.concatenate(([0], np.cumsum(ok * bands))).astype(np.int32)
        return pa.ListArray.from_arrays(offsets, values, mask=pa.array(~ok))

    # non-deterministic marking (guide: the optimizer duplicates a UDF
    # referenced by a pushable predicate): the posexplode downstream
    # infers `size(__buckets) > 0` and pushes it below the spread
    # exchange, leaving TWO ArrowEvalPython nodes — every row paid the
    # matmul twice (measured r14 in the dedup_embedding_lsh plan).
    # The function is pure, but marking it non-deterministic only
    # forbids the optimizer to clone/reorder it — one evaluation, the
    # filter applied above it.
    return buckets.asNondeterministic()


def srp_banded_sql(
    planes_q,
    bands: int,
    bits_per_band: int,
    vec_expr: str = "CAST(embedding AS DOUBLE[])",
) -> str:
    """DuckDB twin of :func:`_band_buckets_udf`: a SQL fragment
    computing ``band, bucket`` per row from ``qv`` (the quantized
    vector — callers bind ``qv`` in a prior CTE via
    ``list_transform({vec_expr}, x -> round(x * 1e6))``). One SELECT
    per band, UNION ALL — the plane coefficients embed as integer
    literals, and because every dot product is integer arithmetic
    carried exactly in doubles, the emitted keys match the Arrow UDF's
    bit-for-bit."""
    P = np.asarray(planes_q, dtype=np.int64)
    band_selects = []
    for b in range(bands):
        bits = []
        for j in range(bits_per_band):
            plane = "[" + ",".join(str(int(x)) for x in P[b * bits_per_band + j]) + "]"
            bits.append(
                f"(CASE WHEN list_dot_product(qv, CAST({plane} AS DOUBLE[]))"
                f" >= 0 THEN '1' ELSE '0' END)"
            )
        band_selects.append(
            f"SELECT id, {b} AS band, {' || '.join(bits)} AS bucket FROM qv_src"
        )
    return " UNION ALL ".join(band_selects)


def srp_quantize_sql(vec_expr: str = "CAST(embedding AS DOUBLE[])") -> str:
    """The ``qv`` binding for :func:`srp_banded_sql`."""
    return f"list_transform({vec_expr}, x -> round(x * {SRP_SCALE}))"


def _verify_cosine_pairs(
    candidates: DataFrame,
    vecs: DataFrame,
    threshold: float,
    verify_semi: bool,
    candidates_materialized: bool = False,
) -> DataFrame:
    """Exact rounded-cosine verification of candidate pairs against a
    (__id, __vec) vector table — the embedding twin of
    :func:`_verify_jaccard_pairs`, shared by embedding_near_dup_lsh
    and the store-amortized srp_store_pairs. The semi path filters the
    vector table to the distinct candidate ids before the pair joins:
    at corpus scale the verify join is the stage that ships two
    ``dims``-wide arrays per candidate, and without the filter the
    FULL vector table shuffles twice to serve a collision-family-sized
    candidate set (the 10⁴-tier disk wall, measured — the minhash
    verify fix applied to embeddings). Output is bit-identical either
    way. ``candidates_materialized`` as in
    :func:`_verify_jaccard_pairs` — file-backed candidates skip the
    checkpoint."""
    if verify_semi:
        if not candidates_materialized:
            candidates = _materialize_once(candidates)
        # materialized once — referenced by BOTH pair joins (see
        # _verify_jaccard_pairs)
        vecs = _materialize_once(_semi_filter_ids(vecs, candidates, "__id"))
    with_vecs = candidates.join(
        vecs.select(F.col("__id").alias("id_a"), F.col("__vec").alias("va")),
        "id_a",
    ).join(
        vecs.select(F.col("__id").alias("id_b"), F.col("__vec").alias("vb")),
        "id_b",
    )
    cos = F.round(
        _vdot(F.col("va"), F.col("vb"))
        / (_vnorm(F.col("va")) * _vnorm(F.col("vb"))),
        6,
    )
    return with_vecs.select("id_a", "id_b", cos.alias("cosine")).filter(
        F.col("cosine") >= threshold
    )


def embedding_near_dup_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    dims: int | None = None,
    bits_per_band: int = 4,
    bands: int = 16,
    seed: int = 42,
    planes_q=None,
    verify_semi: bool | None = None,
    _vecs: DataFrame | None = None,
) -> DataFrame:
    """Embedding near-dup via sign-random-projection LSH.

    Candidate pairs collide on all ``bits_per_band`` sign bits in at
    least one of ``bands`` bands; every candidate is then verified
    with the exact rounded cosine, so output ⊆ the exact operator's
    output with recall 1-(1-p^r)^B, p = 1-θ/π. With the defaults and
    threshold 0.9 (θ≈26°), recall > 0.99999.

    Scale shape: signatures are per-row expressions; the only shuffle
    keys on (band, bucket) — n·B rows, never n² — and AQE splits hot
    buckets. ``dims`` defaults to the first row's vector length (one
    driver lookup; pass it explicitly in pipelines). ``planes_q``
    overrides the internally generated plane matrix (int64,
    bands·bits_per_band × dims) — the auto-width form passes the
    prefix-sliced matrix so a runtime-chosen width stays consistent
    with its static full-width oracle. ``verify_semi`` routes the
    verify join exactly as minhash_lsh_pairs does (None auto-routes
    on the input's Catalyst size at
    :data:`MINHASH_SEMI_VERIFY_MIN_BYTES`): the verify stage ships
    two dims-wide arrays per candidate, and above the boundary the
    full vector table must not shuffle twice to serve a
    collision-family-sized candidate set.
    """
    if dims is None:
        first = df.select(F.size(F.col(vec_col)).alias("d")).first()
        if first is None:
            return embedding_near_dup_pairs(df, id_col, vec_col, threshold)
        dims = first["d"]
    if verify_semi is None:
        verify_semi = _relation_bytes(df) >= MINHASH_SEMI_VERIFY_MIN_BYTES
    planes = (
        planes_q
        if planes_q is not None
        else srp_planes_q(dims, bands, bits_per_band, seed)
    )

    df = spread(df)
    if _vecs is not None:
        # caller (the auto-width form) already materialized the
        # (__id, __vec) projection — riding its sizing count on the
        # checkpoint job — so don't re-derive or re-materialize it
        vecs = _vecs
    else:
        vecs = df.select(
            F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec")
        )
        if not verify_semi:
            # small-corpus path: vecs is referenced three times (bucket
            # projection + both verify joins) and each reference
            # re-scans (and re-pays the spread exchange of) the vector
            # payload; materializing the bounded table once collapses
            # that to a single pass. The semi path keeps the streaming
            # scan and materializes only the collision-family
            # survivors — the full vector table on executor storage is
            # exactly what it avoids.
            vecs = _materialize_once(vecs)
    buckets_udf = _band_buckets_udf(planes, bands, bits_per_band)
    # one row per band: (band index, that band's bucket key); vectors
    # do NOT ride the bucket shuffle — they are joined back onto the
    # (few) deduplicated candidate pairs for verification
    band_rows = vecs.select(
        "__id", buckets_udf(F.col("__vec")).alias("__buckets")
    ).select("__id", F.posexplode(F.col("__buckets")).alias("band", "bucket"))

    cand = _collision_pairs(band_rows, "__id", ["band", "bucket"])
    return _verify_cosine_pairs(cand, vecs, threshold, verify_semi)


# ---------------------------------------------------- winnowing overlap pairs

def winnow_overlap_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    window: int = 4,
    min_shared: int = 2,
    max_df: int = 1000,
) -> DataFrame:
    """Partial-overlap detection via winnowing fingerprints: pairs of
    documents sharing >= min_shared selected k-gram hashes. Catches a
    copied paragraph inside otherwise-different documents, which
    whole-document Jaccard dilutes below any useful threshold.

    Shuffle shape mirrors the LSH ops: explode to (fingerprint, id)
    rows, self-join on the fingerprint, count shared per pair — never
    an O(n²) cross product. A fingerprint appearing in > ``max_df``
    documents is dropped before the join: it carries no overlap signal
    (boilerplate, common phrases) but would emit O(df²) join rows —
    the classic hot-key blowup. The cap makes the join cost
    n_fps × max_df² instead of unbounded, which is what survives a
    100 TB corpus; pairs whose only evidence is such stop-fingerprints
    are intentionally not reported.
    """
    from dragnet_spark.ops.text import winnow_fingerprints

    from pyspark.sql import Window as W

    df = spread(df)
    fps = df.select(
        F.col(id_col).alias("id"),
        F.explode(winnow_fingerprints(text_col, k, window)).alias("fp"),
    )
    # df-cap via a count window over fp instead of groupBy+join-back:
    # the join form re-embedded — re-scanned and re-winnowed — the
    # fingerprint lineage for the df side (measured r14); the window
    # shuffles the same (id, fp) rows the join co-located anyway,
    # once, and its fp-partitioned output feeds the self-join below
    # with no further exchange
    fps = (
        fps.withColumn(
            "fp_df", F.count(F.lit(1)).over(W.partitionBy("fp"))
        )
        .filter(F.col("fp_df") <= max_df)
        .select("id", "fp")
    )
    # self-alias + merge hint: same discipline as _shared_gram_counts —
    # no broadcast of the fingerprint inventory, and the df-capped
    # fingerprint table (hashing every k-gram + the rare-join) is
    # materialized once and fed to both sides via ReusedExchange.
    A, B = fps.alias("A"), fps.alias("B")
    return (
        A.hint("merge")
        .join(B.hint("merge"), F.col("A.fp") == F.col("B.fp"))
        .filter(F.col("A.id") < F.col("B.id"))
        .groupBy(F.col("A.id").alias("id_a"), F.col("B.id").alias("id_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def simhash_md5(df: DataFrame, text_col: str, id_col: str, bits: int = 56) -> DataFrame:
    """Portable SimHash: like :func:`simhash64` but the token hash is
    an md5 prefix (56 bits), so the signature is bit-identical on any
    engine — this variant is oracle-checkable where the xxhash64 one
    is JVM-only. Scale shape differs from the expression version too:
    tokens explode to rows and each is hashed ONCE, the per-bit ±1
    sums ride the partial aggregation, and the signature is assembled
    from the 56 sign columns after the shuffle — one groupBy, no
    per-row 64-iteration expression tree.

    Returns (id_col, simhash).
    """
    df = spread(df)
    ex = df.select(
        F.col(id_col).alias("__id"), F.explode(tokens(text_col)).alias("__t")
    )
    h = F.conv(F.substring(F.md5("__t"), 1, 14), 16, 10).cast("long")
    ex = ex.select("__id", h.alias("__h"))
    agg = ex.groupBy("__id").agg(
        *[
            F.sum(
                F.when(F.shiftright("__h", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"__b{b}")
            for b in range(bits)
        ]
    )
    sig = None
    for b in range(bits):
        term = F.when(F.col(f"__b{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = term if sig is None else sig + term
    return agg.select(F.col("__id").alias(id_col), sig.alias("simhash"))


def simhash_md5_sql(text_expr: str, bits: int = 56) -> str:
    """DuckDB twin of simhash_md5 over the documents table."""
    from dragnet_spark.ops.text import tokens_sql

    bsums = ", ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(bits)
    )
    assemble = " + ".join(
        f"CASE WHEN b{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
        for b in range(bits)
    )
    return f"""
    WITH ex AS (SELECT doc_id AS id,
                       CAST('0x' || substring(md5(t.tok), 1, 14) AS BIGINT) AS h
                FROM documents, UNNEST({tokens_sql(text_expr)}) AS t(tok)),
    agg AS (SELECT id, {bsums} FROM ex GROUP BY id)
    SELECT id AS doc_id, {assemble} AS simhash FROM agg
    """


def fuzzy_key_pairs(df: DataFrame, key_col: str, id_col: str) -> DataFrame:
    """Entity resolution: pairs of rows whose string keys are within
    Levenshtein distance 1, without the O(n²) cross product.

    Candidate generation is the SymSpell deletion neighborhood: each
    key emits itself plus every single-character deletion; two keys at
    edit distance <= 1 always share a variant (substitution → same
    deletion position; insert/delete → the shorter IS a deletion of
    the longer), so the blocking is lossless for distance 1. Shared
    variants can also pair distance-2 keys (e.g. transpositions), so
    candidates are verified with the exact levenshtein.

    Scale shape: |key|+1 variants per row ride one equi-join shuffle
    keyed on the variant string; a variant's bucket is the set of keys
    that collide on it — bounded by key-neighborhood density, never
    the corpus. Returns (id_a, id_b, dist).
    """
    df = spread(df)
    k = F.col(key_col)
    n = F.length(k)
    variants = F.array_union(
        F.array(k),
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.concat(k.substr(F.lit(1), i - 1), k.substr(i + 1, n)),
        ),
    )
    # reserved alias: aliasing the key to its own name would make the
    # explode's column reference resolve laterally (Spark internal
    # error) when key_col is literally named "key"
    # variants ride as 8-byte xxhash64 keys, not strings: the shuffle
    # row narrows by ~the key length and the sort-merge compares
    # longs. Result-preserving exactly — a hash collision can only ADD
    # a candidate, which the exact levenshtein verify below rejects,
    # and every true dist<=1 pair already shares a variant (so its
    # candidacy never depends on a collision).
    v = df.select(
        F.col(id_col).alias("id"),
        k.alias("__fk"),
        F.explode(variants).alias("__var"),
    ).select("id", "__fk", F.xxhash64("__var").alias("var"))
    # self-alias + merge hint (see _shared_gram_counts): the variant
    # table shuffles once and both join sides read the ReusedExchange;
    # no broadcast of the full variant inventory at any sf.
    A, B = v.alias("A"), v.alias("B")
    cand = (
        A.hint("merge")
        .join(B.hint("merge"), F.col("A.var") == F.col("B.var"))
        .filter(F.col("A.id") < F.col("B.id"))
        .select(
            F.col("A.id").alias("id_a"),
            F.col("B.id").alias("id_b"),
            F.col("A.__fk").alias("ka"),
            F.col("B.__fk").alias("kb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn("dist", F.levenshtein("ka", "kb").cast("int"))
        .filter(F.col("dist") <= 1)
        .select("id_a", "id_b", "dist")
    )


def jaccard_prefix_pairs(
    df: DataFrame, text_col: str, id_col: str, threshold: float = 0.8,
    ngram: int = 3,
) -> DataFrame:
    """Exact shingle-set Jaccard ≥ threshold via PREFIX FILTERING
    (Chaudhuri et al. ICDE'06; the PPJoin family): identical output to
    :func:`ngram_jaccard_pairs`, different — and at corpus scale much
    cheaper — candidate generation.

    The principle: order every document's shingles by ascending
    document frequency (rarest first, ties by the shingle). Two sets
    with Jaccard ≥ t must overlap in ANY (1-t)-fraction "prefix" of
    either set, so only each document's first
    ``L = sz - floor(t·sz) + 1`` shingles need to act as join keys.
    Candidate volume drops from Σ_g C(df_g, 2) over ALL grams to the
    same sum over PREFIX occurrences only — and because the ordering
    puts the RAREST grams in the prefix, those df's are the corpus's
    smallest (boilerplate mega-grams never key a candidate; they sit
    at the back of every prefix-ordered set). L is computed
    conservatively (floor, not ceil, so float noise can only WIDEN
    the prefix) — losslessness never depends on float rounding.

    Verification joins the candidate pairs back to the full shingle
    sets and intersects STRING sets (`array_intersect` — exact at any
    corpus size, no hash involved), so the emitted jaccard is the true
    value; the oracle twin is the pre-hash string-gram equi-join form.

    Scale shape: one df aggregation (gram-keyed, partial combine), one
    per-doc rank (window PARTITIONED BY id), a prefix-only self-join
    (merge-hinted, ReusedExchange — the discipline of
    :func:`_shared_gram_counts`), then a verify join that ships the
    two tset arrays per CANDIDATE pair only.

    When to use which (measured): on the graded synthetic corpus —
    near-uniform gram df, no boilerplate — the plain equi-join wins
    ~3.5× (8.5 s vs 27.1 s at 10×, 45 s vs 158 s at 100×): its
    candidate volume is already tiny and the prefix form pays the df
    pass + per-doc rank + array verify for nothing. On a
    boilerplate-skewed corpus the ranking inverts unboundedly: 100
    docs sharing one sentence give the equi-join 49,500 gram-pair
    rows and the prefix join ZERO (test_ops.py
    test_jaccard_prefix_kills_boilerplate_blowup) — the hot grams sit
    at the back of every prefix-ordered set and never key a
    candidate, which is exactly the regime real web corpora live in."""
    if threshold <= 0:
        raise ContractError(
            "jaccard_prefix_pairs requires threshold > 0 (prefix "
            "filtering is defined for a positive overlap bound)"
        )
    from pyspark.sql import Window as W

    df = spread(df)
    sets = token_sets(df, text_col, id_col, ngram)
    ex = sets.select(
        "id", F.size("tset").alias("sz"), F.explode("tset").alias("g")
    )
    # gram df via a count window over g instead of groupBy+join-back
    # (the join re-embedded the scan+shingle lineage for the df side —
    # measured r14); the window shuffles the exploded rows by g once,
    # exactly what the join had to do anyway
    ranked = ex.withColumn(
        "df", F.count(F.lit(1)).over(W.partitionBy("g"))
    ).withColumn(
        "rnk",
        F.row_number().over(W.partitionBy("id").orderBy("df", "g")),
    )
    pref_len = (
        F.col("sz")
        - F.floor(F.lit(float(threshold)) * F.col("sz")).cast("int")
        + F.lit(1)
    )
    prefix = ranked.filter(F.col("rnk") <= pref_len).select("id", "g")
    A, B = prefix.alias("A"), prefix.alias("B")
    cand = (
        A.hint("merge")
        .join(B.hint("merge"), F.col("A.g") == F.col("B.g"))
        .filter(F.col("A.id") < F.col("B.id"))
        .select(F.col("A.id").alias("id_a"), F.col("B.id").alias("id_b"))
        .distinct()
    )
    sa = sets.select(
        F.col("id").alias("id_a"),
        F.col("tset").alias("ta"),
        F.size("tset").alias("sz_a"),
    )
    sb = sets.select(
        F.col("id").alias("id_b"),
        F.col("tset").alias("tb"),
        F.size("tset").alias("sz_b"),
    )
    shared = F.size(F.array_intersect("ta", "tb"))
    jac = F.round(
        shared.cast("double")
        / (F.col("sz_a") + F.col("sz_b") - shared).cast("double"),
        6,
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
