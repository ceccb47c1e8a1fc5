"""Beyond-reference operators for large-scale training-data pipelines.

The reference stops at filter→group→count; these modules add the
operations a 100 TB data-curation pipeline needs: deduplication
(exact, MinHash-LSH, SimHash, n-gram Jaccard), similarity search over
embeddings, text analysis (language ID, quality scoring, token
counting, fingerprinting), and multimodal binary-column plumbing.

All hot paths are built-in Spark expressions (codegen'd, shuffle-
friendly, no driver-side state); Python batch kernels appear only
where vectorized numpy is genuinely needed. The vector kernels
(blocked similarity, exact-cosine pairs, k-means, SRP banding) cross
as Arrow (``mapInArrow``, ``applyInArrow``, ``arrow_udf``) and read
their columns through ``similarity._ids`` / ``similarity._matrix``,
so ids stay exact integers. The other batch kernels (multimodal
decode, sequence packing, xxhash, sketches, the decontamination Bloom
filter) still cross as pandas.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

#: suffix multipliers for Spark byte-size conf strings (JavaUtils
#: .byteStringAsBytes grammar: optional [kmgtp][b], case-insensitive)
_SIZE_SUFFIX = {
    "": 1, "b": 1,
    "k": 1 << 10, "kb": 1 << 10,
    "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30,
    "t": 1 << 40, "tb": 1 << 40,
    "p": 1 << 50, "pb": 1 << 50,
}


def parse_size_bytes(s: str) -> int:
    """Parse a Spark size conf value ('134217728b', '128m', '128MB',
    '1g', plain '134217728') to bytes. Mirrors Spark's JavaUtils
    grammar — spread()'s split estimate must accept any value a human
    set, not only the canonical long-with-b form the session default
    happens to carry (a '128m' that raised inside the broad except
    silently routed spread() to the full repartition shuffle the
    estimate exists to avoid). Raises ValueError on junk — callers
    decide the fallback."""
    m = re.fullmatch(r"\s*(\d+)\s*([a-zA-Z]*)\s*", s)
    if not m or m.group(2).lower() not in _SIZE_SUFFIX:
        raise ValueError(f"unparseable size string: {s!r}")
    return int(m.group(1)) * _SIZE_SUFFIX[m.group(2).lower()]


def spread(df: DataFrame) -> DataFrame:
    """Ensure CPU-heavy per-row stages (minhash over shingles, plane
    signatures, simhash bits) use every core: a small input that
    arrived as one or two file splits is round-robin repartitioned to
    the cluster's default parallelism. At real scale inputs already
    carry more partitions than cores, so this is a no-op — the 100 TB
    path stays shuffle-free.

    The probe is metadata-only (``df.inputFiles()`` + the relation's
    Catalyst size estimate) instead of materializing ``df.rdd`` — the
    RDD conversion forced a per-call driver-side plan translation,
    which adds latency on every query at scale. The split count is
    estimated as max(files, bytes / maxPartitionBytes), because Spark
    splits large files by byte range: counting FILES alone called a
    few-big-files layout "small" and round-robin-shuffled the whole
    corpus — at the 10⁴ tier that was a ~20 GB text shuffle buying
    nothing (8 × 1.5 GB part files already scan as ~96 splits). A
    wrong estimate is bounded-cost by construction: over-estimating
    bytes skips a repartition whose input already splits wide;
    under-estimating adds a shuffle of an input small enough to
    shuffle cheaply. A non-file input (in-memory test frames,
    streaming micro-batches) is repartitioned unconditionally — those
    are exactly the small inputs the helper exists for.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        nfiles = len(df.inputFiles())
    except Exception:
        nfiles = 0
    if nfiles >= target:
        return df
    if nfiles > 0:
        try:
            bytes_ = int(
                df._jdf.queryExecution().optimizedPlan().stats()
                .sizeInBytes()
            )
            max_split = parse_size_bytes(
                df.sparkSession.conf.get(
                    "spark.sql.files.maxPartitionBytes", "134217728"
                )
            )
            if max(nfiles, bytes_ // max_split) >= target:
                return df
        except Exception:  # pragma: no cover — stats API unavailable
            pass
    return df.repartition(target)
