"""Deduplication operators for large-scale text/training-data pipelines.

All hot-path logic is built-in column expressions (whole-stage codegen,
zero Python). The portable 56-bit hash ``md5hash56`` (first 14 hex chars
of md5 → bigint) is engine-agnostic, so every operator here has an exact
DuckDB oracle.

Scale notes (100 TB):
* exact dedup — one partial-aggregated groupBy on the digest; shuffle
  carries (digest, min_id, count), not documents.
* MinHash LSH — per-doc signatures are narrow (no shuffle); candidate
  generation explodes to (band, bucket) and self-joins *within buckets
  only*, so the join input is |docs|×n_bands rows and the quadratic blow
  up is confined to collision buckets. Hot buckets (boilerplate docs) are
  the skew risk — ``band_bucket_rows``'s ``max_bucket_size`` drops the
  degenerate ones deterministically (tested with a planted boilerplate
  cluster in tests/test_operators.py).
* verification — exact n-gram Jaccard runs only on LSH candidate pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..caching import track_persist


def md5hash56(col: Column, salt: str = "") -> Column:
    """Deterministic 56-bit hash portable across engines:
    bigint(first 14 hex chars of md5(salt || col))."""
    src = F.concat(F.lit(salt), col) if salt else col
    return F.conv(F.substring(F.md5(src), 1, 14), 16, 10).cast("bigint")


def word_tokens(text: Column) -> Column:
    return F.split(F.trim(F.regexp_replace(F.lower(text), r"\s+", " ")), " ")


def word_shingles(text: Column, k: int = 3) -> Column:
    """k-word shingles; empty array when the doc has < k words.

    Single regex pass: a zero-width lookahead captures the k-word
    window at every token start (`(?<![^ ])` anchors to string start or
    a preceding space). The obvious transform/element_at construction
    is quadratic in practice — Catalyst re-evaluates the tokenizing
    `split` inside the lambda for every element — while this form
    evaluates the normalized string exactly once per document.
    """
    norm = F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))
    pat = "(?<![^ ])(?=(" + " ".join([r"\S+"] * k) + "))"
    return F.regexp_extract_all(norm, F.lit(pat), 1)


def exact_dedupe(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate groups by content digest: canonical id = min id.
    Returns (digest, canonical_id, n_dups)."""
    return (
        df.select(F.sha2(F.col(text_col), 256).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").alias("n_dups"),
        )
    )


M31 = 2_147_483_647  # Mersenne prime 2^31-1, the affine-hash modulus


def minhash_coeffs(n_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic affine coefficients (A_i odd 31-bit, B_i 31-bit) —
    pure constants, reproducible in any engine."""
    import hashlib

    out = []
    for i in range(n_hashes):
        d = hashlib.md5(f"minhash|{seed}|{i}".encode()).digest()
        a = (int.from_bytes(d[:4], "big") | 1) % M31 or 1
        b = int.from_bytes(d[4:8], "big") % M31
        out.append((a, b))
    return out


def base_hash32(col: Column) -> Column:
    """One engine-portable 32-bit hash per shingle: bigint(first 8 hex
    chars of md5). All n MinHash functions derive from this single
    digest via (A_i*h + B_i) mod (2^31-1) — classic affine MinHash —
    so the md5 cost is paid once, not n times."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def minhash_signatures_df(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n_hashes: int = 8,
    shingle_k: int = 3,
    with_shingles: bool = False,
) -> DataFrame:
    """Per-doc MinHash signature (doc_id, h0..h{n-1}[, shingles]).

    Physical shape chosen for scale: shingles are *exploded to rows* and
    reduced with a hash aggregate — every expression is whole-stage
    codegen'd (higher-order-function lambdas are not), md5 runs once per
    shingle, and the per-doc min gets map-side partial aggregation. A
    doc with no shingles keeps a row with null signature columns
    (explode_outer).
    """
    sh = F.array_distinct(word_shingles(F.col(text_col), shingle_k))
    ex = df.select(F.col(id_col).alias("doc_id"), F.explode_outer(sh).alias("__sg"))
    h = base_hash32(F.col("__sg"))
    aggs = [
        F.min((F.lit(a) * h + F.lit(b)) % M31).alias(f"h{i}")
        for i, (a, b) in enumerate(minhash_coeffs(n_hashes))
    ]
    if with_shingles:
        aggs.append(F.collect_set("__sg").alias("shingles"))
    return ex.groupBy("doc_id").agg(*aggs)


def band_bucket_rows(
    sigs: DataFrame,
    n_bands: int,
    rows_per_band: int,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Explode a signature row into (doc_id, band, bucket) LSH rows.

    ``max_bucket_size`` is the hot-bucket cap: buckets wider than the cap
    (boilerplate-heavy corpora produce a handful of such degenerate
    buckets, each O(width²) candidate pairs) are dropped entirely — a
    deterministic bound that keeps the verify stage linear in the number
    of *useful* candidates. The windowed count shuffles on (band, bucket),
    the same key as the downstream self-join, so AQE reuses the exchange.
    """
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    ",", *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
                )
            ).alias("bucket"),
        )
        for b in range(n_bands)
    ]
    buckets = sigs.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bb")
    ).select("doc_id", "bb.band", "bb.bucket")
    if max_bucket_size is not None:
        w = Window.partitionBy("band", "bucket")
        buckets = (
            buckets.withColumn("__n", F.count("*").over(w))
            .filter(F.col("__n") <= max_bucket_size)
            .drop("__n")
        )
        # both sides of the candidate self-join read this; without the
        # barrier the cap window (and its exchange) runs twice
        buckets = track_persist(buckets)
    return buckets


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n_hashes: int = 8,
    n_bands: int = 4,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash + LSH banding → candidate pairs → exact shingle-Jaccard
    verification. Returns (doc_a, doc_b, jaccard) for pairs ≥ threshold.

    rows_per_band = n_hashes / n_bands; a pair collides in a band iff
    that band's signature slice matches exactly. ``max_bucket_size``
    caps hot buckets (see ``band_bucket_rows``).
    """
    rows_per_band = n_hashes // n_bands
    sigs = track_persist(minhash_signatures_df(
        df, id_col, text_col, n_hashes=n_hashes, shingle_k=shingle_k, with_shingles=True
    ))
    # slim candidate generation: only (doc_id, band, bucket) travels
    # through the self-join shuffle; shingle sets join in afterwards,
    # once per *candidate pair*, not per band row.
    buckets = band_bucket_rows(sigs, n_bands, rows_per_band, max_bucket_size)

    cand = (
        buckets.alias("a")
        .join(
            buckets.alias("b"),
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.bucket") == F.col("b.bucket"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    shingle_sets = sigs.select("doc_id", "shingles")
    pairs = (
        cand.join(
            shingle_sets.select(
                F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
            ),
            on="doc_a",
        )
        .join(
            shingle_sets.select(
                F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
            ),
            on="doc_b",
        )
    )
    jac = F.round(
        F.size(F.array_intersect("sh_a", "sh_b"))
        / F.size(F.array_union("sh_a", "sh_b")),
        6,
    ).alias("jaccard")
    return (
        pairs.select("doc_a", "doc_b", jac)
        .filter(F.col("jaccard") >= jaccard_threshold)
    )


def ngram_jaccard_pairs_lsh(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n_hashes: int = 8,
    n_bands: int = 4,
    shingle_k: int = 3,
    threshold: float = 0.1,
    max_bucket_size: int | None = 512,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs, blocked by the corpus's own
    MinHash-LSH band buckets instead of an attribute key.

    Scale bound: bucket cardinality grows with the corpus (a bucket is an
    md5 of a signature slice — its count is ~|docs| × collision rate, not
    a fixed attribute domain), so block width stays O(cluster size) at
    100× data; ``max_bucket_size`` deterministically drops the few
    degenerate boilerplate buckets. Verification intersects 56-bit
    *hashed* shingle sets — fixed-width int compares, computed once per
    doc behind a persist barrier, joined once per candidate pair.

    Returns (doc_a, doc_b, jaccard) with jaccard >= threshold.
    """
    rows_per_band = n_hashes // n_bands
    sh = F.array_distinct(word_shingles(F.col(text_col), shingle_k))
    ex = df.select(F.col(id_col).alias("doc_id"), F.explode(sh).alias("__sg"))
    md5 = F.md5(F.col("__sg"))
    h32 = F.conv(F.substring(md5, 1, 8), 16, 10).cast("bigint")
    h56 = F.conv(F.substring(md5, 1, 14), 16, 10).cast("bigint")
    aggs = [
        F.min((F.lit(a) * h32 + F.lit(b)) % M31).alias(f"h{i}")
        for i, (a, b) in enumerate(minhash_coeffs(n_hashes))
    ]
    aggs.append(F.collect_set(h56).alias("sh"))
    sigs = track_persist(ex.groupBy("doc_id").agg(*aggs))

    buckets = band_bucket_rows(sigs, n_bands, rows_per_band, max_bucket_size)
    cand = (
        buckets.alias("a")
        .join(
            buckets.alias("b"),
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.bucket") == F.col("b.bucket"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sets = sigs.select("doc_id", "sh")
    pairs = (
        cand.join(sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")), on="doc_a")
        .join(sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")), on="doc_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = F.round(
        inter.cast("double") / (F.size("sh_a") + F.size("sh_b") - inter), 6
    ).alias("jaccard")
    return pairs.select("doc_a", "doc_b", jac).filter(F.col("jaccard") >= threshold)


def simhash_df(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, simhash) via explode + codegen'd hash aggregate — the
    fast physical shape (same as MinHash): tokens explode to rows, each
    md5 runs once, the 16 per-bit vote sums get map-side partial
    aggregation, and no interpreted higher-order function ever runs."""
    ex = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode_outer(word_tokens(F.col(text_col))).alias("__t"),
    ).select(
        "doc_id",
        F.conv(F.substring(F.md5(F.col("__t")), 1, 4), 16, 10).cast("int").alias("__h"),
    )
    aggs = [
        F.sum(
            F.when(F.col("__h").isNull(), 0)
            .when(F.shiftright(F.col("__h"), b).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"v{b}")
        for b in range(16)
    ]
    g = ex.groupBy("doc_id").agg(*aggs)
    sim = F.when(F.col("v0") > 0, F.lit(1)).otherwise(F.lit(0))
    for b in range(1, 16):
        sim = sim + F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
    return g.select("doc_id", sim.cast("int").alias("simhash"))


def simhash64_df(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, simhash) at the production width: 64-bit SimHash, same
    physical shape as ``simhash_df`` (explode + codegen'd hash aggregate
    with map-side partial sums). Token bits come from two md5 slices —
    bits 0-31 from hex chars 1-8, bits 32-63 from chars 9-16 — each a
    32-bit value that fits a BIGINT in any engine, so the DuckDB oracle
    is exact. Bit 63's weight is the (negative) long min: the fingerprint
    is the full signed 64-bit space, as ``bit_count(xor())`` expects."""
    ex = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode_outer(word_tokens(F.col(text_col))).alias("__t"),
    )
    md5 = F.md5(F.col("__t"))
    ex = ex.select(
        "doc_id",
        F.conv(F.substring(md5, 1, 8), 16, 10).cast("long").alias("__hlo"),
        F.conv(F.substring(md5, 9, 8), 16, 10).cast("long").alias("__hhi"),
    )

    def vote(src: str, bit: int):
        return F.sum(
            F.when(F.col(src).isNull(), 0)
            .when(F.shiftright(F.col(src), bit).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        )

    aggs = [vote("__hlo", b).alias(f"v{b}") for b in range(32)] + [
        vote("__hhi", b - 32).alias(f"v{b}") for b in range(32, 64)
    ]
    g = ex.groupBy("doc_id").agg(*aggs)
    sim = F.when(F.col("v0") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
    for b in range(1, 63):
        sim = sim + F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
    sim = sim + F.when(F.col("v63") > 0, F.lit(-(1 << 63))).otherwise(F.lit(0))
    return g.select("doc_id", sim.cast("long").alias("simhash"))


def simhash_near_dupes(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n_bits: int = 16,
    n_chunks: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, blocked on simhash
    *chunks* (the Manku/Jain/Sarma fingerprint-permutation scheme): two
    hashes within hamming ``max_hamming`` must agree exactly on at least
    one of ``n_chunks`` bit-slices when ``max_hamming < n_chunks``
    (pigeonhole) — so the blocking is candidate-complete, not heuristic.
    Candidates self-join on (chunk_idx, chunk_value); at 64-bit simhash
    scale each chunk has 2^16 values and block width tracks corpus
    near-dup density, not an attribute domain.

    Returns (doc_a, doc_b, hamming) with hamming <= max_hamming.
    """
    assert max_hamming < n_chunks, "completeness needs max_hamming < n_chunks"
    assert n_bits in (16, 64), "fingerprint widths with exact oracles"
    chunk_bits = n_bits // n_chunks
    mask = (1 << chunk_bits) - 1
    fingerprints = simhash64_df if n_bits == 64 else simhash_df
    sh = track_persist(fingerprints(df, id_col, text_col))
    chunks = sh.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("simhash"), c * chunk_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("cc"),
    ).select("doc_id", "cc.chunk", "cc.val")
    cand = (
        chunks.alias("a")
        .join(
            chunks.alias("b"),
            on=[
                F.col("a.chunk") == F.col("b.chunk"),
                F.col("a.val") == F.col("b.val"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    ham = F.bit_count(
        F.col("sa.simhash").bitwiseXOR(F.col("sb.simhash")).cast("long")
    ).cast("int").alias("hamming")
    return (
        cand.join(sh.alias("sa"), F.col("sa.doc_id") == F.col("doc_a"))
        .join(sh.alias("sb"), F.col("sb.doc_id") == F.col("doc_b"))
        .select("doc_a", "doc_b", ham)
        .filter(F.col("hamming") <= max_hamming)
    )
