"""Deduplication at scale: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Scale design (the part that matters at 100 TB):

- **exact**: one md5-of-normalized-text per doc → groupBy fingerprint.
  Map-side partial aggregation; shuffle carries (fp, id) pairs only.
- **ngram-Jaccard**: never a cross join — candidate pairs come from a
  *blocking* key (shared n-gram bucket / lang+length band), then exact
  Jaccard only on candidates. Blocking is an equi-join ⇒ shuffle hash
  join on the block key.
- **MinHash+LSH**: fully native expressions — gram codes are md5-hex
  prefixes, permutations are exact-in-int64 affine maps, signatures are
  64 map-side min-aggregates; bands become (band_id, band_hash) keys;
  an equi-self-join on band keys yields candidates — the classic
  sub-quadratic near-dup pipeline. Every step is replayable in plain
  SQL (the DuckDB oracle recomputes identical signatures bit-for-bit).
- **SimHash**: 60-bit signature per doc (bit votes as native
  conditional sums over the same md5 gram codes), candidates share a
  15-bit chunk (hamming ≤ 3 in 4 chunks ⇒ pigeonhole), verify by
  popcount. Also exactly SQL-replayable.
- **embedding cosine**: blocked by coarse key (label / LSH bucket),
  cosine as native array expressions.
"""

from __future__ import annotations

import re

import numpy as np

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from geomesa_hive_spark.pipeline.text import normalize_text, word_tokens

__all__ = [
    "exact_duplicates",
    "drop_exact_duplicates",
    "ngram_jaccard_pairs",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "cross_corpus_pairs",
    "semantic_dedup",
    "simhash_signatures",
    "simhash_pairs",
    "embedding_near_dup_pairs",
    "duplicate_clusters",
    "drop_near_duplicates",
    "keep_canonical",
    "ngram_contamination",
    "remove_boilerplate_lines",
    "build_minhash_index",
    "minhash_index_meta",
    "pairs_against_index",
    "append_to_minhash_index",
    "delete_from_minhash_index",
    "maintain_minhash_index",
    "upsert_into_minhash_index",
]


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------


def _spread(df: DataFrame, key: str) -> DataFrame:
    """Input-split parallelism guard for the gram-hash map stages.

    A small parquet (one file under maxPartitionBytes) arrives as a
    single split, so the explode+md5 map stage — the dominant CPU cost
    of every signature scheme here — runs on one core no matter how
    many the cluster has. When the input has fewer partitions than the
    default parallelism, hash-repartition the (already column-pruned)
    projection on the doc id; measured 2.3× on the sf0.1 bench. At
    production scale inputs carry splits >> cores and this is a no-op —
    the conditional keeps the extra shuffle out of the 100 TB plan."""
    from geomesa_hive_spark.pipeline.text import spread_parallelism

    return spread_parallelism(df, key)


def _spread_toked(df: DataFrame, id_col: str, text_col: str,
                  id_alias: str = "id") -> DataFrame:
    """(id, toks) with the parallelism guard applied BEFORE the
    tokenizer: the regex tokenizer is map-stage CPU, so projecting it
    ahead of :func:`_spread`'s repartition ran it on however many
    splits the input file had — ONE for a small parquet — and the
    shuffle then moved token arrays instead of raw text (round 13;
    measured 4.5× on the sf0.1 single-split documents table: 1.43 s →
    0.32 s warm for minhash signatures). At production scale the input
    carries splits ≫ cores, _spread is a no-op, and this ordering
    changes nothing."""
    raw = _spread(
        df.select(F.col(id_col).alias(id_alias),
                  F.col(text_col).alias("__ghs_txt")),
        id_alias,
    )
    return raw.select(
        id_alias, word_tokens(F.lower(F.col("__ghs_txt"))).alias("toks")
    )


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Groups of exact duplicates (normalized-text md5): one row per
    fingerprint having >1 doc, with the member count and the keeper
    (min id). Fully native + SQL-twin-able."""
    raw = _spread(
        df.select(F.col(id_col).alias("id"),
                  F.col(text_col).alias("__ghs_txt")),
        "id",
    )
    return (
        raw.select(
            "id", F.md5(normalize_text(F.col("__ghs_txt"))).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count("*").alias("n_dups"),
            F.min("id").alias("keep_id"),
        )
        .filter(F.col("n_dups") > 1)
    )


def drop_exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the min-id representative of every fingerprint group."""
    fp = F.md5(normalize_text(F.col(text_col)))
    ranked = df.withColumn("__fp", fp).withColumn(
        "__rk",
        F.row_number().over(Window.partitionBy("__fp").orderBy(F.col(id_col))),
    )
    return ranked.filter(F.col("__rk") == 1).drop("__fp", "__rk")


# ---------------------------------------------------------------------------
# n-gram Jaccard (blocked, exact)
# ---------------------------------------------------------------------------


def _grams_from_tokens(toks, n: int) -> Column:
    """Word n-grams from an *already materialized* token array column:
    gram i = slice(toks, i+1, n) joined by spaces. Passing a plain column
    reference (not the split() expression) matters — a lambda body
    re-evaluates its captured expression per element, turning gram
    construction O(len²) per row otherwise."""
    toks = F.col(toks) if isinstance(toks, str) else toks
    return F.array_distinct(
        F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - n + 1),
                lambda i: F.array_join(F.slice(toks, i, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )


def word_ngrams(col, n: int = 3) -> Column:
    """Array of distinct word n-grams (space-joined), case-normalized so
    near-dup detection isn't defeated by capitalization.

    Prefer projecting the token array first and calling
    :func:`_grams_from_tokens` on the column reference — see that
    docstring for why."""
    toks = word_tokens(F.lower(F.col(col) if isinstance(col, str) else col))
    return _grams_from_tokens(toks, n)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    block_col: str | None = None,
    strategy: str = "count",
) -> DataFrame:
    """Pairs (id_a < id_b) with word-n-gram Jaccard ≥ threshold.

    ``strategy="count"`` (default): inverted-index counting join — explode
    grams, self-equi-join on the gram, and the per-pair match count IS the
    intersection size, so Jaccard falls out of one join + one groupBy with
    only (id, size, gram) rows in the shuffle (no arrays, no windows, no
    second verify pass). 40× faster than array-verify plans at bench scale.
    Cost model: the join output is Σ_g df(g)², so corpora whose shingles
    are near-unique (real prose) stay near-linear; a stopword-like gram
    distribution inflates it — that's what ``strategy="prefix"`` is for.

    ``strategy="prefix"``: SSJoin/PPJoin prefix filtering — under a global
    rarest-first gram ordering, two sets with Jaccard ≥ t must share a
    gram in their first floor((1-t)·|g|)+1 grams, so only those prefixes
    are indexed and frequent grams never generate candidates; survivors
    are verified on full gram arrays. Strictly bounded candidate
    generation for skewed corpora at the price of two extra shuffles.

    ``block_col``: equi-join candidates within a caller-provided blocking
    key (lang + length band, say) instead of gram indexing.

    Both strategies and the blocked path return identical results.
    """
    toked = _spread_toked(df, id_col, text_col)
    # grams are xxhash64-coded: every downstream shuffle/join/sort/
    # intersect runs on fixed-width longs instead of strings (string
    # array_intersect costs ~100µs/row; long arrays are ~10× cheaper, and
    # a 64-bit collision between distinct shingles of one pair is
    # negligible). cache is a CORRECTNESS-OF-COST barrier, not an
    # optimization nicety: without it CollapseProject inlines the split()
    # into the gram lambda and then into every downstream consumer, so
    # the regex re-runs per exploded row — the plan goes from linear to
    # quadratic-ish. Materialized gram-hash arrays are small (ids +
    # distinct n-gram hashes) and spill to disk if they don't fit.
    base = toked.select(
        "id",
        F.transform(_grams_from_tokens("toks", n), lambda s: F.xxhash64(s)).alias(
            "grams"
        ),
    ).cache()
    inv = base.select("id", F.size("grams").alias("sz"), F.explode("grams").alias("g"))

    if block_col is None and strategy == "count":
        a = inv.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"), "g")
        b = inv.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"), "g")
        pairs = (
            a.join(b, "g")
            .filter(
                (F.col("id_a") < F.col("id_b"))
                # length filter: jaccard >= t forces t·max(|a|,|b|) <= min(|a|,|b|)
                & (
                    F.least("sz_a", "sz_b")
                    >= threshold * F.greatest("sz_a", "sz_b")
                )
            )
            .groupBy("id_a", "id_b", "sz_a", "sz_b")
            .agg(F.count("*").alias("inter"))
        )
        jac = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
        return (
            pairs.withColumn("jaccard", F.round(jac, 6))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )

    # array-verify paths: candidates first, exact Jaccard on gram arrays after
    if block_col is not None:
        b = df.select(F.col(id_col).alias("id"), F.col(block_col).alias("blk"))
        cand = (
            b.alias("a")
            .join(b.alias("b"), F.col("a.blk") == F.col("b.blk"))
            .filter(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
        )
    else:
        gram_df = inv.groupBy("g").agg(F.count("*").alias("df_g"))
        ranked = inv.join(gram_df, "g").withColumn(
            "rk",
            F.row_number().over(Window.partitionBy("id").orderBy("df_g", "g")),
        )
        prefix = ranked.filter(
            F.col("rk") <= F.floor((1.0 - threshold) * F.col("sz")) + 1
        ).select("id", "g")
        cand = (
            prefix.alias("a")
            .join(prefix.alias("b"), F.col("a.g") == F.col("b.g"))
            .filter(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
        )
    a = base.select(F.col("id").alias("id_a"), F.col("grams").alias("ga"))
    b2 = base.select(F.col("id").alias("id_b"), F.col("grams").alias("gb"))
    # project the intersect size ONCE before deriving jaccard from it —
    # inlining it into the jaccard expression would evaluate the O(|a|+|b|)
    # set intersection three times per row (numerator, union, filter)
    sized = (
        cand.join(a, "id_a")
        .join(b2, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("ga", "gb")).alias("inter"),
            F.size("ga").alias("sa"),
            F.size("gb").alias("sb"),
        )
    )
    union = F.col("sa") + F.col("sb") - F.col("inter")
    jac = F.when(union > 0, F.col("inter") / union).otherwise(F.lit(0.0))
    return (
        sized.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Pairs whose SMALLER gram set is contained in the other at ≥
    ``threshold`` — Broder's containment measure
    (``|A∩B| / min(|A|,|B|)``), the doc-IN-doc detector Jaccard
    structurally misses: a 20-gram quote inside a 5000-gram article has
    Jaccard ≈ 0.004 but containment 1.0 (the snippet/quotation/
    boilerplate-embedding case a crawl dedup actually hits).

    Same inverted counting join as :func:`ngram_jaccard_pairs`'s
    "count" strategy — explode grams, self-equi-join, the per-pair
    match count IS the intersection — but WITHOUT its Jaccard length
    prefilter: size asymmetry is exactly the signal here, so no size
    pair can be pruned. Cost is the same Σ_g df(g)² join output; the
    jaccard docstring's skew guidance (blocking, near-unique shingles)
    applies unchanged. Returns (id_a < id_b, sz_a, sz_b, inter,
    containment rounded to 6)."""
    toked = _spread_toked(df, id_col, text_col)
    # same gram coding + cache barrier as ngram_jaccard_pairs (the
    # CollapseProject re-runs-the-regex-per-exploded-row trap)
    base = toked.select(
        "id",
        F.transform(
            _grams_from_tokens("toks", n), lambda s: F.xxhash64(s)
        ).alias("grams"),
    ).cache()
    inv = base.select(
        "id", F.size("grams").alias("sz"), F.explode("grams").alias("g")
    )
    a = inv.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"), "g")
    b = inv.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"), "g")
    pairs = (
        a.join(b, "g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count("*").alias("inter"))
    )
    cont = F.col("inter") / F.least("sz_a", "sz_b")
    return (
        pairs.withColumn("containment", F.round(cont, 6))
        .filter(F.col("containment") >= threshold)
        .select(
            "id_a", "id_b",
            F.col("sz_a").cast("long").alias("sz_a"),
            F.col("sz_b").cast("long").alias("sz_b"),
            F.col("inter").cast("long").alias("inter"),
            "containment",
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

# permutation modulus: Mersenne 2^61-1. With gram codes < 2^32 and affine
# constants < 2^30, a*g + b < 2^62 — exact in SIGNED 64-bit integers in any
# engine (no overflow, no wraparound), which is what makes the signatures
# replayable bit-for-bit by a SQL oracle (DuckDB raises on BIGINT overflow,
# so the bound is load-bearing, not cosmetic).
MINHASH_P = (1 << 61) - 1


def _minhash_params(num_perm: int, seed: int = 42):
    """Affine permutation constants, bounded to 30 bits (see MINHASH_P
    note); ``a`` forced odd so no permutation collapses gram codes."""
    rng = np.random.RandomState(seed)
    a = rng.randint(1, 1 << 30, size=num_perm).astype(np.int64) | np.int64(1)
    bb = rng.randint(0, 1 << 30, size=num_perm).astype(np.int64)
    return a, bb


def gram_code32(col: Column) -> Column:
    """Portable 32-bit gram code: first 8 hex chars of md5, parsed as an
    integer. md5 exists with identical output in Spark, DuckDB, Postgres…
    so any engine can recompute the code — the foundation of the
    SQL-oracle story for the whole LSH family."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 64,
    ngram_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(id, sig: array<bigint>) — minhash over distinct word n-grams,
    100% native expressions (no Python in the plan).

    Plan shape: explode grams → one md5+conv per gram → groupBy(id) with
    ``num_perm`` min-aggregates. Map-side partial aggregation means the
    shuffle carries at most num_perm longs per (doc × input partition);
    at 100 TB this is the same shape as any wide groupBy — no all-pairs,
    no driver state. Docs with fewer than ``ngram_n`` words yield no
    grams and are omitted (a short doc has no meaningful minhash; the
    old all-zero-signature convention produced false jaccard-1 pairs)."""
    a, bb = _minhash_params(num_perm, seed)
    toked = _spread_toked(df, id_col, text_col)
    g = toked.select(
        "id", F.explode(_grams_from_tokens("toks", ngram_n)).alias("gram")
    ).select("id", gram_code32(F.col("gram")).alias("g"))
    mins = [
        F.min(
            (F.lit(int(a[i])).cast("long") * F.col("g") + F.lit(int(bb[i])).cast("long"))
            % F.lit(MINHASH_P)
        ).alias(f"s{i}")
        for i in range(num_perm)
    ]
    sig = g.groupBy("id").agg(*mins)
    return sig.select(
        "id", F.array(*[F.col(f"s{i}") for i in range(num_perm)]).alias("sig")
    )


def _minhash_band_keys(sigs: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """(id, band, bh): md5 band hashes of signature row-slices — the
    LSH bucket keys both the self-join and the cross-corpus join
    shuffle on. Portable (md5 of comma-joined longs) so DuckDB rebuilds
    identical buckets."""
    rows = num_perm // bands
    return sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.md5(
                            F.concat_ws(
                                ",", *[F.element_at("sig", i * rows + j + 1) for j in range(rows)]
                            )
                        ).alias("bh"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "bk.band", "bk.bh")


def cross_corpus_pairs(
    df_a: DataFrame,
    df_b: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 64,
    bands: int = 16,
    ngram_n: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Near-dup pairs BETWEEN two corpora — the dedup-new-crawl-against-
    existing-corpus (or train-against-held-out) operation. Same banded
    minhash LSH as ``minhash_lsh_pairs`` but the band equi-join is A×B
    instead of a self-join, so neither corpus is paired with itself and
    the shuffle still carries only (band, band-hash, id) rows — never
    documents, never all pairs.

    A document's signature depends only on its own grams, so per-corpus
    signature computation is exactly equivalent to signing the union.
    Returns (id_a ∈ A, id_b ∈ B, est_jaccard ≥ threshold).
    """
    sig_a = minhash_signatures(df_a, id_col, text_col, num_perm, ngram_n, seed).cache()
    sig_b = minhash_signatures(df_b, id_col, text_col, num_perm, ngram_n, seed).cache()
    cand = (
        _minhash_band_keys(sig_a, num_perm, bands).alias("a")
        .join(_minhash_band_keys(sig_b, num_perm, bands).alias("b"), ["band", "bh"])
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sa = sig_a.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sig_b.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    est = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v
        )
    ) / F.lit(num_perm)
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("est_jaccard", F.round(est, 6))
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 64,
    bands: int = 16,
    ngram_n: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
    band_shards: int = 1,
) -> DataFrame:
    """Near-dup pairs via banded LSH over minhash signatures.

    rows_per_band = num_perm // bands; two docs collide when any band's
    row-slice matches exactly (equi-join on (band, md5-of-slice)).
    Estimated Jaccard = fraction of matching signature positions,
    verified ≥ threshold after candidate generation. Band hash is md5 of
    the comma-joined slice — portable, so the DuckDB oracle rebuilds the
    identical buckets.

    ``band_shards``: hot-band skew control. Boilerplate-heavy corpora
    put m near-identical docs in the SAME (band, hash) bucket → m²
    candidate pairs materialize in one join task. AQE's skew-join
    split cannot help: it detects skew by INPUT partition bytes, and a
    hot band's input is only m rows — the blow-up is in the join
    OUTPUT. With shards > 1
    the self-join key becomes (band, hash, shard) — probe side keyed
    by id-hash shard, build side replicated per shard — so each hot
    bucket's m² work spreads over `shards` tasks. Results are
    identical for any shard count (each unordered pair still meets
    exactly once per band, and `distinct()` dedups across bands)."""
    rows = num_perm // bands
    sigs = minhash_signatures(df, id_col, text_col, num_perm, ngram_n, seed).cache()
    band_keys = _minhash_band_keys(sigs, num_perm, bands)
    s = max(1, int(band_shards))
    if s > 1:
        a = band_keys.withColumn(
            "shard", F.pmod(F.xxhash64("id"), F.lit(s)).cast("int")
        )
        b = band_keys.withColumn(
            "shard", F.explode(F.sequence(F.lit(0), F.lit(s - 1)))
        )
        joined = a.alias("a").join(b.alias("b"), ["band", "bh", "shard"])
    else:
        joined = band_keys.alias("a").join(band_keys.alias("b"), ["band", "bh"])
    cand = (
        joined.filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sa = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    est = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v
        )
    ) / F.lit(num_perm)
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("est_jaccard", F.round(est, 6))
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

# 60 bits (not 64): the gram code is the first 15 md5 hex chars so it fits
# exact signed-64 arithmetic in every engine, and 60 divides evenly into
# the 4 pigeonhole chunks for max_hamming=3
SIMHASH_BITS = 60


def simhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ngram_n: int = 3,
) -> DataFrame:
    """(id, simhash: bigint) — 60-bit SimHash over distinct word n-grams,
    100% native expressions and SQL-replayable (same md5 gram codes as
    minhash, 15 hex chars = 60 bits).

    Plan shape: explode grams → groupBy(id) with 60 conditional-sum
    vote aggregates ((h>>b)&1 → ±1) → one arithmetic pass packs the
    vote signs into the signature. Map-side partial aggregation: the
    shuffle carries 60 longs per (doc × partition). Docs with fewer
    than ``ngram_n`` words are omitted (the old sig-0 convention made
    any two short docs hamming-0 "duplicates")."""
    toked = _spread_toked(df, id_col, text_col)
    g = toked.select(
        "id", F.explode(_grams_from_tokens("toks", ngram_n)).alias("gram")
    ).select(
        "id",
        F.conv(F.substring(F.md5("gram"), 1, 15), 16, 10).cast("long").alias("h"),
    )
    votes = [
        F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"v{b}")
        for b in range(SIMHASH_BITS)
    ]
    per = g.groupBy("id").agg(*votes)
    sig = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = term if sig is None else sig + term
    return per.select("id", sig.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    ngram_n: int = 3,
) -> DataFrame:
    """Pairs with Hamming(simhash) ≤ max_hamming.

    Pigeonhole blocking: split 60 bits into (max_hamming+1) chunks; any
    pair within the distance shares ≥1 exact chunk → equi-join per chunk."""
    chunks = max_hamming + 1
    width = SIMHASH_BITS // chunks
    sigs = simhash_signatures(df, id_col, text_col, ngram_n).cache()
    mask = (1 << width) - 1
    keys = sigs.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftright("simhash", i * width).bitwiseAND(F.lit(mask)).alias("ck"),
                    )
                    for i in range(chunks)
                ]
            )
        ).alias("c"),
    ).select("id", "simhash", "c.chunk", "c.ck")
    cand = (
        keys.alias("a")
        .join(keys.alias("b"), ["chunk", "ck"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sa"),
            F.col("b.simhash").alias("sb"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# pair graph → clusters → keepers
# ---------------------------------------------------------------------------


def duplicate_clusters(
    pairs: DataFrame,
    left: str = "id_a",
    right: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over a duplicate-pair graph: (id, cluster_id)
    where cluster_id = the smallest id reachable from ``id`` — the piece
    an actual dedup pipeline needs BETWEEN pair generation and keeper
    selection (pairs alone over-delete: a~b and b~c must keep exactly
    one of {a,b,c}, not two "winners" of independent pairs).

    Large-star / small-star alternation (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14) — the algorithm
    GraphFrames uses at cluster scale. Unlike plain hash-min label
    propagation (which moves the min ONE hop per round and needed
    O(diameter) rounds — spatial DBSCAN clusters percolate into chains
    of O(sqrt n) diameter and blew a 20-round budget; simple pointer
    jumping over the static edge set didn't help because the min still
    crawls along the cluster boundary), each star round REWIRES the
    graph: every node's neighbors are reconnected directly to the
    minimum of its closed neighborhood, so components collapse toward
    their minimum at doubling speed — O(log^2 n) rounds proven,
    single digits in practice. Each loop iteration is one large-star +
    one small-star (~6 shuffles over a fast-shrinking edge set), one
    localCheckpoint lineage cut, and one scalar fingerprint aggregate.

    At the star fixpoint every component is a star centered on its
    minimum id, so labels fall out as min(closed neighborhood). The
    stopping rule is made *exact* by a verification pass: labels are
    accepted only when one hash-min propagation round over the ORIGINAL
    edges leaves the exact-decimal label sum unchanged — stability
    under propagation + labels-are-reachable-ids implies labels equal
    the true component minima, independent of any star-convergence
    signature subtlety. Raises after ``max_iter`` rounds rather than
    returning a half-propagated labeling.

    **Hybrid start**: near-dup graphs are dense cliques-ish with
    diameter 2-4, where plain hash-min (ONE shuffle per round) wins —
    the star machinery's ~6 shuffles/round cost it a 3.4x bench
    regression on `dedup_clusters`. So the first few rounds are
    hash-min with the exact monotone-Σlabel early exit; only graphs
    that don't converge fast (long chains — the DBSCAN shape) fall
    through to the star phase, seeded with the phase-1 (id, label)
    edges so the progress already made contracts the graph (adding
    within-component edges never changes components).
    """
    # materialize the pair list BEFORE the symmetric union: each union
    # branch otherwise re-executes the entire upstream pair-generation
    # pipeline (gram explode + counting join), doubling the most
    # expensive stage of the whole operator (measured 4-5× wall on the
    # bench where pairs come from ngram_jaccard_pairs)
    p = pairs.select(F.col(left).alias("a"), F.col(right).alias("b")).localCheckpoint()
    orig = (
        p.union(p.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    # node set from the UNFILTERED pair stream: a node appearing only in a
    # reflexive pair (a, a) has no edge in `orig` but must still get a
    # singleton cluster row (was a silent drop when a != b filtered first)
    nodes = (
        p.select(F.col("a").alias("id"))
        .union(p.select(F.col("b").alias("id")))
        .distinct()
        .localCheckpoint()
    )

    def _sym(e: DataFrame) -> DataFrame:
        return (
            e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    def _star(e_sym: DataFrame, large: bool) -> DataFrame:
        # m(u) = min of u's closed neighborhood
        mins = (
            e_sym.groupBy("a")
            .agg(F.min("b").alias("mn"))
            .select("a", F.least("a", "mn").alias("m"))
        )
        j = e_sym.join(mins, "a")
        if large:
            # reconnect every LARGER neighbor straight to the min
            out = j.filter(F.col("b") > F.col("a")).select(
                F.col("b").alias("a"), F.col("m").alias("b")
            )
        else:
            # reconnect u and its smaller neighbors to the min
            out = (
                j.filter(F.col("b") <= F.col("a"))
                .select(F.col("b").alias("a"), F.col("m").alias("b"))
                .union(mins.select("a", F.col("m").alias("b")))
            )
        return out.filter(F.col("a") != F.col("b"))

    def _labels(e_sym: DataFrame) -> DataFrame:
        return (
            nodes.join(e_sym, nodes["id"] == e_sym["a"], "left")
            .groupBy("id")
            .agg(F.least(F.col("id"), F.min("b")).alias("lab"))
            .select("id", F.coalesce("lab", "id").alias("lab"))
        )

    # exact decimal(38,0) sum over labels (verification signature)
    _lab_sig = lambda df: df.agg(
        F.sum(F.col("lab").cast("decimal(38,0)")).alias("s")
    ).collect()[0][0]

    def _edge_sig(e: DataFrame):
        # one aggregate job per round: (edge count, exact keyed sum) —
        # an edge-multiset fingerprint; equality gates the (cheap,
        # exact) label verification below, it never accepts by itself
        return tuple(
            e.agg(
                F.count("*").alias("n"),
                F.sum(
                    (F.col("a").cast("decimal(38,0)") * 4294967311 + F.col("b"))
                ).alias("s"),
            ).collect()[0]
        )

    # ---- phase 1: hash-min label propagation (1 shuffle/round) ----
    # 6-round budget: dense near-dup graphs exit at 2-3 (monotone-sum
    # early exit, so extra budget costs them nothing), while dbscan's
    # locally-contracted star graphs measure 2-6 hops depending on how
    # supercell boundaries fall — at 6 they finish here instead of
    # paying ~6-shuffle star rounds (round-6 dbscan plan audit)
    labels = nodes.select("id", F.col("id").alias("lab")).localCheckpoint()
    prev_lab = _lab_sig(labels)
    for _ in range(6):
        neighbor = (
            orig.join(labels, orig["b"] == labels["id"])
            .select(orig["a"].alias("id"), F.col("lab"))
        )
        labels = (
            labels.select("id", "lab")
            .union(neighbor)
            .groupBy("id")
            .agg(F.min("lab").alias("lab"))
            .localCheckpoint()
        )
        s = _lab_sig(labels)
        if s == prev_lab:
            # monotone labels + unchanged exact sum => fixpoint => labels
            # are the true component minima (same argument as the star
            # verification below)
            return labels.select("id", F.col("lab").alias("cluster_id"))
        prev_lab = s

    # ---- phase 2: star rounds, seeded with phase-1 label edges ----
    e = _sym(
        orig.union(
            labels.filter(F.col("id") != F.col("lab")).select(
                F.col("id").alias("a"), F.col("lab").alias("b")
            )
        )
    ).localCheckpoint()
    prev = None
    for _ in range(max_iter):
        # one lineage cut per round; the intra-round plans are shallow.
        # lazy checkpoint: the signature aggregate right below is the
        # job that materializes it — one job per round, not two
        e = _star(_sym(_star(_sym(e), large=True)), large=False).localCheckpoint(
            eager=False
        )
        sig = _edge_sig(e)
        if sig == prev:
            labels = _labels(_sym(e)).localCheckpoint()
            # exact verification: stable under one hash-min propagation
            # round over the ORIGINAL graph <=> labels are the true
            # component minima (labels are reachable ids, propagation-
            # stable labels are constant per component, and the min
            # node's label is itself).
            neighbor = (
                orig.join(labels, orig["b"] == labels["id"])
                .select(orig["a"].alias("id"), F.col("lab"))
            )
            verified = (
                labels.select("id", "lab")
                .union(neighbor)
                .groupBy("id")
                .agg(F.min("lab").alias("lab"))
            )
            if _lab_sig(verified) == _lab_sig(labels):
                return labels.select("id", F.col("lab").alias("cluster_id"))
        prev = sig
    raise RuntimeError(
        f"duplicate_clusters did not converge in {max_iter} rounds — "
        "pathological graph; raise max_iter"
    )


def drop_near_duplicates(
    df: DataFrame, pairs: DataFrame, id_col: str,
    left: str = "id_a", right: str = "id_b",
) -> DataFrame:
    """Keep one representative (the min id) per near-dup cluster plus
    every row not in any pair: the end-to-end keeper selection. One
    left-anti-ish join against the non-keeper set — broadcast-friendly
    when dup clusters are a small fraction of the corpus (the usual
    case)."""
    clusters = duplicate_clusters(pairs, left, right)
    losers = clusters.filter(F.col("id") != F.col("cluster_id")).select("id")
    return df.join(
        losers, df[id_col] == losers["id"], "left_anti"
    )


def substring_span_dedup(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_count: int = 2,
) -> DataFrame:
    """Exact duplicated-substring removal (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): drop every token that
    sits inside a length-``n`` token window occurring >= ``min_count``
    times across the corpus. Marking tokens covered by any duplicated
    n-gram is exactly "tokens inside some duplicated substring of
    length >= n": a longer duplicated substring covers its tokens
    through its own (duplicated) n-gram windows.

    Pipeline, all bounded shuffles:
    1. posexplode the n-gram window stream (token stream x ~1 rows,
       each carrying an n-token string — the explode factor is the
       gram LENGTH in bytes, not row count);
    2. corpus-wide gram counts (map-side combined groupBy) ->
       duplicated grams;
    3. semi-join the gram stream to duplicated grams -> hit windows,
       fan out each to its n covered token indices (constant-factor
       explode, then distinct);
    4. anti-join the posexploded token stream against covered indices,
       rebuild the cleaned text with an order-exact
       sort_array(struct(pos, tok)) aggregation (no nondeterministic
       collect_list ordering — identical reconstruction in any engine).

    Lee et al. use suffix arrays on a single machine; the n-gram window
    form is the shuffle-native equivalent with threshold length fixed
    at ``n`` (an honest restriction: it cannot use a *longer* minimum
    match length without changing n). Returns (id, n_tok, n_removed,
    clean_text).
    """
    tc = text_col if isinstance(text_col, Column) else F.col(text_col)
    toks = F.filter(F.split(F.lower(tc), "[^a-z0-9]+"), lambda t: t != "")
    base = docs.select(F.col(id_col).alias("id"), toks.alias("w")).localCheckpoint()

    grams = base.select(
        "id",
        F.posexplode(
            F.when(
                F.size("w") >= n,
                F.transform(
                    F.slice("w", 1, F.size("w") - (n - 1)),
                    lambda _, i: F.concat_ws(" ", F.slice("w", i + 1, n)),
                ),
            ).otherwise(F.array())
        ).alias("i", "gram"),
    )
    dup = (
        grams.groupBy("gram")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= int(min_count))
        .select("gram")
    )
    hits = grams.join(dup, "gram", "leftsemi")
    covered = (
        hits.select(
            "id", F.explode(F.sequence(F.col("i"), F.col("i") + (n - 1))).alias("p")
        ).distinct()
    )
    tok_stream = base.select("id", F.posexplode("w").alias("p", "tok"))
    kept = tok_stream.join(covered, ["id", "p"], "left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("p", "tok"))), lambda s: s["tok"]
            ),
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )
    return (
        base.select("id", F.size("w").alias("n_tok"))
        .join(rebuilt, "id", "left")
        .select(
            "id",
            "n_tok",
            (F.col("n_tok") - F.coalesce("n_kept", F.lit(0))).cast("long").alias("n_removed"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def remove_boilerplate_lines(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_docs: int = 5,
    min_chars: int = 1,
    sep: str = "\n",
) -> DataFrame:
    """Corpus-level repeated-LINE removal (the RefinedWeb / FineWeb
    boilerplate pass): a line whose exact text appears in >=
    ``min_docs`` DISTINCT documents is navigation/ToS/footer
    boilerplate and is dropped from every document; remaining lines
    are rejoined by ``sep`` in original order. Lines shorter than
    ``min_chars`` characters are never classified as boilerplate
    (blank separator lines survive).

    Spark-first plan, one explode + two shuffles + one rebuild:
    1. posexplode the ``sep``-split line stream (carries (id, pos,
       line) — line bytes, not doc bytes);
    2. corpus-wide distinct-doc counts per line text (map-side
       combined groupBy on the line itself — exact, no hash
       collisions; the boilerplate survivor set is tiny, so the
       removal join below broadcasts under AQE);
    3. LEFT join the line stream against the boilerplate set and
       rebuild per doc in ONE aggregation: order-exact
       array_sort(struct(pos, line)) over the non-flagged lines plus
       the removed-line count (collect_list skips the NULL structs
       the flag filter produces — no second pass over the stream).

    At 100 TB: the groupBy key is the line text (bounded by line
    length), both shuffles carry single lines, never documents, and
    no state is driver-side. Returns (id, n_lines, n_removed,
    clean_text); docs whose every line was boilerplate come back as
    ''."""
    esc = re.escape(sep)
    # coalesce NULL text to '' BEFORE the split: split(NULL) is NULL
    # and posexplode of NULL yields no rows, which would silently drop
    # the document from the output instead of returning clean_text ''
    lines = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), esc, -1)
        ).alias("p", "line"),
    )
    boiler = (
        lines.where(F.length("line") >= int(min_chars))
        .groupBy("line")
        .agg(F.count_distinct("id").alias("nd"))
        .where(F.col("nd") >= int(min_docs))
        .select("line", F.lit(True).alias("is_boiler"))
    )
    flagged = lines.join(boiler, "line", "left")
    rebuilt = flagged.groupBy("id").agg(
        F.count("*").alias("n_lines"),
        F.sum(F.when(F.col("is_boiler"), 1).otherwise(0))
        .cast("long")
        .alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("is_boiler").isNull(), F.struct("p", "line")
                        )
                    )
                ),
                lambda s: s["line"],
            ),
            sep,
        ).alias("clean_text"),
    )
    return rebuilt.select(
        "id", "n_lines", "n_removed", F.coalesce("clean_text", F.lit("")).alias("clean_text")
    )


def keep_canonical(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    order_col: str,
    descending: bool = True,
    left: str = "id_a",
    right: str = "id_b",
) -> DataFrame:
    """Keeper selection by QUALITY, not by min id: within each near-dup
    cluster keep the row with the best ``order_col`` (ties broken by
    id), drop the rest, pass every unpaired row through untouched —
    the canonical-document step a training pipeline runs after pair
    generation, where "keep the best-written copy" beats "keep the
    lowest id".

    One connected-components pass over the pair graph, then a
    row_number window per cluster over only the clustered rows (dup
    clusters are a small fraction of the corpus, so the window input is
    tiny relative to df), then an anti-join to drop losers."""
    clusters = duplicate_clusters(pairs, left, right)
    ordc = F.col("__ord").desc() if descending else F.col("__ord").asc()
    members = df.select(
        F.col(id_col).alias("__mid"), F.col(order_col).alias("__ord")
    ).join(clusters, F.col("__mid") == clusters["id"])
    ranked = members.withColumn(
        "__rk",
        F.row_number().over(
            Window.partitionBy("cluster_id").orderBy(ordc, F.col("__mid"))
        ),
    )
    losers = ranked.filter(F.col("__rk") > 1).select(F.col("__mid").alias("id"))
    return df.join(losers, df[id_col] == losers["id"], "left_anti")


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.95,
) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding column:
    k-means cluster the embeddings (broadcast-Lloyd, no shuffle in the
    assignment — ``similarity.kmeans``), generate cosine near-dup pairs
    ONLY within clusters (blocked equi-join: Σ|cluster|² candidate
    pairs instead of n², the entire point of clustering first), then
    greedily keep the lowest id of every near-dup pair.

    Returns (id, cluster_id, kept) for every input row. The keeper rule
    is the per-pair greedy one standard in SemDeDup implementations — a
    row is dropped iff it is the LARGER member of some ≥-threshold pair
    — deliberately not the transitive-closure rule (``keep_canonical``
    covers that); greedy needs one anti-join, no iteration, and is the
    behavior large-scale semantic dedup actually ships.
    """
    from geomesa_hive_spark.pipeline.similarity import kmeans

    assigned = kmeans(df, id_col, vec_col, k=k, iters=iters).select(
        F.col("id").alias("__kid"), "cluster_id"
    )
    with_c = df.select(F.col(id_col), F.col(vec_col)).join(
        assigned, F.col(id_col) == F.col("__kid")
    )
    pairs = embedding_near_dup_pairs(
        with_c, id_col, vec_col, threshold=threshold, block_col="cluster_id"
    )
    dropped = pairs.select(F.col("id_b").alias("__drop")).distinct()
    return (
        with_c.join(dropped, F.col(id_col) == F.col("__drop"), "left")
        .select(
            F.col(id_col),
            F.col("cluster_id"),
            F.col("__drop").isNull().cast("int").alias("kept"),
        )
    )


def ngram_contamination(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    eval_id_col: str | None = None,
    eval_text_col: str | None = None,
    ngram_n: int = 5,
    min_shared: int = 2,
) -> DataFrame:
    """Benchmark decontamination: (corpus_id, eval_id, shared) for
    every corpus doc sharing ≥ ``min_shared`` distinct word-n-grams
    with an eval/benchmark doc — the overlap check run before training
    so test sets don't leak into the corpus.

    Scale shape: the eval side is tiny at any real scale (benchmarks
    are 10³-10⁵ docs vs a 100 TB corpus), so its distinct gram index is
    BROADCAST and the corpus streams past with no shuffle at all until
    the per-(doc, eval) count — which only contains rows that actually
    collided. Gram codes are the same md5-prefix longs the LSH family
    uses, so the DuckDB oracle replays the join bit-for-bit."""
    eval_id_col = eval_id_col or id_col
    eval_text_col = eval_text_col or text_col
    ctoked = _spread_toked(corpus, id_col, text_col, id_alias="cid")
    cg = ctoked.select(
        "cid", F.explode(_grams_from_tokens("toks", ngram_n)).alias("gram")
    ).select("cid", gram_code32(F.col("gram")).alias("g"))
    etoked = eval_df.select(
        F.col(eval_id_col).alias("eid"),
        word_tokens(F.lower(F.col(eval_text_col))).alias("toks"),
    )
    eg = etoked.select(
        "eid", F.explode(_grams_from_tokens("toks", ngram_n)).alias("gram")
    ).select("eid", gram_code32(F.col("gram")).alias("g"))
    return (
        cg.join(F.broadcast(eg), "g")
        .groupBy("cid", "eid")
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= min_shared)
        .select(
            F.col("cid").alias("corpus_id"),
            F.col("eid").alias("eval_id"),
            F.col("shared"),
        )
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------


def cosine_sim(a: Column, b: Column) -> Column:
    """Native cosine similarity between two array<numeric> columns,
    computed in float64 with explicit op order (dot / (norm_a*norm_b))."""
    da = F.aggregate(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")), F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x.cast("double") * x.cast("double")), F.lit(0.0), lambda acc, v: acc + v))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x.cast("double") * x.cast("double")), F.lit(0.0), lambda acc, v: acc + v))
    return F.when((na > 0) & (nb > 0), da / (na * nb)).otherwise(F.lit(0.0))


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    block_col: str | None = None,
    shards: int = 4,
    dim: int | None = None,
    bits: int = 8,
    n_tables: int = 8,
    seed: int = 42,
    allow_cross_join: bool = False,
) -> DataFrame:
    """Pairs (id_a < id_b) with cosine ≥ threshold.

    Blocked by ``block_col`` when given (e.g. a cluster/label/LSH-bucket
    column) so the join is an equi-join. When ``block_col`` is None the
    DEFAULT is no longer all-pairs: the function derives its own
    multi-table sign-LSH blocks (``n_tables`` independent ``bits``-bit
    hyperplane signatures per row, reusing the similarity-module plane
    construction; each row explodes to ``n_tables`` (table<<bits)|bucket
    keys) and runs the same salted equi-join per derived block, then
    distincts pairs that met in several tables. This makes the default
    path APPROXIMATE with stated recall
    ``1 - (1 - (1 - θ/π)^bits)^n_tables`` for angle θ: at the defaults
    (8 bits × 8 tables) ≈ 0.99 for cos ≥ 0.95 and ≈ 0.93 at cos 0.90 —
    an explicit trade, chosen over the previous silent ``crossJoin``
    scale trap. The exact all-pairs baseline survives only behind
    ``allow_cross_join=True`` (small tables / oracle use). ``dim`` is
    the embedding width; if None it is read from one row (bounded
    single-row collect, codebook-style).

    Norms are hoisted out of the pair expression (computed once per ROW
    before the join, identical float op order, so results are bit-equal to
    the naive form while the per-pair cost drops to one dot product).

    Skew/coalesce control is PRE-join block salting, not a post-join
    rehash: each block is split into ``shards`` sub-shards by id hash
    (probe side keyed by its own shard, build side replicated ``shards``×),
    so the join key is (block, shard) — Σ|block|² work spreads over
    ``shards``× more keys and the explicit repartition on the join keys
    pins the partition count (user-specified numPartitions is exempt from
    AQE coalescing, which would otherwise merge these byte-small but
    compute-quadratic partitions). The shuffle carries single rows
    (id, vec, norm) — the probe side once, the build side ``shards``× —
    never candidate PAIRS with both vectors, which is what made the
    previous post-join ``repartition(id_a, id_b)`` a 2.7× regression at
    sf0.1 and an O(Σ|block|²·vec_bytes) shuffle at scale."""
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col("v"), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        *([F.col(block_col).alias("blk")] if block_col else []),
    ).withColumn("n", norm)
    multi_table = False
    if not block_col and not allow_cross_join:
        # derive sign-LSH blocks (local import: similarity imports
        # cosine_sim from this module)
        from geomesa_hive_spark.pipeline.similarity import (
            _hyperplanes, _lit_nested,
        )

        if dim is None:
            # bounded single-row collect; skip NULL vectors so the probe
            # row actually carries a width
            row = (
                df.select(F.size(F.col(vec_col)).alias("d"))
                .where(F.col("d").isNotNull())
                .first()
            )
            if row is None:
                # empty input (or all-NULL vectors): no pairs, mirror the
                # blocked path's empty result instead of crashing
                return (
                    df.select(
                        F.col(id_col).alias("id_a"),
                        F.col(id_col).alias("id_b"),
                        F.lit(0.0).alias("cos_sim"),
                    ).where(F.lit(False))
                )
            dim = row[0]
        planes = np.stack(
            [_hyperplanes(int(dim), int(bits), seed + t) for t in range(int(n_tables))]
        )  # (n_tables, bits, dim)
        planes_lit = _lit_nested(planes, "double")
        v = F.col("v")
        blk_arr = F.transform(
            planes_lit,
            lambda tbl, t: F.aggregate(
                F.transform(
                    tbl,
                    lambda p, i: F.when(
                        F.aggregate(
                            F.zip_with(v, p, lambda x, y: x.cast("double") * y),
                            F.lit(0.0),
                            lambda acc, x: acc + x,
                        )
                        >= 0,
                        F.call_function("shiftleft", F.lit(1), i),
                    ).otherwise(F.lit(0)),
                ),
                F.call_function("shiftleft", t, F.lit(int(bits))),
                lambda acc, b: acc + b,
            ),
        )
        base = base.withColumn("blk", F.explode(blk_arr))
        multi_table = True
    if block_col or multi_table:
        n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        s = max(1, int(shards))
        a = base.select(
            F.col("id").alias("id_a"),
            F.col("v").alias("va"),
            F.col("n").alias("na"),
            F.col("blk"),
            F.pmod(F.xxhash64("id"), F.lit(s)).cast("int").alias("shard"),
        ).repartition(n_part, "blk", "shard")
        b = base.select(
            F.col("id").alias("id_b"),
            F.col("v").alias("vb"),
            F.col("n").alias("nb"),
            F.col("blk"),
            F.explode(F.sequence(F.lit(0), F.lit(s - 1))).alias("shard"),
        ).repartition(n_part, "blk", "shard")
        joined = a.join(b, ["blk", "shard"])
    else:
        a = base.select(F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("n").alias("na"))
        b = base.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("n").alias("nb"))
        joined = a.crossJoin(b)
    joined = joined.filter(F.col("id_a") < F.col("id_b"))
    dot = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    sim = F.when(
        (F.col("na") > 0) & (F.col("nb") > 0), dot / (F.col("na") * F.col("nb"))
    ).otherwise(F.lit(0.0))
    out = (
        joined.withColumn("cos_sim", F.round(sim, 6))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )
    # a pair can meet in up to n_tables derived blocks; block_col rows
    # carry exactly one block so the distinct is skipped there (keeps
    # the contract query's plan unchanged)
    return out.distinct() if multi_table else out


# ---------------------------------------------------------------------------
# Persisted MinHash-LSH index: incremental dedup without re-signing the corpus
# ---------------------------------------------------------------------------
# The stored-index philosophy (the reference stores Z2 keys to avoid
# recomputing them per query — spatial-index/.../ST_Z2LatLon.scala:34-35;
# build_bm25_index applies it to retrieval) applied to near-dup: a 100 TB
# corpus is signed ONCE and its band keys persisted, partitioned by a hash
# bucket of the band hash; deduping a daily crawl then signs only the new
# batch and joins its band keys against the PRUNED index partitions — the
# corpus token stream is never touched again. Signatures are persisted too
# (partitioned by an id-hash bucket) so the agreement verification reads
# only the partitions holding candidate ids.


def build_minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    num_perm: int = 64,
    bands: int = 16,
    ngram_n: int = 3,
    seed: int = 42,
    n_buckets: int = 32,
) -> dict:
    """Sign ``df`` once and persist its LSH index under ``path``:
    ``bands/`` (id, band, bh) partitioned by ``bucket =
    pmod(xxhash64(bh), n_buckets)`` and ``sigs/`` (id, sig) partitioned
    by ``sbucket = pmod(xxhash64(id), n_buckets)``, plus an
    ``_index.json`` root pinning the signature parameters (a query with
    different params would silently match nothing — the stored index IS
    the parameter commitment). Returns the metadata dict."""
    import json
    import os

    sigs = minhash_signatures(df, id_col, text_col, num_perm, ngram_n, seed)
    sigs = sigs.withColumn(
        "sbucket", F.pmod(F.xxhash64(F.col("id")), F.lit(int(n_buckets)))
    ).withColumn("gen", F.lit(0))
    # localCheckpoint: the signature computation (tokenize + gram
    # explode + md5 + num_perm min-aggregates — the dominant cost of
    # the whole build) feeds BOTH the sigs write and the band-key
    # derivation; materializing it once means one signing pass instead
    # of a sign-then-reread round trip through the sigs/ parquet
    # (guide §1.2: remove passes first)
    sigs = sigs.localCheckpoint()
    keys = _minhash_band_keys(
        sigs.drop("sbucket", "gen"), num_perm, bands
    ).withColumn(
        "bucket", F.pmod(F.xxhash64("bh"), F.lit(int(n_buckets)))
    ).withColumn("gen", F.lit(0))
    # align shuffle partitions to the bucket dirs before partitionBy:
    # without this every upstream task writes a file into every bucket
    # (tasks × buckets small files — the write amplification compaction
    # exists to undo); with it, one file per bucket. The two writes are
    # independent (different dirs, both fed by the checkpointed sigs) —
    # overlap them (guide §2.6)
    from geomesa_hive_spark.pipeline import index_io

    index_io.run_concurrently(
        lambda: sigs.repartition(int(n_buckets), "sbucket").write.mode(
            "overwrite"
        ).partitionBy("sbucket").parquet(os.path.join(path, "sigs")),
        lambda: keys.repartition(int(n_buckets), "bucket").write.mode(
            "overwrite"
        ).partitionBy("bucket").parquet(os.path.join(path, "bands")),
    )
    meta = {
        "num_perm": int(num_perm), "bands": int(bands),
        "ngram_n": int(ngram_n), "seed": int(seed),
        "n_buckets": int(n_buckets), "gen": 0,
    }
    with open(os.path.join(path, "_index.json"), "w") as fh:
        json.dump(meta, fh)
    return meta


def minhash_index_meta(path: str) -> dict:
    import json
    import os

    with open(os.path.join(path, "_index.json")) as fh:
        return json.load(fh)


def pairs_against_index(
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    threshold: float = 0.5,
    prune_report: dict | None = None,
    sig_new: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs between ``new_df`` and the indexed corpus —
    result-identical to ``cross_corpus_pairs(corpus, new_df, ...)``
    (same signature arithmetic, pinned by the stored parameters) but
    the corpus side costs INDEX READS only: the new batch's band keys
    name the ≤ n_buckets band partitions worth reading (Spark partition
    pruning on the bucket filter), and signature verification reads
    only the sig partitions holding candidate ids. A daily-crawl dedup
    is then O(new batch + matching index slices), never O(corpus).

    Returns (id_a = indexed id, id_b = new id, est_jaccard ≥
    threshold). ``prune_report`` (filled in place) records
    band_buckets_read / sig_buckets_read of n_buckets.

    ``sig_new``: optionally a pre-materialized
    :func:`minhash_signatures` frame of ``new_df`` computed with the
    index's pinned parameters — a caller that queries the SAME batch
    more than once (e.g. before and after a maintain) signs it once
    instead of re-running the tokenize+gram+md5+min-agg plan per call
    (guide §1.2: remove repeated passes). Results are identical by
    construction; the caller owns parameter agreement
    (:func:`minhash_index_meta` exposes the pinned values)."""
    import os

    spark = new_df.sparkSession
    m = minhash_index_meta(path)
    nb = m["n_buckets"]
    if sig_new is None:
        sig_new = minhash_signatures(
            new_df, id_col, text_col, m["num_perm"], m["ngram_n"], m["seed"]
        ).localCheckpoint()
    keys_new = _minhash_band_keys(sig_new, m["num_perm"], m["bands"]).withColumn(
        "bucket", F.pmod(F.xxhash64("bh"), F.lit(int(nb)))
    )
    # bounded collect: at most n_buckets distinct values (collect_set
    # aggregates partially executor-side into one row — no distinct
    # shuffle)
    need = sorted(
        int(b)
        for b in keys_new.agg(F.collect_set("bucket")).collect()[0][0]
    )
    braw = spark.read.parquet(os.path.join(path, "bands")).filter(
        F.col("bucket").isin(need)            # partition-pruned scan
    )
    # pending deletes: tombstoned generations never match (physical
    # removal happens at maintain — see delete_from_minhash_index;
    # an upsert's re-appended rows are YOUNGER than the tombstone and
    # stay visible)
    tomb = _mh_tombstones(spark, path)
    braw = _mh_apply_tombstones(braw, tomb, "id")
    idx = braw.select(F.col("id").alias("id_a"), "band", "bh", "bucket")
    cand = (
        keys_new.select(F.col("id").alias("id_b"), "band", "bh", "bucket")
        .join(idx, ["bucket", "band", "bh"])
        .select("id_a", "id_b")
        .distinct()
        .localCheckpoint()
    )
    sneed = sorted(
        int(b)
        for b in cand.agg(
            F.collect_set(F.pmod(F.xxhash64("id_a"), F.lit(int(nb))))
        ).collect()[0][0]
    )
    sraw = spark.read.parquet(os.path.join(path, "sigs")).filter(
        F.col("sbucket").isin(sneed)            # partition-pruned scan
    )
    # same tombstone cut on the verification side: an upserted id's
    # OLD signature must never score a candidate pair
    sigs_old = _mh_apply_tombstones(sraw, tomb, "id").select(
        F.col("id").alias("id_a"), F.col("sig").alias("sig_a")
    )
    if prune_report is not None:
        prune_report.update(
            band_buckets_read=len(need), sig_buckets_read=len(sneed),
            n_buckets=nb,
        )
    sb = sig_new.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    est = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v)
    ) / F.lit(m["num_perm"])
    return (
        cand.join(sigs_old, "id_a")
        .join(sb, "id_b")
        .withColumn("est_jaccard", F.round(est, 6))
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def delete_from_minhash_index(keys: DataFrame, id_col: str, path: str) -> None:
    """Tombstone documents out of the MinHash index (takedown /
    opt-out / re-crawled-and-replaced ids) — same Lucene-style
    semantics as the BM25 index: ids land in an append-only
    ``tombstones/`` table, queries anti-join them out immediately (a
    deleted doc can never appear as a match partner), and the next
    :func:`maintain_minhash_index` drops the signature/band rows
    physically and clears the log. Each tombstone is stamped with the
    index's CURRENT generation, so it hides only rows born at or
    before the delete — a later re-append of the same id (see
    :func:`upsert_into_minhash_index`) is immediately visible.
    Deleting an unknown id is a no-op."""
    from geomesa_hive_spark.pipeline import index_io

    m = index_io.require_generation_meta(
        minhash_index_meta(path), "minhash index"
    )
    index_io.write_tombstones(keys, id_col, path, int(m["gen"]))


def _mh_tombstones(spark, path: str):
    from geomesa_hive_spark.pipeline import index_io

    return index_io.read_tombstones(spark, path)


def _mh_apply_tombstones(rows: DataFrame, tomb, id_col: str) -> DataFrame:
    from geomesa_hive_spark.pipeline import index_io

    if tomb is None:
        return rows
    return index_io.apply_tombstones(
        index_io.require_generation_column(rows, "minhash index"),
        tomb, id_col,
    )


def upsert_into_minhash_index(
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
) -> dict:
    """Re-index changed documents (the re-crawl case: same ids, new
    content): tombstone the ids at the current generation, then append
    the new content at the NEXT generation — queries immediately see
    only the new signatures (the tombstone hides generations ≤ its
    stamp, the re-append is younger), and the next maintain() drops
    the old rows physically. Cost: O(ids) tombstone write + O(batch)
    signing — never a bucket rewrite (the Lucene update trade; a
    targeted rewrite of the id's band buckets would rewrite 1/n_buckets
    of the index per touched bucket)."""
    delete_from_minhash_index(new_df.select(id_col), id_col, path)
    return append_to_minhash_index(new_df, id_col, text_col, path)


def append_to_minhash_index(
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
) -> dict:
    """Index a new batch into an existing MinHash index (the post-dedup
    step of the daily-crawl loop: dedup the crawl against the index,
    then append the survivors so tomorrow's crawl dedups against them
    too). Signs ONLY the new batch with the stored parameters and
    appends into the same bucket-partitioned layout — existing index
    files are never rewritten (parquet append into hash-bucket
    partitions adds files per partition; re-bucketing is compaction's
    job, not the writer's). Caller contract: ids must be new — the
    index stores signatures per id and duplicate ids would double-count
    candidates (use :func:`upsert_into_minhash_index` for re-crawled
    ids). Returns the index metadata with the bumped generation."""
    import json
    import os

    from geomesa_hive_spark.pipeline import index_io

    m = index_io.require_generation_meta(
        minhash_index_meta(path), "minhash index"
    )
    nb = m["n_buckets"]
    # bump the append GENERATION: rows carry it, tombstones reference
    # it, so an UPSERT (delete id, re-append new content) hides only
    # rows born at or before the delete — no maintain needed between
    g = int(m["gen"]) + 1
    sigs = minhash_signatures(
        new_df, id_col, text_col, m["num_perm"], m["ngram_n"], m["seed"]
    ).withColumn("sbucket", F.pmod(F.xxhash64(F.col("id")), F.lit(int(nb))))
    # localCheckpoint BEFORE the two writes: without it the band-key
    # write below re-executed the whole signing plan (tokenize + gram
    # explode + md5 + min-aggs) a second time — the build path never
    # did (it reread its sigs parquet), but append signed every batch
    # TWICE (guide §1.2)
    sigs = sigs.withColumn("gen", F.lit(g)).localCheckpoint()
    keys = _minhash_band_keys(
        sigs.drop("sbucket", "gen"), m["num_perm"], m["bands"]
    ).withColumn(
        "bucket", F.pmod(F.xxhash64("bh"), F.lit(int(nb)))
    ).withColumn("gen", F.lit(g))
    # independent appends into different dirs, both fed by the
    # checkpointed sigs — overlap them (guide §2.6)
    index_io.run_concurrently(
        lambda: sigs.repartition(int(nb), "sbucket").write.mode("append")
        .partitionBy("sbucket").parquet(os.path.join(path, "sigs")),
        lambda: keys.repartition(int(nb), "bucket").write.mode("append")
        .partitionBy("bucket").parquet(os.path.join(path, "bands")),
    )
    m["gen"] = g
    tmp = os.path.join(path, "_index.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(m, fh)
    os.replace(tmp, os.path.join(path, "_index.json"))
    return m


def maintain_minhash_index(spark, path: str) -> dict:
    """Compact the persisted MinHash index back to one file per bucket
    partition (round 10 — the compaction `append_to_minhash_index`'s
    docstring promises): every append adds ≥1 parquet file to each
    touched bucket dir, so after K daily appends a query scans K small
    files per pruned bucket — cost grows with APPEND COUNT instead of
    data. maintain() rewrites each side (`bands/`, `sigs/`) through one
    bucket-aligned shuffle into exactly one file per bucket, content-
    and parameter-identical (pytest pins pairs_against_index results
    bit-for-bit across maintain). Swap is rename-based (write to
    `.compact`, retire the old dir) under the same single-maintainer
    contract as manifest.vacuum: run with no concurrent query/append in
    flight. Pending tombstones (see :func:`delete_from_minhash_index`)
    are applied physically here — band and signature rows of deleted
    ids dropped during the same rewrite, log cleared after. Returns
    {side: {files_before, files_after}, "n_tombstones_applied"} where
    the count is distinct ids whose rows were ACTUALLY removed
    (unknown-id deletes and already-superseded upsert tombstones do
    not count — uniform semantics across the three indexes via
    pipeline/index_io.py)."""
    import os
    import shutil

    from geomesa_hive_spark.pipeline import index_io

    m = minhash_index_meta(path)
    nb = int(m["n_buckets"])
    report: dict = {}
    tomb = _mh_tombstones(spark, path)
    sigs_raw = spark.read.parquet(os.path.join(path, "sigs"))
    if tomb is not None:
        # guard BEFORE removed_ids_count: its gen-join on a legacy
        # gen-less index dies inside Spark with an unresolved-column
        # AnalysisException instead of the clear rebuild instruction
        index_io.require_generation_column(sigs_raw, "minhash index")
    report["n_tombstones_applied"] = index_io.removed_ids_count(
        sigs_raw, tomb, "id"
    )

    def _compact(side: str, part: str) -> None:
        src = os.path.join(path, side)
        before = index_io.n_part_files(src)
        tmp = src + ".compact"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        rows = _mh_apply_tombstones(spark.read.parquet(src), tomb, "id")
        (
            rows.repartition(nb, part)
            .write.mode("overwrite").partitionBy(part).parquet(tmp)
        )
        index_io.swap_dir(src, tmp)
        report[side] = {
            "files_before": before,
            "files_after": index_io.n_part_files(src),
        }

    # bands and sigs compact independently (guide §2.6)
    index_io.run_concurrently(
        lambda: _compact("bands", "bucket"),
        lambda: _compact("sigs", "sbucket"),
    )
    index_io.clear_tombstones(path)
    return report
