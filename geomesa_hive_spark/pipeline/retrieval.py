"""BM25 retrieval over a document corpus — the standard lexical
ranking function (Robertson/Spärck Jones probabilistic model, the
Lucene/Elasticsearch default), here as the training-data curation
primitive it has become: retrieve the corpus documents most similar
to a benchmark prompt (contamination auditing), to a seed set
(targeted selection), or to a user query (eval-set mining).

Shape — the inverted-index discipline on DataFrames:

1. ONE pass explodes tokens and keeps ONLY query terms (the `isin`
   filter is the inverted-index posting-list cut: the shuffle carries
   (doc, term, tf) for matching terms, never the full token stream).
2. Corpus stats (N, Σdl) are one map-side-combined aggregate; both are
   exact integers, so avgdl is the same double everywhere.
3. Per-term document frequencies — at most |query| rows — collect and
   fold into a literal CASE; no second join against the corpus.
4. Per-(doc, term) BM25 contributions quantize to integer MICRO-UNITS
   before the per-doc sum: integer
   sums are order-independent under any partitioning, which is what
   lets the DuckDB oracle replay scores exactly.
5. Top-k via orderBy(score, id).limit(k) — Spark's TakeOrdered, a
   per-partition heap + driver merge of k·partitions rows, no global
   sort.

Reference scope: the reference engine has no retrieval surface at all
(hiveless exposes spatial UDFs only); BM25 is part of the
beyond-reference pipeline battery.
"""

from __future__ import annotations

import json
import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "append_to_bm25_index", "bm25_phrase_topk", "bm25_query_index",
    "bm25_topk", "build_bm25_index", "delete_from_bm25_index",
    "maintain_bm25_index", "rrf_fuse", "upsert_into_bm25_index",
]

_SCALE = 1_000_000


def _toked_base(docs, id_col: str, text_col: str):
    """(id, dl, toks) with the parallelism guard applied BEFORE the
    tokenizer — the ONE copy of the spread-then-tokenize projection all
    four BM25 entry points share (round 13 review: the inline pattern
    was repeated at 4 sites, and the spread-vs-tokenize ORDERING is
    exactly the bug class that repetition invites — see
    text.spread_parallelism)."""
    from geomesa_hive_spark.pipeline.text import (
        spread_parallelism, token_count, word_tokens,
    )

    return spread_parallelism(
        docs.select(F.col(id_col).alias("id"),
                    F.col(text_col).alias("__ghs_txt")),
        "id",
    ).select(
        "id",
        token_count(F.col("__ghs_txt")).alias("dl"),
        word_tokens(F.lower(F.col("__ghs_txt"))).alias("toks"),
    )


def bm25_topk(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query: str,
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-``k`` documents by BM25 score against ``query``.

    Returns (id, matched_terms, score_micro, score) ordered by
    (score desc, id) — the id tiebreak makes the cut deterministic.
    idf is the Lucene form ``ln(1 + (N − df + 0.5)/(df + 0.5))``
    (always positive, so stopword-heavy queries can't produce negative
    contributions)."""
    terms = _query_terms(query)
    base = _toked_base(docs, id_col, text_col)
    n_row = base.agg(
        F.count("*").alias("n"), F.sum("dl").alias("tot")
    ).collect()[0]
    n_docs, avgdl = int(n_row["n"]), float(n_row["tot"]) / int(n_row["n"])

    # localCheckpoint: tf (bounded — query-term postings only) is
    # consumed twice (dfreq collect + scoring); without it each pass
    # re-tokenizes the whole corpus (round 13)
    tf = (
        base.select("id", "dl", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy("id", "dl", "term")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint()
    )
    dfreq = {
        r["term"]: int(r["df"])
        for r in tf.groupBy("term").agg(F.count("*").alias("df")).collect()
    }
    # idf as a chained F.when over F.lit terms — never f-string SQL:
    # query text is user input, and interpolating it into an expression
    # string is a ParseException ("don't") / injection surface. F.lit
    # parameterizes the term as a literal value, not SQL text.
    idf_col = F.lit(0.0)
    for t in terms:
        idf_val = math.log(
            1.0 + (n_docs - dfreq.get(t, 0) + 0.5) / (dfreq.get(t, 0) + 0.5)
        )
        idf_col = F.when(F.col("term") == F.lit(t), F.lit(idf_val)).otherwise(
            idf_col
        )
    # every embedded float is D-suffixed: Spark SQL parses a bare
    # decimal literal as DECIMAL, which would silently run the whole
    # contribution in rounded decimal arithmetic instead of IEEE
    # doubles (caught by the oracle hash on first contact)
    def _d(x: float) -> str:
        return repr(float(x)) + "D"

    # floor(x + 0.5), not round(): contributions are non-negative so
    # the semantics are identical HALF_UP, and Spark's round() on
    # DOUBLE allocates a BigDecimal per value — never in a per-posting
    # hot path (the similarity._qdist lesson)
    contrib = (
        f"CAST(floor(idf * tf * {_d(k1 + 1.0)}"
        f" / (tf + {_d(k1)} * (1.0D - {_d(b)} + {_d(b)} * dl / {_d(avgdl)}))"
        f" * {_SCALE} + 0.5D) AS BIGINT)"
    )
    scored = (
        tf.withColumn("idf", idf_col)
        .withColumn("c", F.expr(contrib))
        .drop("idf")
        .groupBy("id")
        .agg(
            F.count("*").cast("long").alias("matched_terms"),
            F.sum("c").cast("long").alias("score_micro"),
        )
        .withColumn("score", F.col("score_micro") / F.lit(float(_SCALE)))
    )
    return scored.orderBy(F.col("score_micro").desc(), F.col("id")).limit(int(k))


def bm25_phrase_topk(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    phrase: str,
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Phrase-filtered BM25 (Lucene's ``"exact phrase"`` query shape,
    round 11): only documents containing the phrase's tokens ADJACENT
    and IN ORDER are candidates; candidates are then ranked by the
    standard BM25 sum over the phrase's unique terms with CORPUS-level
    statistics (df/avgdl from the whole corpus, as Lucene scores phrase
    queries — a candidate-local df would inflate idf as the phrase gets
    rarer).

    Adjacency without a positional index: both the document and the
    phrase are tokenized by the SAME tokenizer, space-joined, and
    matched with a delimited substring test (`` ' a b ' in ' …tokens… '
    ``) — exact at token granularity, a single native `contains` over
    the token stream (no positions join, no Python). A positional
    posting list would win only when the corpus is indexed once and
    phrase-queried many times; this is the scan-shaped analog of
    :func:`bm25_topk`. Returns the same (id, matched_terms,
    score_micro, score) shape ordered by (score desc, id)."""
    from geomesa_hive_spark.pipeline.text import word_tokens_py

    ptoks = [t for t in word_tokens_py(phrase.lower()) if t]
    if len(ptoks) < 2:
        raise ValueError("phrase needs at least 2 tokens — use bm25_topk")
    terms = sorted(set(ptoks))
    # localCheckpoint: three consumers (corpus stats, the containment
    # filter, the postings explode) would otherwise re-tokenize the
    # corpus per job — the same fix as the index build path
    base = _toked_base(docs, id_col, text_col).localCheckpoint()
    n_row = base.agg(
        F.count("*").alias("n"), F.sum("dl").alias("tot")
    ).collect()[0]
    n_docs, avgdl = int(n_row["n"]), float(n_row["tot"]) / int(n_row["n"])
    # delimited substring over the space-joined token stream: F.lit
    # parameterizes the user phrase as a VALUE (never f-string SQL)
    needle = " " + " ".join(ptoks) + " "
    cand = base.filter(
        F.concat(F.lit(" "), F.array_join("toks", " "), F.lit(" "))
        .contains(F.lit(needle))
    )
    tf_all = (
        base.select("id", "dl", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy("id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    # corpus-level document frequencies (Lucene phrase-query semantics)
    dfreq = {
        r["term"]: int(r["df"])
        for r in tf_all.groupBy("term").agg(F.count("*").alias("df"))
        .collect()
    }
    tf = tf_all.join(F.broadcast(cand.select("id")), "id", "left_semi")
    idf_col = F.lit(0.0)
    for t in terms:
        idf_val = math.log(
            1.0 + (n_docs - dfreq.get(t, 0) + 0.5) / (dfreq.get(t, 0) + 0.5)
        )
        idf_col = F.when(F.col("term") == F.lit(t), F.lit(idf_val)).otherwise(
            idf_col
        )

    def _d(x: float) -> str:
        return repr(float(x)) + "D"

    contrib = (
        f"CAST(floor(idf * tf * {_d(k1 + 1.0)}"
        f" / (tf + {_d(k1)} * (1.0D - {_d(b)} + {_d(b)} * dl / {_d(avgdl)}))"
        f" * {_SCALE} + 0.5D) AS BIGINT)"
    )
    scored = (
        tf.withColumn("idf", idf_col)
        .withColumn("c", F.expr(contrib))
        .drop("idf")
        .groupBy("id")
        .agg(
            F.count("*").cast("long").alias("matched_terms"),
            F.sum("c").cast("long").alias("score_micro"),
        )
        .withColumn("score", F.col("score_micro") / F.lit(float(_SCALE)))
    )
    return scored.orderBy(F.col("score_micro").desc(), F.col("id")).limit(int(k))


def _query_terms(query: str) -> list[str]:
    """Tokenize a query string EXACTLY the way documents are tokenized
    (text.word_tokens_py is the driver-side twin of the word_tokens SQL
    expression) — any drift between the two silently makes punctuated
    query terms unmatchable against indexed tokens."""
    from geomesa_hive_spark.pipeline.text import word_tokens_py

    terms = sorted({t for t in word_tokens_py(query.lower()) if t})
    if not terms:
        raise ValueError("empty query")
    return terms


def build_bm25_index(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    n_buckets: int = 64,
    positions: bool = False,
) -> dict:
    """Materialize a persistent BM25 inverted index — the stored-index
    philosophy of the reference's spatial layer (Z2 keys are computed
    once at write time, `spatial-index`, so queries never recompute):
    here the corpus is tokenized ONCE and every later query reads only
    the postings of its own terms.

    Layout under ``path``:

    - ``postings/`` — (term, id, tf, dl), hash-partitioned by
      ``bucket = pmod(xxhash64(term), n_buckets)`` via partitionBy, so
      a query's scan prunes to |query-term| DIRECTORIES before any
      file is opened (directory-level partition pruning, the coarse
      cut above parquet row-group stats);
    - ``terms/`` — (term, df), same bucketing: per-term document
      frequencies precomputed so query-time idf is a |terms|-row read,
      never a postings aggregation;
    - ``stats.json`` — {n_docs, total_dl, n_buckets}: two exact
      integers, identical avgdl double everywhere.

    At 100 TB: the build is one explode + one (term,id) map-side-
    combined count — the same shuffle bm25_topk pays PER QUERY — paid
    once; query cost becomes O(postings of the query's terms). Returns
    the stats dict."""
    nb = int(n_buckets)
    if nb < 1:
        raise ValueError("n_buckets must be >= 1")
    # localCheckpoint: the base plan is consumed four times (stats agg,
    # postings write, terms aggregation, docs side write) and each
    # independent evaluation would re-run the pandas-UDF tokenization —
    # a 4x ingest tax (round-10 review finding)
    base = _toked_base(docs, id_col, text_col).localCheckpoint()
    n_row = base.agg(
        F.count("*").alias("n"), F.sum("dl").alias("tot")
    ).collect()[0]
    stats = {
        "n_docs": int(n_row["n"]),
        "total_dl": int(n_row["tot"] or 0),
        "n_buckets": nb,
        "gen": 0,
    }
    postings = (
        base.select("id", "dl", F.explode("toks").alias("term"))
        .groupBy("term", "id", "dl")
        .agg(F.count("*").cast("long").alias("tf"))
        .withColumn("bucket", F.pmod(F.xxhash64("term"), F.lit(nb)).cast("int"))
        .withColumn("gen", F.lit(0))
        .localCheckpoint()
    )
    terms = (
        postings.groupBy("term", "bucket")
        .agg(F.count("*").cast("long").alias("df"))
    )
    # the four dataset writes are independent of each other (different
    # dirs; postings/terms read the checkpointed postings, docs/
    # positions read the checkpointed base) — overlap them (guide
    # §2.6). The per-write repartition on bucket keeps one file set per
    # partition directory, not one fragment per upstream task.
    # docs/ is the per-doc (id, dl) side table — the delete/rebuild
    # substrate: postings alone can't reconstruct n_docs/total_dl (a
    # zero-token doc has NO postings rows but still counts), so
    # maintain() after deletes recomputes stats from there, exactly.
    from geomesa_hive_spark.pipeline import index_io

    writes = [
        lambda: postings.repartition("bucket").write.mode("overwrite")
        .partitionBy("bucket").parquet(os.path.join(path, "postings")),
        lambda: terms.repartition("bucket").write.mode("overwrite")
        .partitionBy("bucket").parquet(os.path.join(path, "terms")),
        lambda: _write_docs_side(base, path, nb, mode="overwrite", gen=0),
    ]
    if positions:
        writes.append(
            lambda: _write_positions(base, path, nb, mode="overwrite",
                                     gen=0))
        stats["positions"] = True
    index_io.run_concurrently(*writes)
    with open(os.path.join(path, "stats.json"), "w") as fh:
        json.dump(stats, fh)
    return stats


def _write_positions(base: DataFrame, path: str, nb: int, mode: str,
                     gen: int) -> None:
    """Positional postings (round 13 — the Lucene-parity layer under
    phrase queries): one row per (term, id) carrying the SORTED array
    of token positions, bucket-partitioned exactly like ``postings/``
    so a phrase query prunes to its terms' buckets. Kept as a SEPARATE
    dataset so the non-positional postings layout — and every query
    that doesn't need positions — is byte-identical to a
    positions=False index."""
    pos = (
        base.select("id", F.posexplode("toks").alias("pos", "term"))
        .groupBy("term", "id")
        .agg(F.sort_array(F.collect_list("pos")).alias("pos"))
        .withColumn(
            "bucket", F.pmod(F.xxhash64("term"), F.lit(nb)).cast("int"))
        .withColumn("gen", F.lit(int(gen)))
    )
    pos.repartition(nb, "bucket").write.mode(mode).partitionBy(
        "bucket"
    ).parquet(os.path.join(path, "positions"))


def _write_docs_side(base: DataFrame, path: str, nb: int, mode: str,
                     gen: int) -> None:
    (
        base.select(
            "id", "dl",
            F.pmod(F.xxhash64("id"), F.lit(nb)).cast("int").alias("dbucket"),
            F.lit(int(gen)).alias("gen"),
        )
        .repartition(nb, "dbucket")
        .write.mode(mode).partitionBy("dbucket")
        .parquet(os.path.join(path, "docs"))
    )


def append_to_bm25_index(
    new_docs: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
) -> dict:
    """Index a new document batch into an existing BM25 index (the
    crawl-ingest loop: retrieve against the index, then append the
    day's documents so tomorrow's queries see them). Tokenizes ONLY
    the batch with the stored parameters and appends into the same
    bucket-partitioned layout — existing postings files are never
    rewritten. The batch's per-term document frequencies land as ONE
    MORE df row per touched term (append-only; the query side sums df
    rows per term, and :func:`maintain_bm25_index` folds them back to
    one), and ``stats.json`` is atomically advanced by the batch's
    exact integer (n_docs, total_dl). Caller contract: ids must be
    new — postings are per (term, id) and a re-appended id would
    double-count its term frequencies; re-crawled ids go through
    :func:`upsert_into_bm25_index`, whose generation-versioned
    tombstones make the replacement safe. Returns the updated stats
    with the bumped generation."""
    with open(os.path.join(path, "stats.json")) as fh:
        stats = json.load(fh)
    from geomesa_hive_spark.pipeline import index_io

    index_io.require_generation_meta(stats, "BM25 index")
    nb = int(stats["n_buckets"])
    g = int(stats["gen"]) + 1
    # localCheckpoint: same 4x-tokenization fix as the build path
    base = _toked_base(new_docs, id_col, text_col).localCheckpoint()
    n_row = base.agg(
        F.count("*").alias("n"), F.sum("dl").alias("tot")
    ).collect()[0]
    postings = (
        base.select("id", "dl", F.explode("toks").alias("term"))
        .groupBy("term", "id", "dl")
        .agg(F.count("*").cast("long").alias("tf"))
        .withColumn("bucket", F.pmod(F.xxhash64("term"), F.lit(nb)).cast("int"))
        .withColumn("gen", F.lit(g))
        .localCheckpoint()
    )
    terms = (
        postings.groupBy("term", "bucket")
        .agg(F.count("*").cast("long").alias("df"))
    )
    # independent appends into different dirs (guide §2.6); a
    # positional index stays positional: appended batches write their
    # positions too, or phrase queries would silently miss them
    writes = [
        lambda: postings.repartition(nb, "bucket").write.mode("append")
        .partitionBy("bucket").parquet(os.path.join(path, "postings")),
        lambda: terms.repartition(nb, "bucket").write.mode("append")
        .partitionBy("bucket").parquet(os.path.join(path, "terms")),
        lambda: _write_docs_side(base, path, nb, mode="append", gen=g),
    ]
    if stats.get("positions"):
        writes.append(
            lambda: _write_positions(base, path, nb, mode="append", gen=g))
    index_io.run_concurrently(*writes)
    stats["n_docs"] = int(stats["n_docs"]) + int(n_row["n"])
    stats["total_dl"] = int(stats["total_dl"]) + int(n_row["tot"] or 0)
    stats["gen"] = g
    tmp = os.path.join(path, "stats.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(stats, fh)
    os.replace(tmp, os.path.join(path, "stats.json"))
    return stats


def delete_from_bm25_index(keys: DataFrame, id_col: str, path: str) -> None:
    """Tombstone documents out of the index (opt-out / takedown /
    re-crawl-replaced ids) — Lucene delete semantics, deliberately:
    the ids land in an append-only ``tombstones/`` table and queries
    ANTI-JOIN them out immediately (a deleted doc is never returned),
    but per-term df and the corpus stats stay STALE until the next
    :func:`maintain_bm25_index` physically drops the rows and rebuilds
    both exactly — the same trade Lucene makes (deleted docs count in
    df until segment merge) because computing a deleted doc's term
    memberships eagerly would need a full postings scan per delete.
    Tombstones are stamped with the index's CURRENT generation (see
    pipeline/index_io.py), so a later re-append of the same id — the
    :func:`upsert_into_bm25_index` path — is immediately visible.
    Deleting an id not in the index is a no-op."""
    from geomesa_hive_spark.pipeline import index_io

    with open(os.path.join(path, "stats.json")) as fh:
        stats = index_io.require_generation_meta(
            json.load(fh), "BM25 index"
        )
    index_io.write_tombstones(keys, id_col, path, int(stats["gen"]))


def upsert_into_bm25_index(
    new_docs: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
) -> dict:
    """Re-index changed documents (the re-crawl case: same ids, new
    content): tombstone at the current generation, re-append at the
    next — queries immediately score ONLY the new postings (the
    tombstone hides generations ≤ its stamp, the re-append is
    younger); df and corpus stats stay stale until maintain, exactly
    as for plain deletes (the appended batch's stats are added, the
    dead generations' are not yet subtracted). Cost: O(ids) tombstone
    write + O(batch) tokenize — never a bucket rewrite."""
    delete_from_bm25_index(new_docs.select(id_col), id_col, path)
    return append_to_bm25_index(new_docs, id_col, text_col, path)


def _tombstones(spark: SparkSession, path: str) -> DataFrame | None:
    from geomesa_hive_spark.pipeline import index_io

    return index_io.read_tombstones(spark, path)


def maintain_bm25_index(spark: SparkSession, path: str) -> dict:
    """Compact the persisted BM25 index back to one file per bucket
    partition and one df row per term, and APPLY pending tombstones
    physically (the Lucene segment-merge step): every append adds ≥1
    parquet file to each touched bucket dir plus a per-batch df row
    per term, so after K daily appends a query scans K small files per
    pruned bucket and merges K df rows — cost grows with APPEND COUNT
    instead of data; every delete leaves df/stats stale until here.
    maintain() rewrites ``postings/`` minus tombstoned ids through one
    bucket-aligned shuffle, REBUILDS ``terms/`` from the surviving
    postings (count per (term, bucket) — postings are unique per
    (term, id), so this equals the summed-df path when nothing was
    deleted; queries before/after a delete-free maintain are
    bit-identical, pytest-pinned), recomputes exact ``stats.json``
    from the ``docs/`` side table minus tombstoned generations, and
    clears the tombstone log. Rename-based swap under the same
    single-maintainer contract as manifest.vacuum: no concurrent
    query/append in flight. Returns {side: {files_before,
    files_after}, "n_tombstones_applied": distinct ids actually
    removed} — the uniform report semantics of pipeline/index_io.py
    ("n_tombstoned" is kept as a deprecated alias of the same count)."""
    import shutil

    from geomesa_hive_spark.pipeline import index_io

    with open(os.path.join(path, "stats.json")) as fh:
        stats = json.load(fh)
    nb = int(stats["n_buckets"])
    report: dict = {}
    tomb = _tombstones(spark, path)
    docs_dir = os.path.join(path, "docs")
    if tomb is not None and not os.path.isdir(docs_dir):
        raise ValueError(
            "cannot apply tombstones: index has no docs/ side table "
            "(built before round 10) — stats would go permanently "
            "stale; rebuild the index with the current version"
        )

    def _hide(rows):
        if tomb is None:
            return rows
        return index_io.apply_tombstones(
            index_io.require_generation_column(rows, "BM25 index"),
            tomb, "id",
        )

    def _compact(sub: str, part: str) -> None:
        src = os.path.join(path, sub)
        before = index_io.n_part_files(src)
        tmp = src + ".compact"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        (
            _hide(spark.read.parquet(src))
            .repartition(nb, part)
            .write.mode("overwrite").partitionBy(part).parquet(tmp)
        )
        index_io.swap_dir(src, tmp)
        report[sub] = {
            "files_before": before,
            "files_after": index_io.n_part_files(src),
        }

    post_dir = os.path.join(path, "postings")

    def _postings_then_terms() -> None:
        # terms REBUILT from the compacted postings, never patched —
        # the only delete-correct source of df; the rebuild must
        # therefore run AFTER the postings swap (sequential inside
        # this thunk)
        _compact("postings", "bucket")
        term_dir = os.path.join(path, "terms")
        before = index_io.n_part_files(term_dir)
        tmp = term_dir + ".compact"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        (
            spark.read.parquet(post_dir)
            .groupBy("term", "bucket")
            .agg(F.count("*").cast("long").alias("df"))
            .repartition(nb, "bucket")
            .write.mode("overwrite").partitionBy("bucket").parquet(tmp)
        )
        index_io.swap_dir(term_dir, tmp)
        report["terms"] = {
            "files_before": before,
            "files_after": index_io.n_part_files(term_dir),
        }

    n_tomb_box = [0]

    def _docs_then_stats() -> None:
        n_tomb_box[0] = index_io.removed_ids_count(
            spark.read.parquet(docs_dir), tomb, "id"
        )
        _compact("docs", "dbucket")
        # exact stats from the surviving docs — n_docs counts
        # zero-token docs too, which postings alone cannot
        kept = spark.read.parquet(docs_dir)
        row = kept.agg(
            F.count("*").alias("n"), F.sum("dl").alias("tot")
        ).collect()[0]
        stats["n_docs"] = int(row["n"])
        stats["total_dl"] = int(row["tot"] or 0)
        tmpj = os.path.join(path, "stats.json.tmp")
        with open(tmpj, "w") as fh:
            json.dump(stats, fh)
        os.replace(tmpj, os.path.join(path, "stats.json"))

    # three independent chains (guide §2.6): {postings -> terms},
    # {positions} (round 13 — compacts exactly like postings:
    # tombstoned generations dropped, one file set per bucket), and
    # {docs -> stats.json}; each chain touches its own directories
    chains = [_postings_then_terms]
    if os.path.isdir(os.path.join(path, "positions")):
        chains.append(lambda: _compact("positions", "bucket"))
    if os.path.isdir(docs_dir):
        chains.append(_docs_then_stats)
    index_io.run_concurrently(*chains)
    n_tomb = n_tomb_box[0]
    index_io.clear_tombstones(path)
    report["n_tombstones_applied"] = n_tomb
    report["n_tombstoned"] = n_tomb  # deprecated alias (pre-round-11 key)
    return report


def bm25_query_index(
    spark: SparkSession,
    path: str,
    query: str,
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-``k`` by BM25 against a :func:`build_bm25_index` index —
    bit-identical scores to :func:`bm25_topk` on the same corpus
    (same tokenization, Lucene idf, micro-unit quantization and
    (score desc, id) tiebreak), but the only distributed read is the
    postings of the query's own terms: the bucket equality filter is a
    PARTITION filter (directory pruning — plan-asserted in pytest) and
    the term filter rides the scan. idf folds driver-side from the
    |terms|-row terms read; no corpus-sized work anywhere."""
    terms = _query_terms(query)
    with open(os.path.join(path, "stats.json")) as fh:
        stats = json.load(fh)
    scored = _score_index_terms(spark, path, terms, stats, k1, b)
    return scored.orderBy(F.col("score_micro").desc(), F.col("id")).limit(int(k))


def _term_buckets(spark: SparkSession, terms: list, nb: int) -> list:
    """term→bucket computed by Spark itself on a literal frame (one
    tiny local-relation job): Python has no xxhash64 twin, and
    reimplementing it driver-side would be a silent-drift hazard."""
    tdf = spark.createDataFrame([(t,) for t in terms], "term string")
    return sorted({
        r.b
        for r in tdf.select(
            F.pmod(F.xxhash64("term"), F.lit(nb)).cast("int").alias("b")
        ).collect()
    })


def _score_index_terms(spark: SparkSession, path: str, terms: list,
                       stats: dict, k1: float, b: float,
                       cand: DataFrame | None = None) -> DataFrame:
    """The shared index-scoring block of :func:`bm25_query_index` and
    :func:`bm25_phrase_query_index` (round 13 factoring — one copy of
    the arithmetic, so term and phrase scoring can never drift):
    bucket-pruned postings of ``terms`` (tombstones applied), Lucene
    idf from the summed df rows, micro-unit contributions, per-doc
    aggregate. ``cand`` (optional) restricts scoring to candidate ids
    via a broadcast semi-join — the phrase filter."""
    n_docs, nb = stats["n_docs"], stats["n_buckets"]
    if n_docs == 0:
        raise ValueError("index is empty")
    avgdl = stats["total_dl"] / n_docs
    buckets = _term_buckets(spark, terms, nb)
    term_tbl = (
        spark.read.parquet(os.path.join(path, "terms"))
        .filter(F.col("bucket").isin(buckets) & F.col("term").isin(terms))
    )
    # SUM per term, not last-row-wins: append_to_bm25_index adds one df
    # row per (term, batch) — maintain() folds them back to one, but a
    # query between appends must see the merged document frequency
    dfreq: dict = {}
    for r in term_tbl.collect():
        dfreq[r["term"]] = dfreq.get(r["term"], 0) + int(r["df"])
    idf_col = F.lit(0.0)
    for t in terms:
        idf_val = math.log(
            1.0 + (n_docs - dfreq.get(t, 0) + 0.5) / (dfreq.get(t, 0) + 0.5)
        )
        idf_col = F.when(F.col("term") == F.lit(t), F.lit(idf_val)).otherwise(
            idf_col
        )

    def _d(x: float) -> str:
        return repr(float(x)) + "D"

    contrib = (
        f"CAST(floor(idf * tf * {_d(k1 + 1.0)}"
        f" / (tf + {_d(k1)} * (1.0D - {_d(b)} + {_d(b)} * dl / {_d(avgdl)}))"
        f" * {_SCALE} + 0.5D) AS BIGINT)"
    )
    post = (
        spark.read.parquet(os.path.join(path, "postings"))
        .filter(F.col("bucket").isin(buckets) & F.col("term").isin(terms))
    )
    # pending deletes: tombstoned generations are never returned —
    # re-appended (upserted) rows are younger and stay visible;
    # df/stats stay stale until maintain() (Lucene delete semantics —
    # see delete_from_bm25_index)
    tomb = _tombstones(spark, path)
    if tomb is not None:
        from geomesa_hive_spark.pipeline import index_io

        post = index_io.apply_tombstones(
            index_io.require_generation_column(post, "BM25 index"),
            tomb, "id",
        )
    if cand is not None:
        post = post.join(F.broadcast(cand), "id", "left_semi")
    return (
        post.withColumn("idf", idf_col)
        .withColumn("c", F.expr(contrib))
        .groupBy("id")
        .agg(
            F.count("*").cast("long").alias("matched_terms"),
            F.sum("c").cast("long").alias("score_micro"),
        )
        .withColumn("score", F.col("score_micro") / F.lit(float(_SCALE)))
    )


def bm25_phrase_query_index(
    spark: SparkSession,
    path: str,
    phrase: str,
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Exact-phrase BM25 against a POSITIONAL index
    (``build_bm25_index(..., positions=True)``) — Lucene-parity phrase
    queries with NO text scan (round 13; :func:`bm25_phrase_topk` is
    the scan-shaped twin this replaces for the indexed-once /
    phrase-queried-many corpus):

    1. the phrase's distinct terms name their buckets (partition
       pruning — the only positional data read);
    2. per candidate doc, the per-term position arrays pivot into one
       map and adjacency is a native ``exists(pos[t0], p →
       ∀i array_contains(pos[ti], p+i))`` — no Python, no join per
       phrase term; a doc missing any term yields NULL and drops;
    3. survivors are scored by the SHARED index scorer
       (:func:`_score_index_terms` with the candidate semi-join) —
       corpus-level df exactly like :func:`bm25_phrase_topk` (Lucene
       semantics), so results are bit-identical to the scan twin on
       the same corpus.

    Tombstones apply to positions at query time like everywhere else;
    appended batches carry their own positions; maintain() compacts
    the positional dataset alongside postings."""
    from geomesa_hive_spark.pipeline.text import word_tokens_py

    ptoks = [t for t in word_tokens_py(phrase.lower()) if t]
    if len(ptoks) < 2:
        raise ValueError(
            "phrase needs at least 2 tokens — use bm25_query_index")
    with open(os.path.join(path, "stats.json")) as fh:
        stats = json.load(fh)
    if not stats.get("positions"):
        raise ValueError(
            "index has no positional postings — rebuild with "
            "build_bm25_index(..., positions=True)"
        )
    terms = sorted(set(ptoks))
    nb = int(stats["n_buckets"])
    buckets = _term_buckets(spark, terms, nb)
    pos = (
        spark.read.parquet(os.path.join(path, "positions"))
        .filter(F.col("bucket").isin(buckets) & F.col("term").isin(terms))
    )
    tomb = _tombstones(spark, path)
    if tomb is not None:
        from geomesa_hive_spark.pipeline import index_io

        pos = index_io.apply_tombstones(
            index_io.require_generation_column(pos, "BM25 index"),
            tomb, "id",
        )
    byid = pos.groupBy("id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("term", "pos"))).alias("m")
    )
    # adjacency: some start position of the FIRST phrase token is
    # followed by every later token at its offset. A doc missing a
    # term gives getItem → NULL → array_contains/exists → NULL → the
    # filter drops it, so term presence is implicit.
    steps = [
        (lambda t, i: (lambda p: F.array_contains(
            F.col("m").getItem(t), p + F.lit(i))))(t, i)
        for i, t in enumerate(ptoks[1:], start=1)
    ]

    def _adjacent(p):
        c = steps[0](p)
        for s in steps[1:]:
            c = c & s(p)
        return c

    cand = byid.filter(
        F.exists(F.col("m").getItem(ptoks[0]), _adjacent)
    ).select("id")
    scored = _score_index_terms(spark, path, terms, stats, k1, b, cand=cand)
    return scored.orderBy(F.col("score_micro").desc(), F.col("id")).limit(int(k))


def rrf_fuse(
    rankings: list[DataFrame],
    c: int = 60,
    k: int = 20,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Büttcher 2009) of
    pre-ranked candidate lists — the standard hybrid-retrieval
    combiner (lexical BM25 + dense ANN) that needs no score
    calibration: each list contributes ``1/(c + rank)``.

    Each input frame carries (id, rank) with 1-based ranks and is
    expected to be a BOUNDED prior top-N (that is what makes the union
    k·|lists| rows, not corpus-sized — fusion is a post-retrieval
    step, never a corpus scan). Contributions quantize to integer
    NANO-units before the per-id sum, so fused scores are
    order-independent and oracle-replayable; ties break by id.
    Returns (id, sources, rrf_micro) — top ``k`` by fused score."""
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    contrib = F.expr(
        f"CAST(floor(1000000000.0D / ({int(c)} + rank) + 0.5D) AS BIGINT)"
    )
    parts = [r.select(F.col("id"), contrib.alias("c")) for r in rankings]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return (
        u.groupBy("id")
        .agg(
            F.count("*").cast("long").alias("sources"),
            F.sum("c").cast("long").alias("rrf_micro"),
        )
        .orderBy(F.col("rrf_micro").desc(), F.col("id"))
        .limit(int(k))
    )
