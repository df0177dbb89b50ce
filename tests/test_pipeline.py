"""Pipeline operator tests: dedup family, ANN search, text analysis —
toy data with hand-checkable answers."""

import pytest

from pyspark.sql import functions as F

from geomesa_hive_spark.pipeline import dedup, similarity, text

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy cat"),  # near dup
    (4, "completely different text about spark engines and parquet files"),
    (5, "  The  QUICK brown fox jumps over the lazy dog "),  # dup after normalize
    (6, ""),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id LONG, text STRING")


def test_exact_duplicates(spark, docs):
    out = dedup.exact_duplicates(docs, "doc_id", "text").collect()
    assert len(out) == 1
    assert out[0].n_dups == 3 and out[0].keep_id == 1


def test_drop_exact_duplicates(spark, docs):
    kept = dedup.drop_exact_duplicates(docs, "doc_id", "text")
    assert sorted(r.doc_id for r in kept.collect()) == [1, 3, 4, 6]


def test_ngram_jaccard(spark, docs):
    pairs = {(r.id_a, r.id_b): r.jaccard
             for r in dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.4).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == pytest.approx(1.0)
    assert (1, 5) in pairs and pairs[(1, 5)] == pytest.approx(1.0)  # tokens normalize case
    assert (1, 3) in pairs and 0.4 <= pairs[(1, 3)] < 1.0
    assert not any(4 in p for p in pairs)


def test_ngram_jaccard_strategies_agree(spark, docs):
    """count (default), prefix, and blocked paths return identical pairs."""
    count_p = {(r.id_a, r.id_b, r.jaccard)
               for r in dedup.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.4).collect()}
    prefix_p = {(r.id_a, r.id_b, r.jaccard)
                for r in dedup.ngram_jaccard_pairs(
                    docs, "doc_id", "text", threshold=0.4, strategy="prefix").collect()}
    assert count_p == prefix_p
    assert len(count_p) > 0


def test_minhash_lsh(spark, docs):
    pairs = {(r.id_a, r.id_b) for r in
             dedup.minhash_lsh_pairs(docs, "doc_id", "text", num_perm=64, bands=16, threshold=0.5).collect()}
    assert (1, 2) in pairs
    assert not any(4 in p or 6 in p for p in pairs)


def test_simhash(spark, docs):
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in dedup.simhash_pairs(docs, "doc_id", "text", max_hamming=3).collect()}
    assert pairs[(1, 2)] == 0
    assert (1, 4) not in pairs


def test_duplicate_clusters(spark):
    """Chain a-b-c must form ONE cluster keyed by min id; disjoint pair
    keeps its own; propagation crosses >1 hop."""
    pairs = spark.createDataFrame(
        [(2, 5), (5, 9), (9, 11), (20, 21)], "id_a LONG, id_b LONG")
    got = {(r.id, r.cluster_id) for r in dedup.duplicate_clusters(pairs).collect()}
    assert got == {(2, 2), (5, 2), (9, 2), (11, 2), (20, 20), (21, 20)}


def test_duplicate_clusters_reflexive_pair(spark):
    """A node appearing ONLY in a reflexive pair (a, a) must still get a
    singleton cluster row — the self-loop filter must not drop it from
    the node set (r3 ADVICE regression)."""
    pairs = spark.createDataFrame([(1, 2), (7, 7)], "id_a LONG, id_b LONG")
    got = {(r.id, r.cluster_id) for r in dedup.duplicate_clusters(pairs).collect()}
    assert got == {(1, 1), (2, 1), (7, 7)}


def test_drop_near_duplicates(spark, docs):
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.4)
    kept = dedup.drop_near_duplicates(docs, pairs, "doc_id")
    ids = sorted(r.doc_id for r in kept.collect())
    # 1,2,3,5 are one near-dup cluster (keeper=1); 4 and 6 untouched
    assert ids == [1, 4, 6]


def test_embedding_near_dup(spark):
    rows = [
        (1, [1.0, 0.0, 0.0], "a"),
        (2, [0.999, 0.01, 0.0], "a"),
        (3, [0.0, 1.0, 0.0], "a"),
        (4, [1.0, 0.0, 0.0], "b"),  # identical to 1 but different block
    ]
    df = spark.createDataFrame(rows, "id LONG, v ARRAY<DOUBLE>, blk STRING")
    out = {(r.id_a, r.id_b) for r in
           dedup.embedding_near_dup_pairs(df, "id", "v", threshold=0.95, block_col="blk").collect()}
    assert out == {(1, 2)}  # 1-4 blocked apart; 1-3 orthogonal


def test_embedding_near_dup_default_no_cross_join(spark):
    """The block_col=None DEFAULT must derive sign-LSH blocks, not
    crossJoin (r5 verdict wrong #1): the plan may contain no cartesian
    or broadcast-nested-loop join, and near-identical vectors must
    still pair up. allow_cross_join=True keeps the exact baseline."""
    import numpy as np

    rng = np.random.RandomState(7)
    vecs = rng.standard_normal((40, 16))
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    # rows 100+i = tiny perturbations of rows 0..4 -> cosine ~0.9999
    for i in range(5):
        rows.append((100 + i, [float(x + 1e-4) for x in vecs[i]]))
    df = spark.createDataFrame(rows, "id LONG, v ARRAY<DOUBLE>")

    out = dedup.embedding_near_dup_pairs(df, "id", "v", threshold=0.99)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    got = {(r.id_a, r.id_b) for r in out.collect()}
    assert got == {(i, 100 + i) for i in range(5)}

    exact = dedup.embedding_near_dup_pairs(
        df, "id", "v", threshold=0.99, allow_cross_join=True
    )
    assert {(r.id_a, r.id_b) for r in exact.collect()} == got


def test_embedding_near_dup_default_empty_and_null(spark):
    """Default-path dim inference must survive an empty frame and
    all-NULL vectors (review finding: .first()[0] crashed) — both
    return an empty pair frame with the standard columns."""
    schema = "id LONG, v ARRAY<DOUBLE>"
    empty = spark.createDataFrame([], schema)
    out = dedup.embedding_near_dup_pairs(empty, "id", "v")
    assert out.columns == ["id_a", "id_b", "cos_sim"] and out.count() == 0
    nulls = spark.createDataFrame([(1, None), (2, None)], schema)
    assert dedup.embedding_near_dup_pairs(nulls, "id", "v").count() == 0
    # a NULL-first frame with real vectors later still infers the width
    mixed = spark.createDataFrame(
        [(1, None), (2, [1.0, 0.0]), (3, [1.0, 1e-5])], schema
    )
    got = {(r.id_a, r.id_b)
           for r in dedup.embedding_near_dup_pairs(mixed, "id", "v").collect()}
    assert got == {(2, 3)}


EMB = [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)]) for i in range(50)]


@pytest.fixture(scope="module")
def emb(spark):
    return spark.createDataFrame(EMB, "id LONG, v ARRAY<DOUBLE>")


def test_knn_brute_topk(spark, emb):
    q = EMB[0][1]
    out = similarity.knn_brute(emb, "id", "v", q, k=5).collect()
    assert len(out) == 5
    assert out[0].id == 0 and out[0].cos_sim == pytest.approx(1.0)
    sims = [r.cos_sim for r in out]
    assert sims == sorted(sims, reverse=True)


def test_knn_lsh_recall(spark, emb):
    q = EMB[0][1]
    brute = [r.id for r in similarity.knn_brute(emb, "id", "v", q, k=5).collect()]
    lsh = [r.id for r in similarity.knn_lsh(emb, "id", "v", q, k=5, bits=6, probe_hamming=2).collect()]
    # approximate: expect >= 3/5 overlap with generous probing on toy data
    assert len(set(brute) & set(lsh)) >= 3


def test_knn_ivf_recall(spark, emb):
    q = EMB[0][1]
    brute = [r.id for r in similarity.knn_brute(emb, "id", "v", q, k=5).collect()]
    ivf = [r.id for r in similarity.knn_ivf(emb, "id", "v", q, k=5, n_lists=4, n_probe=2).collect()]
    assert len(set(brute) & set(ivf)) >= 3


def test_text_stats(spark, docs):
    out = {r.doc_id: r for r in docs.select(
        "doc_id",
        text.token_count(F.col("text")).alias("n"),
        text.bpe_ish_token_count(F.col("text")).alias("b"),
        text.quality_score(F.col("text")).alias("q"),
        text.lang_id(F.col("text")).alias("lang"),
        text.fingerprint(F.col("text")).alias("fp"),
    ).collect()}
    assert out[1].n == 9
    assert out[6].n == 0
    assert out[1].b >= 9
    assert out[1].lang == "en"
    # empty text: only the word-band floor contributes -> 0.2 * 0.5
    assert 0.0 <= out[1].q <= 1.0 and out[6].q == pytest.approx(0.1)
    assert out[1].fp == out[2].fp == out[5].fp  # normalized fingerprint
    assert out[1].fp != out[3].fp


def test_lang_id_multilingual(spark):
    df = spark.createDataFrame(
        [(1, "le chat est dans la maison et la porte"),
         (2, "der Hund ist mit der Katze und das Haus"),
         (3, "los perros es por la casa con el gato")],
        "doc_id LONG, text STRING",
    )
    out = {r.doc_id: r.lang for r in df.select("doc_id", text.lang_id(F.col("text")).alias("lang")).collect()}
    assert out == {1: "fr", 2: "de", 3: "es"}


def test_winnowing_fingerprints(spark):
    """Identical texts share all fingerprints; case/whitespace variants
    normalize to the same set; a long shared substring guarantees a
    shared fingerprint; sub-k texts yield empty."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "  The  QUICK brown fox jumps over the lazy dog "),
        (3, "PREFIX junk then the quick brown fox jumps over the lazy dog"),
        (4, "completely unrelated words about engines"),
        (5, "tiny"),
    ]
    df = spark.createDataFrame(rows, "id LONG, t STRING")
    sel = text.winnowing_fingerprints(df, "t", "id").collect()
    out = {i: set() for i in range(1, 6)}
    for r in sel:
        out[r.id].add(r.fp)
    assert out[1] == out[2] and len(out[1]) > 0      # normalization
    assert out[1] & out[3]                            # shared substring → shared fp
    assert not (out[1] & out[4])                      # unrelated: disjoint
    assert out[5] == set()                            # shorter than k


def test_knn_lsh_stored_layout_prunes_partitions(spark, tmp_path):
    """The stored-bucket layout must (a) return exactly what the
    on-the-fly knn_lsh returns and (b) show the probe as PARTITION
    pruning in the scan, not a post-scan filter."""
    from geomesa_hive_spark.pipeline import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    path = str(tmp_path / "lsh_layout")
    similarity.write_lsh_bucketed(emb, path, "embedding", dim=64, bits=6)
    stored = similarity.knn_lsh_stored(
        spark, path, "vec_id", "embedding", qv, k=10, bits=6, n_tables=1)
    fly = similarity.knn_lsh(
        emb, "vec_id", "embedding", qv, k=10, bits=6, n_tables=1)
    assert [(r.id, r.cos_sim) for r in stored.collect()] == \
           [(r.id, r.cos_sim) for r in fly.collect()]
    plan = stored._jdf.queryExecution().executedPlan().toString()
    import re as _re
    assert _re.search(r"PartitionFilters: \[[^\n]*bucket", plan)


def test_knn_lsh_multi_table_stored_matches_fly(spark, tmp_path):
    """Multi-table layout (one bucket-partitioned replica per plane set)
    returns exactly the on-the-fly multi-table result, and every
    replica's probe is partition pruning."""
    from geomesa_hive_spark.pipeline import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    path = str(tmp_path / "lsh_multi")
    similarity.write_lsh_bucketed(emb, path, "embedding", dim=64, bits=6, n_tables=3)
    stored = similarity.knn_lsh_stored(
        spark, path, "vec_id", "embedding", qv, k=10, bits=6, n_tables=3)
    fly = similarity.knn_lsh(
        emb, "vec_id", "embedding", qv, k=10, bits=6, n_tables=3)
    assert [(r.id, r.cos_sim) for r in stored.collect()] == \
           [(r.id, r.cos_sim) for r in fly.collect()]
    plan = stored._jdf.queryExecution().executedPlan().toString()
    import re as _re
    # AQE renders initial+final plans in one string, so each of the 3
    # replica scans can appear twice — require at least one per replica
    assert len(_re.findall(r"PartitionFilters: \[[^\n]*bucket", plan)) >= 3


def test_knn_ivf_stored_layout_prunes_partitions(spark, tmp_path):
    """Stored IVF layout returns the same rows as on-the-fly pivot IVF
    and probes via partition pruning on list_id."""
    from geomesa_hive_spark.pipeline import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    path = str(tmp_path / "ivf_layout")
    similarity.write_ivf_partitioned(emb, path, "vec_id", "embedding", n_lists=8)
    stored = similarity.knn_ivf_stored(
        spark, path, "vec_id", "embedding", qv, k=10, n_lists=8, n_probe=3)
    fly = similarity.knn_ivf(
        emb, "vec_id", "embedding", qv, k=10, n_lists=8, n_probe=3, method="pivot")
    assert [(r.id, r.cos_sim) for r in stored.collect()] == \
           [(r.id, r.cos_sim) for r in fly.collect()]
    plan = stored._jdf.queryExecution().executedPlan().toString()
    import re as _re
    assert _re.search(r"PartitionFilters: \[[^\n]*list_id", plan)


def test_ivf_index_lifecycle(spark, tmp_path):
    """build_ivf_index / append / maintain / knn_query_index: stored
    centroids make the query corpus-scan-free; build-half + append-half
    ≡ on-the-fly pivot IVF over the union (the 8 smallest ids sit in
    the build half); maintain compacts to one file per list and changes
    nothing; the probe is partition-pruned (plan-asserted)."""
    import glob as _glob
    import re as _re

    from geomesa_hive_spark.pipeline import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    mid = int(emb.agg(F.max("vec_id")).collect()[0][0]) // 2
    path = str(tmp_path / "ivf_idx")
    meta = similarity.build_ivf_index(
        emb.filter(F.col("vec_id") <= mid), "vec_id", "embedding", path,
        n_lists=8)
    assert similarity.ivf_index_meta(path) == meta
    similarity.append_to_ivf_index(emb.filter(F.col("vec_id") > mid), path)

    prune = {}
    got = similarity.knn_query_index(spark, path, qv, k=10, n_probe=3,
                                     prune_report=prune)
    assert prune == {"lists_read": 3, "n_lists": 8}
    fly = similarity.knn_ivf(emb, "vec_id", "embedding", qv, k=10,
                             n_lists=8, n_probe=3, method="pivot")
    pre = [(r.id, r.cos_sim) for r in got.collect()]
    assert pre == [(r.id, r.cos_sim) for r in fly.collect()]
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert _re.search(r"PartitionFilters: \[[^\n]*list_id", plan)

    n_before = len(_glob.glob(path + "/lists/*/*.parquet"))
    rep = similarity.maintain_ivf_index(spark, path)
    assert rep["files_before"] == n_before > rep["files_after"] <= 8
    # append bumps the generation counter (tombstone versioning);
    # everything else — centroids above all — must be untouched
    assert similarity.ivf_index_meta(path) == {**meta, "gen": 1}
    post = [(r.id, r.cos_sim) for r in similarity.knn_query_index(
        spark, path, qv, k=10, n_probe=3).collect()]
    assert post == pre


def test_knn_join_lsh_recall(spark):
    """LSH k-NN join finds most of the exact top-k (same planes both
    sides; Hamming-1 probing)."""
    from geomesa_hive_spark.pipeline import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") < 10)
    exact = {(r.lid, r.rid) for r in
             similarity.knn_join_brute(probes, emb, "vec_id", "vec_id", "embedding", k=5).collect()}
    approx = {(r.lid, r.rid) for r in
              similarity.knn_join_lsh(probes, emb, "vec_id", "vec_id", "embedding",
                                      dim=64, k=5, bits=4).collect()}
    assert len(exact) == 50
    recall = len(exact & approx) / len(exact)
    # uniform synthetic embeddings are sign-LSH's worst case: neighbor
    # angles ~66 deg give per-plane collision p~0.63, so bucket+Hamming-1
    # recall ~ p^4 + 4p^3(1-p) ~ 0.53 at bits=4 — assert we're at theory,
    # not below it (clustered real embeddings do far better)
    assert recall >= 0.45, recall


def test_hash_split_deterministic(spark):
    """Splits are disjoint, exhaustive, deterministic, and roughly
    proportional; bad weights raise."""
    from geomesa_hive_spark.pipeline import sampling

    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    a = sampling.hash_split(df, "doc_id").groupBy("split").count().collect()
    b = sampling.hash_split(df, "doc_id").groupBy("split").count().collect()
    counts = {r.split: r["count"] for r in a}
    assert counts == {r.split: r["count"] for r in b}          # deterministic
    assert sum(counts.values()) == 2000                         # exhaustive
    assert set(counts) == {"train", "val", "test"}
    assert 0.85 <= counts["train"] / 2000 <= 0.95               # ~90%
    with pytest.raises(ValueError):
        sampling.hash_split(df, "doc_id", {"a": 0.5, "b": 0.4})


def test_c4_clean_rules(spark):
    """C4 battery: line retention (word floor, terminal punct,
    javascript mention), lorem/brace doc flags, sentence floor, null
    propagation, and empty-text behavior."""
    from geomesa_hive_spark.pipeline.text import c4_clean

    rows = [
        (1, 'Good long sentence here.\nshort.\nNo terminal punct line\n'
            'uses JavaScript tracking code.\nAnother fine "line" ends well!\n'
            'Is this a question?'),
        (2, 'lorem ipsum dolor sit amet.\nreal line with words here.'),
        (3, 'function() { return 1; } is code.\nplain text line right here.'),
        (4, None),
        (5, ''),
    ]
    df = spark.createDataFrame(rows, "id LONG, t STRING")
    out = {r.id: r for r in
           df.select("id", c4_clean("t").alias("c")).select("id", "c.*").collect()}
    r1 = out[1]
    # 'short.' fails the 3-word floor, the bare line fails terminal
    # punct, the JavaScript line is dropped case-insensitively
    assert r1.clean_text == ('Good long sentence here.\n'
                             'Another fine "line" ends well!\nIs this a question?')
    assert (r1.n_lines, r1.n_kept, r1.n_sentences) == (6, 3, 3)
    assert r1.c4_pass
    assert out[2].has_lorem and not out[2].c4_pass
    assert out[3].has_brace and not out[3].c4_pass
    assert out[4].c4_pass is None and out[4].clean_text is None
    assert out[5].clean_text == "" and not out[5].c4_pass


def test_gopher_flags_rules(spark):
    """Each Gopher rule flips on its targeted pathology; a well-formed
    long document passes all seven; null text yields a null struct."""
    from pyspark.sql import functions as F

    from geomesa_hive_spark.pipeline.text import gopher_flags

    good = ("the quick brown fox jumps with vigor and grace over that "
            "lazy dog to have plenty of words because sentences need "
            "substance ") * 5
    rows = [
        (1, good),
        (2, "- one\n- two\n- three\n- four"),           # bullets > 90%
        (3, "aaa...\nbbb...\nccc"),                      # ellipsis lines
        (4, "#### #### tags everywhere #"),                # symbol ratio
        (5, "1 2 3 4 5 6 7 8 9 10 11 12"),                # alpha ratio
        (6, None),
    ]
    df = spark.createDataFrame(rows, "id LONG, text STRING")
    out = {r.id: r.g for r in
           df.select("id", gopher_flags("text").alias("g")).collect()}
    assert out[1].gopher_pass and all(
        getattr(out[1], f) for f in
        ["wc_ok", "mwl_ok", "sym_ok", "bullet_ok", "ell_ok", "alpha_ok",
         "stop_ok"]
    )
    assert not out[2].bullet_ok
    assert not out[3].ell_ok
    assert not out[4].sym_ok
    assert not out[5].alpha_ok
    assert out[6] is None


def test_group_split_leakage_safe(spark):
    """group_split must put every member of a group in the SAME split
    (the leakage guarantee a row-hashed split lacks: with 40-row
    groups, hash_split provably scatters some group across splits)."""
    from pyspark.sql import functions as F

    from geomesa_hive_spark.pipeline import sampling

    df = (spark.range(2000).withColumnRenamed("id", "doc_id")
          .withColumn("grp", F.col("doc_id") % 50))
    g = sampling.group_split(df, "grp")
    per = g.groupBy("grp").agg(
        F.count_distinct("split").alias("ns"), F.count("*").alias("n")
    ).collect()
    assert all(r.ns == 1 for r in per)                  # integrity
    assert sum(r.n for r in per) == 2000                # exhaustive
    # the row-hashed control DOES scatter at least one 40-row group
    rowwise = sampling.hash_split(df, "doc_id").groupBy("grp").agg(
        F.count_distinct("split").alias("ns")
    ).collect()
    assert any(r.ns > 1 for r in rowwise)
    # determinism across invocations
    a = {(r.grp, r.split) for r in g.select("grp", "split").distinct().collect()}
    b = {(r.grp, r.split) for r in
         sampling.group_split(df, "grp").select("grp", "split").distinct().collect()}
    assert a == b


def test_sample_fraction_nested(spark):
    """Same-seed samples nest: sample(0.2) is a subset of sample(0.5);
    different seeds differ."""
    from geomesa_hive_spark.pipeline import sampling

    df = spark.range(1000).withColumnRenamed("id", "doc_id")
    s20 = {r.doc_id for r in sampling.sample_fraction(df, "doc_id", 0.2).collect()}
    s50 = {r.doc_id for r in sampling.sample_fraction(df, "doc_id", 0.5).collect()}
    s50b = {r.doc_id for r in sampling.sample_fraction(df, "doc_id", 0.5, seed=7).collect()}
    assert s20 <= s50
    assert 120 <= len(s20) <= 280 and 400 <= len(s50) <= 600
    assert s50 != s50b


def test_weighted_mix(spark):
    """Sources tagged and sampled at their own (salted) rates."""
    from geomesa_hive_spark.pipeline import sampling

    df = spark.range(1000).withColumnRenamed("id", "doc_id")
    mixed = sampling.weighted_mix(
        [("all", df, 1.0), ("half", df, 0.5)], "doc_id").collect()
    by_src = {}
    for r in mixed:
        by_src.setdefault(r.source, set()).add(r.doc_id)
    assert len(by_src["all"]) == 1000
    assert 400 <= len(by_src["half"]) <= 600


def test_keep_canonical(spark):
    """Cluster {1,2,3} (chained pairs) keeps only the best-quality
    member; unpaired rows pass through."""
    rows = [(1, 0.5), (2, 0.9), (3, 0.7), (4, 0.1)]
    df = spark.createDataFrame(rows, "doc_id LONG, q DOUBLE")
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a LONG, id_b LONG")
    kept = sorted(r.doc_id for r in dedup.keep_canonical(df, pairs, "doc_id", "q").collect())
    assert kept == [2, 4]


def test_ngram_contamination(spark):
    """Corpus docs sharing >= min_shared distinct n-grams with an eval
    doc are flagged; others are not."""
    ev = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog today")],
        "doc_id LONG, text STRING")
    corpus = spark.createDataFrame(
        [(1, "he saw the quick brown fox jumps over a fence"),
         (2, "completely different words entirely unrelated text here"),
         (3, "the quick brown fox jumps over the lazy dog again and again")],
        "doc_id LONG, text STRING")
    out = dedup.ngram_contamination(corpus, ev, "doc_id", "text",
                                    ngram_n=5, min_shared=2)
    hits = {(r.corpus_id, r.eval_id): r.shared for r in out.collect()}
    assert (3, 100) in hits and hits[(3, 100)] >= 2
    assert all(cid != 2 for cid, _ in hits)


def test_embedding_centroids(spark):
    df = spark.createDataFrame(
        [(1, "a", [1.0, 3.0]), (2, "a", [3.0, 5.0]), (3, "b", [10.0, 0.0])],
        "id LONG, lab STRING, v ARRAY<DOUBLE>")
    out = {r.label: (list(r.centroid), r.n_members)
           for r in similarity.embedding_centroids(df, "lab", "v").collect()}
    assert out["a"] == ([2.0, 4.0], 2)
    assert out["b"] == ([10.0, 0.0], 1)


def test_kmeans_separated(spark):
    """Two well-separated blobs: k=2 Lloyd recovers them regardless of
    pivot init; assignment is deterministic across runs."""
    rows = [(i, [10.0 + (i % 3) * 0.1, 10.0]) for i in range(10)] + \
           [(i, [-10.0 - (i % 3) * 0.1, -10.0]) for i in range(10, 20)]
    df = spark.createDataFrame(rows, "id LONG, v ARRAY<DOUBLE>")
    a = similarity.kmeans(df, "id", "v", k=2, iters=3).collect()
    b = similarity.kmeans(df, "id", "v", k=2, iters=3).collect()
    assert sorted((r.id, r.cluster_id) for r in a) == sorted((r.id, r.cluster_id) for r in b)
    by_cluster = {}
    for r in a:
        by_cluster.setdefault(r.cluster_id, set()).add(r.id)
    assert sorted(len(v) for v in by_cluster.values()) == [10, 10]
    assert {frozenset(v) for v in by_cluster.values()} == \
           {frozenset(range(10)), frozenset(range(10, 20))}
    assert all(r.d2 < 1.0 for r in a)


def test_repetition_signals(spark):
    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),       # bigrams: ab,ba,ab,ba,ab -> 5 total, 2 distinct
            (2, "w x y z"),           # all distinct: 3 total, 3 distinct
            (3, "solo"),              # < 2 tokens -> zeros
            (4, ""),                  # empty -> zeros
        ],
        "doc_id LONG, text STRING",
    )
    out = {r.doc_id: (r.n_grams, r.dup_frac, r.top_frac)
           for r in text.repetition_signals(df, "doc_id", "text").collect()}
    assert out[1] == (5, round(1 - 2 / 5, 6), round(3 / 5, 6))
    assert out[2] == (3, 0.0, round(1 / 3, 6))
    assert out[3] == (0, 0.0, 0.0)
    assert out[4] == (0, 0.0, 0.0)


def test_cross_corpus_pairs(spark):
    a = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again and again"),
         (2, "completely unrelated text about spark partitions and shuffles here")],
        "doc_id LONG, text STRING")
    b = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog again and again"),
         (11, "another different document entirely with its own words inside")],
        "doc_id LONG, text STRING")
    pairs = dedup.cross_corpus_pairs(a, b, "doc_id", "text", threshold=0.5).collect()
    assert [(r.id_a, r.id_b, r.est_jaccard) for r in pairs] == [(1, 10, 1.0)]


def test_semantic_dedup(spark):
    rows = [(1, [1.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0]),   # exact dup pair
            (3, [0.0, 1.0, 0.0]),                          # unique
            (4, [-1.0, 0.0, 0.0])]                         # opposite, not near
    df = spark.createDataFrame(rows, "vec_id LONG, v ARRAY<DOUBLE>")
    out = {r.vec_id: r.kept for r in
           dedup.semantic_dedup(df, "vec_id", "v", k=2, iters=2, threshold=0.95).collect()}
    assert out[1] == 1 and out[2] == 0      # larger member of the dup pair dropped
    assert out[3] == 1 and out[4] == 1


def test_minhash_lsh_band_shards_invariant(spark, docs):
    """Salted band join (hot-band skew control) must return exactly the
    unsalted pairs for any shard count."""
    base = {(r.id_a, r.id_b, r.est_jaccard) for r in
            dedup.minhash_lsh_pairs(docs, "doc_id", "text", num_perm=64, bands=16,
                                    threshold=0.5).collect()}
    salted = {(r.id_a, r.id_b, r.est_jaccard) for r in
              dedup.minhash_lsh_pairs(docs, "doc_id", "text", num_perm=64, bands=16,
                                      threshold=0.5, band_shards=5).collect()}
    assert base == salted and len(base) > 0


# ------------------------------------------------------------ PII / URLs
def test_redact_pii_counts_and_replacement(spark):
    rows = [
        (1, "mail a.b+c@x-mail.org or 192.168.1.10 call 555-123-4567 ok"),
        (2, "no pii here, just 1.2 numbers and an at @ sign"),
        (3, "two mails: a@b.co c@d.io and ip 10.0.0.1"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "id LONG, t STRING")
    out = {r.id: r for r in text.redact_pii(df, "t").collect()}
    assert (out[1].pii_email, out[1].pii_ipv4, out[1].pii_phone) == (1, 1, 1)
    assert out[1].redacted == "mail [PII] or [PII] call [PII] ok"
    assert out[2].pii_total == 0 and out[2].redacted == rows[1][1]
    assert (out[3].pii_email, out[3].pii_ipv4) == (2, 1) and out[3].pii_total == 3
    assert out[4].redacted is None and out[4].pii_total is None  # null in, null out


def test_extract_urls_hosts(spark):
    rows = [
        (1, "go to https://a.example.com/x/y?no and http://b.net:8080/z"),
        (2, "bare text without links"),
        (3, "https://a.example.com twice https://a.example.com/p"),
    ]
    df = spark.createDataFrame(rows, "id LONG, t STRING")
    out = text.extract_urls(df, "t", "id").collect()
    hosts = sorted((r.id, r.host) for r in out)
    assert hosts == [(1, "a.example.com"), (1, "b.net"), (3, "a.example.com"),
                     (3, "a.example.com")]
    # query string stopped at '?' (not in the path class) — by design
    assert any(r.url == "https://a.example.com/x/y" for r in out)


# ----------------------------------------------------------- tfidf / quantile
def test_tfidf_pairs_hand_checkable(spark):
    rows = [
        (1, "apple banana cherry"),
        (2, "apple banana cherry"),          # exact dup of 1 -> sim 1.0
        (3, "apple banana kiwi"),            # shares 2 of 3 rare terms
        (4, "unrelated words entirely here"),
        (5, "zzz qqq xxx"),
    ]
    df = spark.createDataFrame(rows, "id LONG, t STRING")
    out = {(r.id_a, r.id_b): r.sim for r in
           text.tfidf_pairs(df, "id", "t", min_sim=0.2, max_df_frac=1.0).collect()}
    assert out[(1, 2)] == pytest.approx(1.0)
    assert 0.2 < out[(1, 3)] < 1.0 and out[(2, 3)] == pytest.approx(out[(1, 3)])
    assert not any(4 in p or 5 in p for p in out)  # disjoint vocab: no pair


def test_tfidf_stop_term_pruning(spark):
    # 'the' appears in every doc; with max_df_frac=0.5 it cannot create pairs
    rows = [(i, f"the unique{i} word{i}") for i in range(1, 7)]
    df = spark.createDataFrame(rows, "id LONG, t STRING")
    out = text.tfidf_pairs(df, "id", "t", min_sim=0.01, max_df_frac=0.5).collect()
    assert out == []  # all shared mass was the stop term


def test_filter_by_quantile_deterministic(spark):
    from geomesa_hive_spark.pipeline import sampling

    rows = [  # group a: 5 rows, keep ceil(2.5)=3; group b: 2 rows keep 1
        (1, "a", 0.9), (2, "a", 0.8), (3, "a", 0.8), (4, "a", 0.2), (5, "a", 0.1),
        (6, "b", 0.5), (7, "b", 0.6),
    ]
    df = spark.createDataFrame(rows, "id LONG, g STRING, score DOUBLE")
    kept = {r.id for r in
            sampling.filter_by_quantile(df, "score", "g", 0.5, "id").collect()}
    # ties at 0.8 broken by id: 2 kept before 3
    assert kept == {1, 2, 3, 7}
    again = {r.id for r in
             sampling.filter_by_quantile(df, "score", "g", 0.5, "id").collect()}
    assert kept == again


def test_remove_boilerplate_lines(spark):
    """Repeated-line removal: lines in >= min_docs distinct docs drop
    everywhere, short lines are exempt, order is preserved, and a doc
    whose every line is boilerplate comes back as ''."""
    rows = [
        (1, "COOKIE NOTICE\nalpha beta\n\ngamma delta\nCOOKIE NOTICE"),
        (2, "COOKIE NOTICE\nunique two"),
        (3, "COOKIE NOTICE\n\nunique three"),
        (4, "COOKIE NOTICE"),
        (5, "solo doc only"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, t STRING")
    out = {r.id: r for r in dedup.remove_boilerplate_lines(
        df, "doc_id", "t", min_docs=3, min_chars=1
    ).collect()}
    # 'COOKIE NOTICE' appears in docs 1-4 (distinct count 4 despite doc 1
    # carrying it twice); '' appears in docs 1 and 3 but is length-0 exempt
    assert out[1].clean_text == "alpha beta\n\ngamma delta"
    assert (out[1].n_lines, out[1].n_removed) == (5, 2)
    assert out[2].clean_text == "unique two"
    assert out[3].clean_text == "\nunique three"
    assert out[4].clean_text == "" and out[4].n_removed == 1
    assert out[5].clean_text == "solo doc only" and out[5].n_removed == 0
    # min_docs=5: nothing qualifies, every doc intact
    intact = {r.id: r.clean_text for r in dedup.remove_boilerplate_lines(
        df, "doc_id", "t", min_docs=5
    ).collect()}
    assert intact == {i: t for i, t in rows}
    # ADVICE r6: NULL text must not vanish from the output — it comes
    # back as clean_text '' (coalesced before the split)
    withnull = spark.createDataFrame(
        [(1, None), (2, "keep me")], "doc_id LONG, t STRING"
    )
    nn = {r.id: r for r in dedup.remove_boilerplate_lines(
        withnull, "doc_id", "t", min_docs=3
    ).collect()}
    assert set(nn) == {1, 2}
    assert nn[1].clean_text == "" and nn[1].n_removed == 0
    assert nn[2].clean_text == "keep me"


def test_substring_span_dedup_semantics(spark):
    from geomesa_hive_spark.pipeline.dedup import substring_span_dedup

    docs = spark.createDataFrame(
        [
            # shared 6-token run "one two three four five six" in docs 0/1:
            # its two 5-windows overlap -> all 6 tokens covered (maximal-
            # substring coverage via fixed-length windows)
            (0, "start one two three four five six end"),
            (1, "one two three four five six tail words here"),
            (2, "completely different and unrelated content words"),
            (3, "short text"),
            # duplicated span WITHIN one doc (two occurrences, same doc)
            (4, "p q r s t gap gap gap p q r s t"),
        ],
        "id INT, text STRING",
    )
    out = {r.id: r for r in
           substring_span_dedup(docs, "id", "text", n=5, min_count=2).collect()}
    assert (out[0].n_tok, out[0].n_removed) == (8, 6)
    assert out[0].clean_text == "start end"
    assert (out[1].n_tok, out[1].n_removed) == (9, 6)
    assert out[1].clean_text == "tail words here"
    assert out[2].n_removed == 0
    assert out[3].n_removed == 0 and out[3].clean_text == "short text"
    # within-doc repetition counts toward min_count too
    assert out[4].n_removed == 10
    assert out[4].clean_text == "gap gap gap"


def test_knn_pq_matches_numpy_reference(spark):
    import numpy as np
    from geomesa_hive_spark.pipeline import similarity as S

    rng = np.random.default_rng(3)
    n, dim, m, ksub = 300, 64, 8, 16
    V = rng.normal(0, 1, (n, dim))
    import pandas as pd
    df = spark.createDataFrame(pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": [v.astype(np.float32).tolist() for v in V],
    }))
    Vf = V.astype(np.float32).astype(np.float64)  # what Spark sees
    q = Vf[5]
    sub = dim // m

    for method in ("pivot", "kmeans"):
        got = [r.id for r in
               S.knn_pq(df, "vec_id", "embedding", q.tolist(), k=10,
                        refine=60, method=method).collect()]
        if method == "pivot":
            cbs = np.stack([Vf[:ksub, s*sub:(s+1)*sub] for s in range(m)])
        else:
            cbs = S.pq_codebooks_kmeans(df, "vec_id", "embedding", m=m, ksub=ksub)
        codes = np.zeros((n, m), dtype=int)
        for s in range(m):
            d = np.floor(((Vf[:, None, s*sub:(s+1)*sub] - cbs[s][None]) ** 2)
                         * 1e12 + 0.5).sum(2)
            codes[:, s] = d.argmin(1)
        lut = np.stack([np.floor((q[s*sub:(s+1)*sub] - cbs[s]) ** 2 * 1e12 + 0.5).sum(1)
                        for s in range(m)])
        adc = np.array([lut[np.arange(m), codes[i]].sum() for i in range(n)])
        cand = np.lexsort((np.arange(n), adc))[:60]
        cos = (Vf @ q) / (np.linalg.norm(Vf, axis=1) * np.linalg.norm(q))
        cc = np.round(cos[cand], 6)
        want = list(np.array(cand)[np.lexsort((cand, -cc))][:10])
        assert got == [int(x) for x in want], method


def test_countmin_guarantee_and_merge(spark):
    import numpy as np
    import pandas as pd

    from geomesa_hive_spark.pipeline.sketches import (
        countmin_build, countmin_estimate,
    )

    rng = np.random.default_rng(9)
    # zipf-ish stream: heavy hitters + long tail
    keys = [f"k{i}" for i in np.clip(rng.zipf(1.5, 5000), 1, 400)]
    df = spark.createDataFrame(pd.DataFrame({"k": keys}))
    depth, width = 4, 128
    sk = countmin_build(df, "k", depth=depth, width=width)
    # sketch is bounded
    assert sk.count() <= depth * width

    true = pd.Series(keys).value_counts()
    probe = spark.createDataFrame(pd.DataFrame({"k": true.index.tolist()}))
    est = {r.key: r.est for r in
           countmin_estimate(probe, "k", sk, depth=depth, width=width).collect()}
    n = len(keys)
    import math
    for k, t in true.items():
        assert est[k] >= t  # one-sided: never undercounts
        assert est[k] <= t + math.e / width * n * 4  # loose 4x eps bound

    # shard merge: sum of two half-stream sketches == whole-stream sketch
    h1 = countmin_build(
        spark.createDataFrame(pd.DataFrame({"k": keys[:2500]})), "k",
        depth=depth, width=width)
    h2 = countmin_build(
        spark.createDataFrame(pd.DataFrame({"k": keys[2500:]})), "k",
        depth=depth, width=width)
    from pyspark.sql import functions as F
    merged = (h1.union(h2).groupBy("row", "pos")
              .agg(F.sum("cnt").alias("cnt")))
    a = {(r.row, r.pos): r.cnt for r in merged.collect()}
    b = {(r.row, r.pos): r.cnt for r in sk.collect()}
    assert a == b


def test_hll_merge_rollup_and_accuracy(spark):
    """HLL sketch: (1) merged-over-shards registers ≡ built-direct —
    the mergeability contract, exact equality; (2) rolling a finer
    grouping up to a coarser one by dropping the group column gives
    the union estimate; (3) the estimate lands within 5·rsd of exact
    at three decades of cardinality (m=512 → rsd ≈ 4.6%); (4) the
    estimate is identical across repartitionings (integer harmonic
    sum — partition-order independence)."""
    import math

    from pyspark.sql import functions as F

    from geomesa_hive_spark.pipeline.sketches import (
        hll_build, hll_estimate, hll_merge,
    )

    df = spark.range(60000).select(
        "id",
        (F.col("id") % 2).alias("g"),
        (F.col("id") % 12347).alias("v"),
    )
    direct = hll_build(df, ["g"], "v", p=9)
    # shard on id, NOT v: the same value lands in several shards, so
    # the merge genuinely dedups across register tables
    sharded = hll_build(
        df.withColumn("s", F.col("id") % 5), ["g", "s"], "v", p=9)
    merged = hll_merge(sharded.drop("s"), ["g"])
    a = sorted((r.g, r.idx, r.rho) for r in merged.collect())
    b = sorted((r.g, r.idx, r.rho) for r in direct.collect())
    assert a == b                                   # registers identical

    # rollup: drop g entirely -> global sketch == built on all rows
    glob = hll_merge(direct.drop("g"), [])
    got = hll_estimate(glob.withColumn("one", F.lit(1)), ["one"], p=9)
    want = hll_estimate(
        hll_build(df.withColumn("one", F.lit(1)), ["one"], "v", p=9),
        ["one"], p=9)
    assert got.collect()[0].est == want.collect()[0].est

    # accuracy across cardinalities (incl. the linear-counting range)
    rsd = 1.04 / math.sqrt(512)
    for n in (50, 2000, 12347):
        d = spark.range(50000).select((F.col("id") % n).alias("v"))
        est = hll_estimate(
            hll_build(d.withColumn("g", F.lit(0)), ["g"], "v", p=9),
            ["g"], p=9).collect()[0].est
        assert abs(est - n) <= 5 * rsd * n, (n, est)

    # partition-order independence: same estimate at any layout
    d1 = df.repartition(1)
    d17 = df.repartition(17, "v")
    e1 = sorted((r.g, r.est) for r in
                hll_estimate(hll_build(d1, ["g"], "v", p=9), ["g"],
                             p=9).collect())
    e17 = sorted((r.g, r.est) for r in
                 hll_estimate(hll_build(d17, ["g"], "v", p=9), ["g"],
                              p=9).collect())
    assert e1 == e17


def test_weighted_sample_proportionality_and_determinism(spark):
    from pyspark.sql import functions as F

    from geomesa_hive_spark.pipeline.sampling import weighted_sample

    df = spark.range(1000).select(
        F.col("id"),
        F.when(F.col("id") < 500, 1.0).otherwise(10.0).alias("w"),
    )
    s1 = {r.id for r in weighted_sample(df, "id", "w", k=200).collect()}
    s2 = {r.id for r in
          weighted_sample(df.repartition(7), "id", "w", k=200).collect()}
    assert s1 == s2 and len(s1) == 200  # partitioning-independent
    heavy = sum(1 for i in s1 if i >= 500)
    # E[heavy] ~ 183 under A-ES with 10:1 weights; huge margin
    assert heavy > 150
    # zero/negative weights are excluded entirely
    df2 = spark.range(10).select(
        F.col("id"), (F.col("id") % 2).cast("double").alias("w")
    )
    got = {r.id for r in weighted_sample(df2, "id", "w", k=10).collect()}
    assert got == {1, 3, 5, 7, 9}


def test_knn_ivfpq_matches_numpy_reference(spark):
    import numpy as np
    import pandas as pd

    from geomesa_hive_spark.pipeline import similarity as S

    rng = np.random.default_rng(13)
    n, dim, L, m, ksub, probes, refine = 400, 64, 32, 8, 16, 8, 60
    V = rng.normal(0, 1, (n, dim)).astype(np.float32).astype(np.float64)
    df = spark.createDataFrame(pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": [v.astype(np.float32).tolist() for v in V],
    }))
    q = V[3]
    got = [r.id for r in S.knn_ivfpq(
        df, "vec_id", "embedding", q.tolist(), k=10, n_lists=L,
        n_probe=probes, m=m, ksub=ksub, refine=refine).collect()]

    sub = dim // m
    qd = S._qdist_np
    cents = V[:L]
    assign = qd(V[:, None, :], cents[None]).argmin(1)
    R = V - cents[assign]
    P = V[L:L + ksub]
    pa = qd(P[:, None, :], cents[None]).argmin(1)
    PR = P - cents[pa]
    books = np.stack([PR[:, s * sub:(s + 1) * sub] for s in range(m)])
    codes = np.zeros((n, m), int)
    for s in range(m):
        codes[:, s] = qd(R[:, None, s * sub:(s + 1) * sub], books[s][None]).argmin(1)
    order = np.argsort(qd(q[None], cents), kind="stable")[:probes]
    lut = {int(li): np.stack([qd((q - cents[li])[s * sub:(s + 1) * sub][None], books[s])
                              for s in range(m)]) for li in order}
    idxs = np.where(np.isin(assign, order))[0]
    adc = np.array([lut[int(assign[i])][np.arange(m), codes[i]].sum() for i in idxs])
    cand = idxs[np.lexsort((idxs, adc))][:refine]
    cos = (V @ q) / (np.linalg.norm(V, axis=1) * np.linalg.norm(q))
    cc = np.round(cos[cand], 6)
    want = [int(x) for x in np.array(cand)[np.lexsort((cand, -cc))][:10]]
    assert got == want


# ---------------------------------------------------------------------------
# Embedding PCA (pipeline/embeddings.py)
# ---------------------------------------------------------------------------


def test_pca_matches_numpy_covariance(spark):
    """Moments from the distributed mapInPandas pass reproduce a direct
    NumPy covariance of the quantized data, eigenpairs are the true
    principal axes, and the moment rows are partition-invariant."""
    import numpy as np

    from geomesa_hive_spark.pipeline import embeddings as E

    rng = np.random.default_rng(3)
    d, n = 8, 300
    # anisotropic cloud: variance concentrated on a known direction
    base = rng.normal(size=(n, d)) * 0.05
    axis = np.zeros(d); axis[2] = 1.0
    x = (base + np.outer(rng.normal(size=n) * 0.8, axis)).astype(np.float32)
    rows = [(i, [float(v) for v in x[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")

    mom = E.covariance_q(df, "vec_id", "embedding", dim=d).toPandas()
    mom2 = E.covariance_q(
        df.repartition(7), "vec_id", "embedding", dim=d
    ).toPandas()
    key = lambda p: sorted(map(tuple, p.itertuples(index=False)))
    assert key(mom) == key(mom2)

    comp, vals, mean, cnt = E.pca_components(mom, dim=d, k=3)
    q = np.floor(x.astype(np.float64) * 10000.0 + 0.5) / 10000.0
    cov_ref = np.cov(q, rowvar=False, bias=True)
    vr, Vr = np.linalg.eigh(cov_ref)
    assert cnt == n
    assert np.allclose(mean, q.mean(axis=0), atol=1e-12)
    assert np.allclose(vals, np.sort(vr)[::-1][:3], rtol=1e-9)
    # top component is the planted axis (up to sign, handled by the
    # deterministic flip)
    assert abs(comp[0] @ axis) > 0.99
    # orthonormality
    assert np.allclose(comp @ comp.T, np.eye(3), atol=1e-10)

    # projection: scores equal centered dot products
    scores = {r.id: r.scores for r in E.project(
        df, "vec_id", "embedding", comp, mean).collect()}
    ref = (x.astype(np.float64) - q.mean(axis=0)) @ comp.T
    got = np.array([scores[i] for i in range(n)])
    # native fused expression re-centers the RAW floats, not the
    # quantized ones; tolerance covers the 1e-4 quantization of mean
    assert np.abs(got - ref).max() < 1e-6


def test_stratified_sample_exact_sizes_and_determinism(spark):
    from geomesa_hive_spark.pipeline import sampling

    rows = [(i, "abc"[i % 3] if i < 90 else "d") for i in range(95)]
    df = spark.createDataFrame(rows, "doc_id LONG, grp STRING")
    out = sampling.stratified_sample(df, "grp", "doc_id", 10).collect()
    by = {}
    for r in out:
        by.setdefault(r.grp, set()).add(r.doc_id)
    assert {g: len(v) for g, v in by.items()} == {"a": 10, "b": 10, "c": 10, "d": 5}
    # partition invariance + independent draw per seed
    out2 = sampling.stratified_sample(df.repartition(9), "grp", "doc_id", 10).collect()
    assert {(r.grp, r.doc_id) for r in out} == {(r.grp, r.doc_id) for r in out2}
    alt = sampling.stratified_sample(df, "grp", "doc_id", 10, seed=7).collect()
    assert {(r.grp, r.doc_id) for r in alt} != {(r.grp, r.doc_id) for r in out}


def test_opq_rotation_invariants(spark):
    """OPQ rotation: orthonormal, balanced eigenvalue allocation across
    subspaces, and EXACT preservation of cosine top-k semantics (a
    rotation cannot change inner products beyond float noise)."""
    import numpy as np

    from geomesa_hive_spark.pipeline import similarity

    rng = np.random.default_rng(9)
    d, n, m = 16, 200, 4
    # anisotropic: first few directions dominate
    scales = np.linspace(2.0, 0.1, d)
    x = (rng.normal(size=(n, d)) * scales).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(n)],
        "vec_id LONG, embedding ARRAY<FLOAT>")
    R = similarity.opq_rotation(df, "vec_id", "embedding", d, m=m)
    assert np.abs(R @ R.T - np.eye(d)).max() < 1e-10

    # balanced allocation: per-subspace variance products within 10x of
    # each other despite a 20x eigenvalue spread (natural order would
    # give a ~10^4 spread)
    xr = x.astype(np.float64) @ R.T
    sub = d // m
    prods = [np.prod(xr[:, s*sub:(s+1)*sub].var(axis=0)) for s in range(m)]
    assert max(prods) / min(prods) < 10.0

    # cosine preservation: rotated pairwise cosines equal originals
    a, b = x[:20].astype(np.float64), x[20:40].astype(np.float64)
    def cos(u, v):
        return (u @ v.T) / (np.linalg.norm(u, axis=1)[:, None]
                            * np.linalg.norm(v, axis=1)[None])
    assert np.abs(cos(a @ R.T, b @ R.T) - cos(a, b)).max() < 1e-12

    # rotate_vecs matches the NumPy matmul
    rot = {r.vec_id: np.array(r.rvec) for r in
           similarity.rotate_vecs(df, "embedding", R, "rvec").collect()}
    got = np.stack([rot[i] for i in range(n)])
    assert np.abs(got - x.astype(np.float64) @ R.T).max() < 1e-12


def test_top_terms_ranking_and_stop_cut(spark):
    from geomesa_hive_spark.pipeline.text import top_terms

    rows = [
        (1, "apple apple apple common common zebra"),
        (2, "common banana banana zebra zebra zebra"),
        (3, "common cherry"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    # 'common' in 3/3 docs -> df cut at frac 0.5 removes it
    out = {}
    for r in top_terms(df, "doc_id", "text", k=2, max_df_frac=0.5).collect():
        out.setdefault(r.id, []).append((r.rank, r.term, r.w))
    for v in out.values():
        v.sort()
    # N=3, max_df = int(3·0.5) = 1: only single-doc terms survive the
    # stop cut (zebra df=2 and common df=3 are both gone); idf = 300
    assert out[1] == [(1, "apple", 900)]
    assert out[2] == [(1, "banana", 600)]
    assert out[3] == [(1, "cherry", 300)]
    # no cut at frac 1.0: every doc fills k slots, common ranks LAST
    full = {}
    for r in top_terms(df, "doc_id", "text", k=2, max_df_frac=1.0).collect():
        full.setdefault(r.id, []).append((r.rank, r.term, r.w))
    for v in full.values():
        v.sort()
    assert full[1] == [(1, "apple", 900), (2, "common", 200)]
    assert full[2] == [(1, "banana", 600), (2, "zebra", 450)]


def test_bm25_topk_ranking_and_determinism(spark):
    """BM25 retrieval (pipeline/retrieval.py bm25_topk): scores match
    a hand-rolled reference (Lucene idf, micro-quantized contributions)
    exactly; docs with zero matching terms never appear; the
    (score desc, id) tiebreak pins the cut; empty query raises."""
    import math

    import pytest as _pytest

    from geomesa_hive_spark.pipeline.retrieval import bm25_topk

    corpus = {
        1: "spark join vector spark spark",
        2: "join the table scan",
        3: "vector vector vector join spark",
        4: "nothing relevant here at all wow",
        5: "spark",
        6: "spark",  # identical to 5: same score, id tiebreak orders 5 first
    }
    docs = spark.createDataFrame(list(corpus.items()), "id long, text string")
    out = bm25_topk(docs, "id", "text", "spark vector", k=5).collect()
    got = [(r.id, r.score_micro, r.matched_terms) for r in out]

    n = len(corpus)
    dls = {i: len(t.split()) for i, t in corpus.items()}
    avgdl = sum(dls.values()) / n
    terms = ["spark", "vector"]
    dfq = {t: sum(1 for d in corpus.values() if t in d.split()) for t in terms}

    def score(i):
        s, m = 0, 0
        for t in terms:
            tf = corpus[i].split().count(t)
            if not tf:
                continue
            m += 1
            idf = math.log(1.0 + (n - dfq[t] + 0.5) / (dfq[t] + 0.5))
            s += math.floor(
                idf * tf * 2.2
                / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dls[i] / avgdl))
                * 1_000_000 + 0.5
            )
        return s, m

    exp = sorted(
        ((i,) + score(i) for i in corpus if score(i)[0] > 0),
        key=lambda x: (-x[1], x[0]),
    )[:5]
    assert got == exp, (got, exp)
    assert 4 not in {g[0] for g in got}
    ids = [g[0] for g in got]
    assert ids.index(5) < ids.index(6)  # id tiebreak on equal scores
    with _pytest.raises(ValueError):
        bm25_topk(docs, "id", "text", "   ")


def test_bm25_topk_quoted_terms_safe(spark):
    """ADVICE r6: query text is user input — a term containing a single
    quote must neither raise ParseException nor inject into the idf
    expression (terms now flow through F.lit, never f-string SQL)."""
    from geomesa_hive_spark.pipeline.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [(1, "don't stop believing"), (2, "stop right there"),
         (3, "unrelated words only")],
        "id long, text string",
    )
    out = {r.id: r.matched_terms
           for r in bm25_topk(docs, "id", "text", "don't stop", k=10).collect()}
    assert out[1] == 2          # matches both "don't" and "stop"
    assert out[2] == 1
    assert 3 not in out
    # adversarial injection attempt parses as a plain (non-matching) term
    evil = "x' THEN 9.9D ELSE 9.9D END -- "
    assert bm25_topk(docs, "id", "text", evil + " stop", k=10).count() == 2


def test_bm25_query_tokenization_parity(spark):
    """VERDICT r7 wart #1: the query string must be tokenized by the SAME
    definition as documents (text.word_tokens_py is the driver twin of
    the word_tokens SQL split) — a punctuated term like "u.s." or
    "don't" must match the identical document token, and any whitespace
    flavor (tabs, runs) must split the same way on both sides."""
    from geomesa_hive_spark.pipeline.retrieval import _query_terms, bm25_topk
    from geomesa_hive_spark.pipeline.text import word_tokens_py

    # the two tokenizers are literally the same function
    assert _query_terms("U.S.  don't\tX") == sorted(
        set(word_tokens_py("u.s.  don't\tx"))
    )

    docs = spark.createDataFrame(
        [(1, "the u.s. economy"), (2, "don't stop"), (3, "plain words")],
        "id long, text string",
    )
    out = {r.id for r in bm25_topk(docs, "id", "text", "u.s.\tdon't", k=10).collect()}
    assert out == {1, 2}


def test_rrf_fuse_combines_rankings(spark):
    """RRF fusion (pipeline/retrieval.py rrf_fuse): doc present in both
    lists at middling ranks beats a doc topping only one list
    (1/(60+2)+1/(60+3) > 1/61); nano-quantized contributions match the
    closed form exactly; sources counts the contributing lists; empty
    input raises."""
    import math

    import pytest as _pytest

    from geomesa_hive_spark.pipeline.retrieval import rrf_fuse

    r1 = spark.createDataFrame(
        [(10, 1), (20, 2), (30, 3)], "id long, rank long"
    )
    r2 = spark.createDataFrame(
        [(40, 1), (20, 2), (30, 4)], "id long, rank long"
    )
    out = rrf_fuse([r1, r2], c=60, k=10).collect()
    got = {r.id: (r.sources, r.rrf_micro) for r in out}

    def nano(rank):
        return math.floor(1e9 / (60 + rank) + 0.5)

    assert got[20] == (2, nano(2) + nano(2))
    assert got[30] == (2, nano(3) + nano(4))
    assert got[10] == (1, nano(1))
    assert got[40] == (1, nano(1))
    order = [r.id for r in out]
    assert order[0] == 20 and order[1] == 30       # dual-source wins
    assert order[2:] == [10, 40]                   # equal scores: id tiebreak
    with _pytest.raises(ValueError):
        rrf_fuse([])


def test_chunk_documents_windows_and_coverage(spark):
    """Overlapping chunker (pipeline/text.py chunk_documents): exact
    window contents at chunk=4/overlap=1, remainder-window semantics,
    one chunk for short docs, full token coverage, and the
    overlap>=chunk guard."""
    import pytest as _pytest

    from geomesa_hive_spark.pipeline.text import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(10))),
            (2, "a b c"),
            (3, "x"),
            (4, " ".join(f"t{i}" for i in range(9))),  # remainder chunk
        ],
        "id long, text string",
    )
    out = chunk_documents(docs, "id", "text", chunk_tokens=4, overlap=1)
    rows = {(r.id, r.chunk_id): (r.n_chunk_tokens, r.chunk_text)
            for r in out.collect()}
    assert rows[(1, 0)] == (4, "w0 w1 w2 w3")
    assert rows[(1, 1)] == (4, "w3 w4 w5 w6")
    assert rows[(1, 2)] == (4, "w6 w7 w8 w9")
    assert len([k for k in rows if k[0] == 1]) == 3
    assert rows[(2, 0)] == (3, "a b c")
    assert rows[(3, 0)] == (1, "x")
    # doc 4: 9 tokens -> chunks at 0,3,6; last is the full-size window
    # ending at t8
    assert rows[(4, 2)] == (3, "t6 t7 t8")
    for did, n in [(1, 10), (4, 9)]:
        covered = set()
        for (d, _c), (_n, t) in rows.items():
            if d == did:
                covered |= set(t.split())
        assert len(covered) == n
    with _pytest.raises(ValueError):
        chunk_documents(docs, "id", "text", chunk_tokens=4, overlap=4)


def test_bm25_index_matches_adhoc_and_prunes(spark, tmp_path):
    """Persistent BM25 index (build_bm25_index/bm25_query_index):
    query-through-index returns BIT-IDENTICAL rows to ad-hoc bm25_topk
    on the same corpus; the query-time postings scan carries a bucket
    PARTITION filter (directory pruning) and reads only the query
    terms' buckets — never the corpus."""
    from geomesa_hive_spark.pipeline.retrieval import (
        bm25_query_index, bm25_topk, build_bm25_index,
    )

    corpus = [
        (1, "spark join vector spark spark"),
        (2, "join the table scan"),
        (3, "vector vector vector join spark"),
        (4, "nothing relevant here at all wow"),
        (5, "spark"),
        (6, "spark"),
        (7, "stream filter stream"),
        (8, "don't stop filter"),
    ]
    docs = spark.createDataFrame(corpus, "id long, text string")
    path = str(tmp_path / "bm25_idx")
    stats = build_bm25_index(docs, "id", "text", path, n_buckets=16)
    assert stats["n_docs"] == 8 and stats["n_buckets"] == 16

    for q in ["spark vector", "stream filter join", "don't stop"]:
        adhoc = [(r.id, r.matched_terms, r.score_micro)
                 for r in bm25_topk(docs, "id", "text", q, k=10).collect()]
        via_idx = [(r.id, r.matched_terms, r.score_micro)
                   for r in bm25_query_index(spark, path, q, k=10).collect()]
        assert via_idx == adhoc, (q, via_idx, adhoc)

    out = bm25_query_index(spark, path, "spark vector", k=10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the postings scan prunes on the bucket partition column
    import re as _re2
    m = _re2.search(r"PartitionFilters: \[[^\n]*bucket", plan)
    assert m, plan
    # absent term: contributes nothing, present terms still score
    got = bm25_query_index(spark, path, "spark zzzmissing", k=10).collect()
    assert {r.id for r in got} == {1, 3, 5, 6}
    import pytest as _pytest
    with _pytest.raises(ValueError):
        bm25_query_index(spark, path, "   ")


def test_bm25_index_append_and_maintain(spark, tmp_path):
    """BM25 index lifecycle: a query BETWEEN appends merges the
    per-batch df rows (sum, not last-row-wins) and is bit-identical to
    ad-hoc bm25_topk over the union corpus; maintain() compacts back
    to one file per bucket and one df row per term with bit-identical
    query results; appended docs' dl/avgdl flow through stats.json."""
    import glob

    from geomesa_hive_spark.pipeline.retrieval import (
        append_to_bm25_index, bm25_query_index, bm25_topk,
        build_bm25_index, maintain_bm25_index,
    )

    first = [
        (1, "spark join vector spark spark"),
        (2, "join the table scan"),
        (3, "vector vector vector join spark"),
        (4, "nothing relevant here at all wow"),
    ]
    second = [
        (5, "spark"),
        (6, "spark stream"),
        (7, "stream filter stream"),
        (8, "filter join vector"),
    ]
    d1 = spark.createDataFrame(first, "id long, text string")
    d2 = spark.createDataFrame(second, "id long, text string")
    union = d1.unionByName(d2)
    path = str(tmp_path / "bm25_life")
    build_bm25_index(d1, "id", "text", path, n_buckets=8)
    stats = append_to_bm25_index(d2, "id", "text", path)
    assert stats["n_docs"] == 8            # stats advanced exactly

    def _q(q):
        return [(r.id, r.matched_terms, r.score_micro)
                for r in bm25_query_index(spark, path, q, k=10).collect()]

    # between appends: df rows merged per term, scores == ad-hoc union
    for q in ["spark vector", "stream filter join"]:
        adhoc = [(r.id, r.matched_terms, r.score_micro)
                 for r in bm25_topk(union, "id", "text", q, k=10).collect()]
        assert _q(q) == adhoc, q
    pre = {q: _q(q) for q in ["spark vector", "stream filter join"]}

    rep = maintain_bm25_index(spark, path)
    for side in ("postings", "terms"):
        assert rep[side]["files_after"] < rep[side]["files_before"], rep
    # exactly one df row per term after compaction
    import pandas as pd
    tdf = pd.concat([
        __import__("pyarrow.parquet", fromlist=["read_table"])
        .read_table(f).to_pandas()
        for f in glob.glob(str(tmp_path / "bm25_life/terms/*/*.parquet"))
    ])
    assert tdf["term"].is_unique
    # bit-identical before/after maintain
    for q, want in pre.items():
        assert _q(q) == want, q


def test_index_delete_lifecycles(spark, tmp_path):
    """Tombstone deletes across the three persisted indexes: queries
    exclude tombstoned ids immediately, maintain() applies them
    physically, and the post-maintain index is indistinguishable from
    one built without the deleted rows. BM25 additionally rebuilds
    exact stats from the docs/ side table — including a ZERO-TOKEN doc
    that has no postings rows but must still count in n_docs until
    deleted. Unknown-id deletes are no-ops."""
    import json

    from pyspark.sql import functions as F

    from geomesa_hive_spark.pipeline.retrieval import (
        bm25_query_index, build_bm25_index, delete_from_bm25_index,
        maintain_bm25_index,
    )

    corpus = [
        (1, "spark join vector spark spark"),
        (2, "join the table scan"),
        (3, "vector vector vector join spark"),
        (4, ""),                              # zero-token doc
        (5, "spark stream filter"),
    ]
    docs = spark.createDataFrame(corpus, "id long, text string")
    pa = str(tmp_path / "a")
    build_bm25_index(docs, "id", "text", pa, n_buckets=8)
    delete_from_bm25_index(
        spark.createDataFrame([(3,), (4,), (99,)], "id long"), "id", pa)
    # pre-maintain: excluded from results, df/stats stale (Lucene)
    got = {r.id for r in bm25_query_index(spark, pa, "spark", k=10)
           .collect()}
    assert 3 not in got and got == {1, 5}
    rep = maintain_bm25_index(spark, pa)
    assert rep["n_tombstones_applied"] == 2  # 99 was unknown
    stats = json.load(open(pa + "/stats.json"))
    assert stats["n_docs"] == 3              # zero-token doc deleted too
    # post-maintain ≡ built without the deleted rows
    pb = str(tmp_path / "b")
    build_bm25_index(docs.filter(~F.col("id").isin(3, 4)), "id", "text",
                     pb, n_buckets=8)
    for q in ("spark vector", "join scan"):
        a = [(r.id, r.score_micro) for r in
             bm25_query_index(spark, pa, q, k=10).collect()]
        b = [(r.id, r.score_micro) for r in
             bm25_query_index(spark, pb, q, k=10).collect()]
        assert a == b, q

    from geomesa_hive_spark.pipeline.dedup import (
        build_minhash_index, delete_from_minhash_index,
        maintain_minhash_index, pairs_against_index,
    )
    texts = [(i, "the quick brown fox jumps over the lazy dog " * 3
              + str(i % 2)) for i in range(10)]
    ddf = spark.createDataFrame(texts, "id long, text string")
    pm = str(tmp_path / "mh")
    build_minhash_index(ddf.filter(F.col("id") < 8), "id", "text", pm,
                        num_perm=32, bands=8, n_buckets=4)
    delete_from_minhash_index(
        spark.createDataFrame([(0,), (2,)], "id long"), "id", pm)
    newb = ddf.filter(F.col("id") >= 8)
    pre = {r.id_a for r in pairs_against_index(
        newb, "id", "text", pm, threshold=0.5).collect()}
    assert pre and not ({0, 2} & pre)
    rep = maintain_minhash_index(spark, pm)
    assert rep["n_tombstones_applied"] == 2
    post = {r.id_a for r in pairs_against_index(
        newb, "id", "text", pm, threshold=0.5).collect()}
    assert post == pre

    import numpy as np

    from geomesa_hive_spark.pipeline.similarity import (
        build_ivf_index, delete_from_ivf_index, knn_query_index,
        maintain_ivf_index,
    )
    rng = np.random.RandomState(0)
    vecs = [(i, [float(x) for x in rng.randn(8)]) for i in range(64)]
    vdf = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    pv = str(tmp_path / "ivf")
    build_ivf_index(vdf, "vec_id", "embedding", pv, n_lists=4)
    delete_from_ivf_index(
        spark.createDataFrame([(i,) for i in range(32, 64)],
                              "vec_id long"), pv)
    qv = vecs[1][1]
    pre = {r.id for r in knn_query_index(spark, pv, qv, k=5,
                                         n_probe=4).collect()}
    assert pre and max(pre) < 32
    rep = maintain_ivf_index(spark, pv)
    assert rep["n_tombstones_applied"] == 32
    post = {r.id for r in knn_query_index(spark, pv, qv, k=5,
                                          n_probe=4).collect()}
    assert post == pre


def test_bm25_and_ivf_upsert_before_maintain(spark, tmp_path):
    """The re-crawl trap the round-10 review caught: delete-then-
    re-append the SAME id before any maintain must serve the NEW
    content (generation-versioned tombstones), and maintain must keep
    it — for BM25 and IVF, matching the minhash behavior."""
    import numpy as np

    from pyspark.sql import functions as F

    from geomesa_hive_spark.pipeline.retrieval import (
        bm25_query_index, build_bm25_index, maintain_bm25_index,
        upsert_into_bm25_index,
    )

    docs = spark.createDataFrame(
        [(1, "apple banana cherry"), (2, "dog elephant fox")],
        "id long, text string")
    pb = str(tmp_path / "bm")
    build_bm25_index(docs, "id", "text", pb, n_buckets=4)
    # re-crawl doc 1: now about dogs — must match 'dog', not 'apple'
    upsert_into_bm25_index(
        spark.createDataFrame([(1, "dog dog dog kennel")],
                              "id long, text string"),
        "id", "text", pb)
    got = {r.id for r in bm25_query_index(spark, pb, "dog", k=10)
           .collect()}
    assert got == {1, 2}                       # new content live
    assert not bm25_query_index(spark, pb, "apple", k=10).collect()
    rep = maintain_bm25_index(spark, pb)
    assert rep["n_tombstones_applied"] == 1
    got2 = {r.id for r in bm25_query_index(spark, pb, "dog", k=10)
            .collect()}
    assert got2 == {1, 2}                      # survived the merge
    import json
    stats = json.load(open(pb + "/stats.json"))
    assert stats["n_docs"] == 2                # exact after maintain

    from geomesa_hive_spark.pipeline.similarity import (
        build_ivf_index, knn_query_index, maintain_ivf_index,
        upsert_into_ivf_index,
    )
    rng = np.random.RandomState(1)
    vecs = [(i, [float(x) for x in rng.randn(8)]) for i in range(16)]
    vdf = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    pv = str(tmp_path / "iv")
    build_ivf_index(vdf, "vec_id", "embedding", pv, n_lists=2)
    # re-embed vector 3 to be exactly vector 7's embedding
    upsert_into_ivf_index(
        spark.createDataFrame([(3, vecs[7][1])],
                              "vec_id long, embedding array<double>"),
        pv)
    top = [r.id for r in knn_query_index(spark, pv, vecs[7][1], k=2,
                                         n_probe=2).collect()]
    assert set(top) == {3, 7}                  # new vector live
    rep = maintain_ivf_index(spark, pv)
    assert rep["n_tombstones_applied"] == 1
    top2 = [r.id for r in knn_query_index(spark, pv, vecs[7][1], k=2,
                                          n_probe=2).collect()]
    assert set(top2) == {3, 7}


def test_minhash_index_upsert_generations(spark, tmp_path):
    """Generation-versioned tombstones: an UPSERT (same id, new
    content) is visible immediately with no maintain between — the old
    signature stops matching, the new one starts; pre/post-maintain
    results identical; a RE-DELETE after a re-append hides the young
    rows too (tombstone max-gen rule)."""
    from pyspark.sql import functions as F

    from geomesa_hive_spark.pipeline.dedup import (
        build_minhash_index, delete_from_minhash_index,
        maintain_minhash_index, pairs_against_index,
        upsert_into_minhash_index,
    )

    base_a = "alpha beta gamma delta epsilon zeta eta theta " * 4
    base_b = "one two three four five six seven eight nine ten " * 4
    corpus = spark.createDataFrame(
        [(1, base_a), (2, base_b)], "id long, text string")
    path = str(tmp_path / "mhu")
    build_minhash_index(corpus, "id", "text", path,
                        num_perm=32, bands=8, n_buckets=4)
    # probe batch: one doc near base_a, one near base_b
    probe = spark.createDataFrame(
        [(10, base_a + " tail"), (11, base_b + " tail")],
        "id long, text string")

    def _pairs():
        return {(r.id_a, r.id_b) for r in pairs_against_index(
            probe, "id", "text", path, threshold=0.5).collect()}

    assert _pairs() == {(1, 10), (2, 11)}
    # re-crawl doc 1: content becomes base_b-like -> must now match 11
    upsert_into_minhash_index(
        spark.createDataFrame([(1, base_b + " rewritten")],
                              "id long, text string"),
        "id", "text", path)
    pre = _pairs()
    assert pre == {(1, 11), (2, 11)}          # old match gone, new live
    rep = maintain_minhash_index(spark, path)
    assert rep["n_tombstones_applied"] == 1
    assert _pairs() == pre                     # physical ≡ logical
    # re-delete AFTER the re-append: the younger rows must hide too
    delete_from_minhash_index(
        spark.createDataFrame([(1,)], "id long"), "id", path)
    assert _pairs() == {(2, 11)}


def test_ivf_assign_strategies_parity(spark):
    """Round-10 verdict item 5: the broadcast pandas-UDF argmin path
    (large n_lists — the folded-literal plan would carry MBs of
    centroid Literal per task) assigns IDENTICAL list ids to the
    folded-literal expression on the same data, including NULL vectors
    (NULL in, NULL out on both paths); the auto threshold picks the
    literal path for small matrices and the broadcast path above
    _ASSIGN_LITERAL_MAX."""
    import numpy as np
    from pyspark.sql import functions as F

    from geomesa_hive_spark.pipeline import similarity as S

    rng = np.random.RandomState(11)
    dim, n_lists, n = 16, 32, 500
    cents = rng.randn(n_lists, dim)
    rows = [(i, rng.randn(dim).tolist()) for i in range(n)]
    rows.append((n, None))  # NULL vector
    df = spark.createDataFrame(rows, "id long, vec array<double>")

    lit = {r.id: r.list_id for r in S.assign_list_ids(
        df, "vec", cents, strategy="literal").collect()}
    bc = {r.id: r.list_id for r in S.assign_list_ids(
        df, "vec", cents, strategy="broadcast").collect()}
    assert lit == bc
    assert lit[n] is None
    assert len(set(lit.values()) - {None}) > 1  # non-degenerate

    # auto: literal below the threshold (no Python in the plan),
    # broadcast above it (a pandas UDF appears)
    small = S.assign_list_ids(df, "vec", cents)  # 32*16 << threshold
    plan_small = small._jdf.queryExecution().optimizedPlan().toString()
    assert "pythonudf" not in plan_small.lower()
    big_cents = rng.randn(4096, 16)  # 65536 > _ASSIGN_LITERAL_MAX
    plan_big = S.assign_list_ids(df, "vec", big_cents)._jdf.queryExecution(
    ).optimizedPlan().toString()
    assert "pythonudf" in plan_big.lower()

    import pytest as _pytest
    with _pytest.raises(ValueError, match="strategy"):
        S.assign_list_ids(df, "vec", cents, strategy="nope")


def test_index_mutations_refuse_legacy_layout(spark, tmp_path):
    """Round-11 ADVICE: every index MUTATION (append/delete/upsert)
    validates generation versioning BEFORE writing anything. A legacy
    (gen-less) layout is refused with the uniform rebuild message, and
    — the mutate-before-validate trap — NO tombstones/ dir is left
    behind by a refused delete/upsert; maintain on a legacy index with
    a (manually planted) pending tombstone log raises the same clear
    ValueError instead of an unresolved-'gen' AnalysisException."""
    import json
    import os

    import pytest
    from pyspark.sql import functions as F

    from geomesa_hive_spark.pipeline import index_io, similarity
    from geomesa_hive_spark.pipeline.dedup import (
        append_to_minhash_index, build_minhash_index,
        delete_from_minhash_index, maintain_minhash_index,
        upsert_into_minhash_index,
    )
    from geomesa_hive_spark.pipeline.retrieval import (
        build_bm25_index, delete_from_bm25_index, upsert_into_bm25_index,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "one two three four")],
        "id long, text string")
    keys = spark.createDataFrame([(1,)], "id long")

    def _strip_gen(meta_file):
        with open(meta_file) as fh:
            m = json.load(fh)
        del m["gen"]
        with open(meta_file, "w") as fh:
            json.dump(m, fh)

    # --- minhash -------------------------------------------------
    mh = str(tmp_path / "mh_legacy")
    build_minhash_index(docs, "id", "text", mh,
                        num_perm=16, bands=4, n_buckets=2)
    _strip_gen(os.path.join(mh, "_index.json"))
    for op in (
        lambda: append_to_minhash_index(docs, "id", "text", mh),
        lambda: delete_from_minhash_index(keys, "id", mh),
        lambda: upsert_into_minhash_index(docs, "id", "text", mh),
    ):
        with pytest.raises(ValueError, match="predates generation"):
            op()
    assert not os.path.isdir(os.path.join(mh, "tombstones"))

    # --- bm25 ----------------------------------------------------
    bm = str(tmp_path / "bm_legacy")
    build_bm25_index(docs, "id", "text", bm, n_buckets=2)
    _strip_gen(os.path.join(bm, "stats.json"))
    for op in (
        lambda: delete_from_bm25_index(keys, "id", bm),
        lambda: upsert_into_bm25_index(docs, "id", "text", bm),
    ):
        with pytest.raises(ValueError, match="predates generation"):
            op()
    assert not os.path.isdir(os.path.join(bm, "tombstones"))

    # --- ivf -----------------------------------------------------
    emb = docs.select(
        "id", F.array(F.rand(7), F.rand(8)).alias("vec"))
    iv = str(tmp_path / "ivf_legacy")
    similarity.build_ivf_index(emb, "id", "vec", iv, n_lists=2)
    _strip_gen(os.path.join(iv, "_index.json"))
    for op in (
        lambda: similarity.append_to_ivf_index(emb, iv),
        lambda: similarity.delete_from_ivf_index(keys, iv),
        lambda: similarity.upsert_into_ivf_index(emb, iv),
    ):
        with pytest.raises(ValueError, match="predates generation"):
            op()
    assert not os.path.isdir(os.path.join(iv, "tombstones"))

    # --- maintain on a legacy index with planted tombstones ------
    # (pre-guard APIs could have left this state behind): must give
    # the rebuild ValueError, not an unresolved-'gen' AnalysisException
    sigs_dir = os.path.join(mh, "sigs")
    legacy_sigs = spark.read.parquet(sigs_dir).drop("gen")
    legacy_sigs.write.mode("overwrite").parquet(sigs_dir + ".legacy")
    index_io.swap_dir(sigs_dir, sigs_dir + ".legacy")
    index_io.write_tombstones(keys, "id", mh, 0)
    with pytest.raises(ValueError, match="predates generation"):
        maintain_minhash_index(spark, mh)


def test_shuffle_shards_deterministic_permutation(spark):
    """shuffle_shards: shard∈[0,n), partition-invariant assignment,
    balanced shards, independent permutations per seed, and a total
    deterministic (shard, pos, id) order."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from geomesa_hive_spark.pipeline.sampling import shuffle_shards

    df = spark.range(4000).withColumnRenamed("id", "doc_id")
    s1 = shuffle_shards(df, "doc_id", 8, seed=1)
    # exhaustive + in-range
    assert s1.count() == 4000
    rng = s1.agg(F.min("shard"), F.max("shard")).collect()[0]
    assert rng[0] == 0 and rng[1] == 7
    # balanced: 4000 rows over 8 shards, each within ±25% of 500
    sizes = {r.shard: r.cnt for r in
             s1.groupBy("shard").agg(F.count("*").alias("cnt")).collect()}
    assert all(375 <= n <= 625 for n in sizes.values()), sizes
    # partition-invariance: same assignment after a hostile repartition
    s2 = shuffle_shards(df.repartition(13), "doc_id", 8, seed=1)
    a = {(r.doc_id, r.shard, r.pos) for r in s1.collect()}
    b = {(r.doc_id, r.shard, r.pos) for r in s2.collect()}
    assert a == b
    # a different seed is a different permutation
    s3 = shuffle_shards(df, "doc_id", 8, seed=2)
    c = {(r.doc_id, r.shard, r.pos) for r in s3.collect()}
    assert a != c
    # pos is (effectively) unique -> (shard, pos, id) is a total order
    assert s1.select("pos").distinct().count() == 4000

    with _pytest.raises(ValueError):
        shuffle_shards(df, "doc_id", 0)


def test_minhash_index_incremental_dedup(spark, tmp_path):
    """Persisted MinHash index: pairs_against_index ≡ cross_corpus_pairs
    on the same split; parameters pinned in _index.json; partition
    pruning reports bounded bucket reads; a near-dup of an indexed doc
    is found, an unrelated doc is not; empty new batch yields empty."""
    from pyspark.sql import functions as F

    from geomesa_hive_spark.pipeline.dedup import (
        build_minhash_index, cross_corpus_pairs, minhash_index_meta,
        pairs_against_index,
    )

    corpus = spark.createDataFrame(
        [(i, f"the quick brown fox jumps over the lazy dog number {i} "
              f"in a long and winding sentence about corpus document {i}")
         for i in range(40)],
        "doc_id LONG, text STRING")
    path = str(tmp_path / "mhidx")
    meta = build_minhash_index(corpus, "doc_id", "text", path,
                               num_perm=64, bands=16, n_buckets=8)
    assert minhash_index_meta(path) == meta

    new = spark.createDataFrame(
        [(1000, "the quick brown fox jumps over the lazy dog number 7 "
                "in a long and winding sentence about corpus document 7"),
         (1001, "totally different material regarding streaming watermarks "
                "and stateful aggregation semantics in spark structured")],
        "doc_id LONG, text STRING")
    rep = {}
    got = pairs_against_index(new, "doc_id", "text", path,
                              threshold=0.5, prune_report=rep)
    rows = got.collect()
    assert any(r.id_a == 7 and r.id_b == 1000 and r.est_jaccard == 1.0
               for r in rows)
    assert not any(r.id_b == 1001 for r in rows)
    assert rep["band_buckets_read"] <= 8 and rep["sig_buckets_read"] <= 8

    exp = sorted(tuple(r) for r in cross_corpus_pairs(
        corpus, new, "doc_id", "text",
        num_perm=64, bands=16, threshold=0.5).collect())
    assert sorted(tuple(r) for r in rows) == exp

    empty = new.filter(F.col("doc_id") < 0)
    assert pairs_against_index(empty, "doc_id", "text", path).count() == 0


def test_minhash_index_append(spark, tmp_path):
    """append_to_minhash_index: after appending batch B, deduping C
    against the index ≡ cross_corpus_pairs(A∪B, C); existing index
    files are untouched (append adds files)."""
    import glob as _glob

    from geomesa_hive_spark.pipeline.dedup import (
        append_to_minhash_index, build_minhash_index, cross_corpus_pairs,
        pairs_against_index,
    )

    def corp(lo, hi, pfx):
        return spark.createDataFrame(
            [(i, f"{pfx} sentence number {i} about the quick brown fox "
                  f"and the lazy dog with plenty of shared filler words")
             for i in range(lo, hi)],
            "doc_id LONG, text STRING")

    a, b = corp(0, 30, "alpha"), corp(100, 120, "alpha")
    path = str(tmp_path / "mhidx2")
    build_minhash_index(a, "doc_id", "text", path,
                        num_perm=64, bands=16, n_buckets=8)
    before = set(_glob.glob(path + "/bands/**/*.parquet", recursive=True))
    append_to_minhash_index(b, "doc_id", "text", path)
    after = set(_glob.glob(path + "/bands/**/*.parquet", recursive=True))
    assert before < after   # strictly adds files, rewrites none

    c = spark.createDataFrame(
        [(500, "alpha sentence number 105 about the quick brown fox "
               "and the lazy dog with plenty of shared filler words")],
        "doc_id LONG, text STRING")
    got = sorted(tuple(r) for r in pairs_against_index(
        c, "doc_id", "text", path, threshold=0.5).collect())
    exp = sorted(tuple(r) for r in cross_corpus_pairs(
        a.unionByName(b), c, "doc_id", "text",
        num_perm=64, bands=16, threshold=0.5).collect())
    assert got == exp and any(r[0] == 105 for r in got)

def test_minhash_index_maintain(spark, tmp_path):
    """maintain_minhash_index: after two appends each bucket holds
    several small files; maintain compacts to ONE file per bucket on
    both sides, and pairs_against_index results are bit-identical
    across the compaction (parameters untouched)."""
    import glob as _glob

    from geomesa_hive_spark.pipeline.dedup import (
        append_to_minhash_index, build_minhash_index,
        maintain_minhash_index, minhash_index_meta, pairs_against_index,
    )

    def corp(lo, hi):
        return spark.createDataFrame(
            [(i, f"alpha sentence number {i} about the quick brown fox "
                  f"and the lazy dog with plenty of shared filler words")
             for i in range(lo, hi)],
            "doc_id LONG, text STRING")

    path = str(tmp_path / "mhidx3")
    build_minhash_index(corp(0, 30), "doc_id", "text", path,
                        num_perm=64, bands=16, n_buckets=8)
    append_to_minhash_index(corp(100, 120), "doc_id", "text", path)
    append_to_minhash_index(corp(200, 215), "doc_id", "text", path)
    meta_before = minhash_index_meta(path)

    q = spark.createDataFrame(
        [(900, "alpha sentence number 105 about the quick brown fox "
               "and the lazy dog with plenty of shared filler words")],
        "doc_id LONG, text STRING")
    pre = sorted(tuple(r) for r in pairs_against_index(
        q, "doc_id", "text", path, threshold=0.5).collect())
    assert any(r[0] == 105 for r in pre)

    n_files = len(_glob.glob(path + "/bands/*/*.parquet"))
    assert n_files > 8                         # append fragmentation
    rep = maintain_minhash_index(spark, path)
    for side in ("bands", "sigs"):
        assert rep[side]["files_after"] <= 8 < rep[side]["files_before"], rep
        assert rep[side]["files_after"] == len(
            _glob.glob(path + f"/{side}/*/*.parquet"))
    assert minhash_index_meta(path) == meta_before

    post = sorted(tuple(r) for r in pairs_against_index(
        q, "doc_id", "text", path, threshold=0.5).collect())
    assert post == pre                         # content-identical


def test_canonicalize_url_rules(spark):
    """canonicalize_url: case, default ports, fragments, tracking
    params, param order, empty path — plus the non-defaults that must
    survive (":8080" kept, path case preserved, non-URL → NULL)."""
    from pyspark.sql import functions as F

    from geomesa_hive_spark.pipeline.text import canonicalize_url

    cases = [
        ("HTTP://Ex.COM:80/A/b?utm_source=x&z=2&a=1#f",
         "http://ex.com/A/b?a=1&z=2"),
        ("https://Ex.com:443", "https://ex.com/"),
        ("http://ex.com:8080/p", "http://ex.com:8080/p"),
        ("https://ex.com/p?ref=feed&gclid=1&fbclid=2&utm_x=3",
         "https://ex.com/p"),
        ("http://ex.com/?b=2&a=1", "http://ex.com/?a=1&b=2"),
        ("ftp://ex.com/x", None),
        ("plain text", None),
        (None, None),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "u string")
    got = [r.c for r in df.select(canonicalize_url("u").alias("c"))
           .collect()]
    assert got == [want for _, want in cases]


def test_knn_join_index_matches_per_query_probes(spark, tmp_path):
    """knn_join_index: the batch join's per-query results equal
    knn_query_index run one query at a time with the same (k, n_probe)
    — same probes, same candidates, same tie-breaks; tombstoned
    vectors are excluded from the join too."""
    import numpy as np

    from pyspark.sql import functions as F

    from geomesa_hive_spark.pipeline.similarity import (
        build_ivf_index, delete_from_ivf_index, knn_join_index,
        knn_query_index,
    )

    rng = np.random.RandomState(3)
    vecs = [(i, [float(x) for x in rng.randn(8)]) for i in range(80)]
    vdf = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    path = str(tmp_path / "ivfj")
    build_ivf_index(vdf, "vec_id", "embedding", path, n_lists=4)
    queries = vdf.filter(F.col("vec_id") < 5)
    out = knn_join_index(queries, "vec_id", "embedding", path,
                         k=3, n_probe=2)
    got = {}
    for r in out.collect():
        got.setdefault(r.qid, []).append((r.id, r.cos_sim))
    for qid, qv in vecs[:5]:
        want = [(r.id, round(r.cos_sim, 6)) for r in knn_query_index(
            spark, path, qv, k=3, n_probe=2).collect()]
        assert sorted(got[qid]) == sorted(want), qid
    # tombstoned vectors drop out of the join immediately
    delete_from_ivf_index(
        spark.createDataFrame([(i,) for i in range(40, 80)],
                              "vec_id long"), path)
    out2 = knn_join_index(queries, "vec_id", "embedding", path,
                          k=3, n_probe=2)
    assert out2.filter(F.col("id") >= 40).count() == 0


def test_select_within_budget(spark):
    """select_within_budget: distributed prefix sum equals the global
    ordered cumsum — boundary doc included at exactly the budget, NULL
    cost refused, bad direction refused, n_ranges larger than the data
    harmless."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from geomesa_hive_spark.pipeline.sampling import select_within_budget

    rows = [(i, (i * 7) % 10, 10 + (i % 5)) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, q long, cost long")
    out = select_within_budget(
        df, "cost", 300, [("q", "desc"), ("id", "asc")], n_ranges=8)
    got = sorted(
        (r["id"], r["__cum"])
        for r in out.selectExpr("id", "`__cum`").collect()
    )
    # reference: single-order cumsum in Python
    ordered = sorted(rows, key=lambda t: (-t[1], t[0]))
    cum, exp = 0, []
    for i, q, c in ordered:
        cum += c
        if cum <= 300:
            exp.append((i, cum))
    assert got == sorted(exp)
    # boundary inclusion: budget exactly at a running total
    b = exp[-1][1]
    out2 = select_within_budget(
        df, "cost", b, [("q", "desc"), ("id", "asc")], n_ranges=200)
    assert out2.count() == len(exp)
    # NULL cost refused
    dfn = spark.createDataFrame(
        [(1, 1, None), (2, 2, 5)], "id long, q long, cost long")
    with _pytest.raises(ValueError, match="NULL"):
        select_within_budget(dfn, "cost", 10, [("q", "desc"), ("id", "asc")])
    with _pytest.raises(ValueError, match="asc|desc"):
        select_within_budget(df, "cost", 10, [("q", "sideways")])


def test_bm25_phrase_adjacency(spark):
    """bm25_phrase_topk: adjacency and order are required (not just
    co-occurrence), phrase at start/end of a doc matches, repeated
    phrases still one candidate row, corpus-level df (Lucene
    semantics), single-token phrases refused."""
    import pytest as _pytest

    from geomesa_hive_spark.pipeline.retrieval import bm25_phrase_topk

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),          # phrase at start
            (2, "x y alpha beta"),            # phrase at end
            (3, "beta alpha zz"),             # wrong order: no match
            (4, "alpha zz beta"),             # not adjacent: no match
            (5, "alpha beta alpha beta"),     # repeated phrase
            (6, "nothing here"),
        ],
        "id long, text string",
    )
    out = bm25_phrase_topk(docs, "id", "text", "alpha beta", k=10)
    ids = {r["id"] for r in out.collect()}
    assert ids == {1, 2, 5}
    with _pytest.raises(ValueError, match="at least 2"):
        bm25_phrase_topk(docs, "id", "text", "alpha", k=5)
    # no candidates -> empty result, no error
    assert bm25_phrase_topk(docs, "id", "text", "gamma alpha", k=5).count() == 0


def test_bm25_positional_index_phrase(spark, tmp_path):
    """Positional BM25 index (round 13): phrase queries answered from
    stored term positions are bit-identical to the scan twin
    bm25_phrase_topk on the same corpus; adjacency/order semantics
    match exactly; the lifecycle keeps positions consistent (append
    visible, delete hidden immediately, maintain compacts positions
    and keeps results identical); phrase against a non-positional
    index refuses loudly; repeated-token phrases work."""
    import pytest as _pytest

    from geomesa_hive_spark.pipeline.retrieval import (
        append_to_bm25_index, bm25_phrase_query_index, bm25_phrase_topk,
        build_bm25_index, delete_from_bm25_index, maintain_bm25_index,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma extra words here"),
            (2, "x y alpha beta"),
            (3, "beta alpha zz"),             # wrong order
            (4, "alpha zz beta"),             # not adjacent
            (5, "alpha beta alpha beta"),     # repeated phrase
            (6, "nothing here at all"),
            (7, "go go again"),               # repeated-token phrase doc
            (8, "go stop go go"),
        ],
        "id long, text string",
    )
    path = str(tmp_path / "bm25pos")
    st = build_bm25_index(docs, "id", "text", path, n_buckets=4,
                          positions=True)
    assert st["positions"] is True

    def key(rows):
        return [(r.id, r.matched_terms, r.score_micro) for r in rows]

    got = key(bm25_phrase_query_index(spark, path, "alpha beta", k=10)
              .collect())
    want = key(bm25_phrase_topk(docs, "id", "text", "alpha beta", k=10)
               .collect())
    assert got == want and {g[0] for g in got} == {1, 2, 5}
    # repeated-token phrase: 'go go' matches 7 (go go) and 8 (go go)
    ids = {r.id for r in
           bm25_phrase_query_index(spark, path, "go go", k=10).collect()}
    assert ids == {7, 8}
    # no candidates -> empty
    assert bm25_phrase_query_index(spark, path, "gamma alpha", k=5)\
        .count() == 0
    with _pytest.raises(ValueError, match="at least 2"):
        bm25_phrase_query_index(spark, path, "alpha", k=5)

    # lifecycle: delete doc 2 -> hidden pre-maintain; maintain compacts
    # positions and results are identical; append a new phrase doc
    delete_from_bm25_index(
        spark.createDataFrame([(2,)], "id long"), "id", path)
    pre = [r.id for r in
           bm25_phrase_query_index(spark, path, "alpha beta", k=10)
           .collect()]
    assert 2 not in pre
    rep = maintain_bm25_index(spark, path)
    assert "positions" in rep and rep["n_tombstones_applied"] == 1
    post = [r.id for r in
            bm25_phrase_query_index(spark, path, "alpha beta", k=10)
            .collect()]
    assert post == pre
    append_to_bm25_index(
        spark.createDataFrame([(9, "fresh alpha beta arrival")],
                              "id long, text string"),
        "id", "text", path)
    ids2 = {r.id for r in
            bm25_phrase_query_index(spark, path, "alpha beta", k=10)
            .collect()}
    assert 9 in ids2 and 2 not in ids2

    # non-positional index refuses phrase queries loudly
    p2 = str(tmp_path / "bm25nopos")
    build_bm25_index(docs, "id", "text", p2, n_buckets=4)
    with _pytest.raises(ValueError, match="positional"):
        bm25_phrase_query_index(spark, p2, "alpha beta", k=5)


def test_knn_index_filtered_semantics(spark, tmp_path):
    """knn_query_index(pre_filter=): top-k among ALLOWED vectors (a
    pre-filter), never a post-filter of the unfiltered top-k; with
    n_probe = n_lists the result equals exact filtered brute force;
    filter-everything returns empty."""
    import numpy as np
    from pyspark.sql import functions as F

    from geomesa_hive_spark.pipeline import similarity as S

    rng = np.random.RandomState(3)
    rows = [(i, rng.randn(8).tolist()) for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id long, vec array<double>")
    path = str(tmp_path / "ivf_filt")
    S.build_ivf_index(emb, "vec_id", "vec", path, n_lists=8)
    qv = rows[0][1]

    # all-lists probe == exact filtered brute force
    got = S.knn_query_index(
        spark, path, qv, k=5, n_probe=8,
        pre_filter=(F.col("vec_id") % 4 == 1),
    ).collect()
    brute = S.knn_brute(
        emb.filter(F.col("vec_id") % 4 == 1), "vec_id", "vec", qv, 5
    ).collect()
    assert [(r[0], round(r[1], 9)) for r in got] == \
           [(r[0], round(r[1], 9)) for r in brute]
    assert all(r[0] % 4 == 1 for r in got)
    # a post-filter of the unfiltered top-5 would keep FEWER than 5
    unfiltered = S.knn_query_index(spark, path, qv, k=5, n_probe=8).collect()
    post = [r for r in unfiltered if r[0] % 4 == 1]
    assert len(post) < len(got)          # pre-filter returns a full k
    # filter-everything: empty, no error
    assert S.knn_query_index(
        spark, path, qv, k=5, n_probe=8, pre_filter="vec_id < 0"
    ).count() == 0


def test_ngram_containment_vs_jaccard(spark):
    """ngram_containment_pairs finds a short doc fully inside a long
    one (containment 1.0) that Jaccard misses at any usable threshold;
    disjoint docs produce nothing; the symmetric near-dup case matches
    both measures."""
    from geomesa_hive_spark.pipeline.dedup import (
        ngram_containment_pairs, ngram_jaccard_pairs,
    )

    long_text = " ".join(f"w{i}" for i in range(60))
    snippet = " ".join(f"w{i}" for i in range(10))   # inside long_text
    near = " ".join(f"w{i}" for i in range(59)) + " zz"
    other = " ".join(f"q{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, long_text), (2, snippet), (3, near), (4, other)],
        "id long, text string")
    cont = {(r.id_a, r.id_b): r.containment
            for r in ngram_containment_pairs(df, "id", "text",
                                             threshold=0.9).collect()}
    assert cont[(1, 2)] == 1.0           # doc-in-doc found
    assert (1, 3) in cont                # near-dup also contained
    assert not any(4 in p for p in cont)
    jac = {(r.id_a, r.id_b) for r in ngram_jaccard_pairs(
        df, "id", "text", threshold=0.5).collect()}
    assert (1, 2) not in jac             # Jaccard structurally misses it
    assert (1, 3) in jac


def test_quantile_sketch_merge_accuracy_and_twin(spark):
    """Fixed-grid quantile sketch (round 12): (1) merged-over-shards
    bucket counts ≡ built-direct — exact (integer sums); (2) every
    estimate lands within one bucket width of the true quantile (the
    grid's error bound, with interpolation usually far inside it);
    (3) the driver-side twin quantile_estimate_py returns the Spark
    estimate BIT-FOR-BIT on the same counts; (4) estimates are
    identical across repartitionings; (5) rank edge cases: q=1
    permille clamps to rank 1, q=1000 hits the max."""
    import numpy as np
    from pyspark.sql import functions as F

    from geomesa_hive_spark.pipeline.sketches import (
        quantile_estimate, quantile_estimate_py,
        quantile_sketch_build, quantile_sketch_merge,
    )

    LO, HI, M = -200.0, 800.0, 200
    rng = np.random.RandomState(11)
    vals = np.concatenate([
        rng.uniform(-200, 300, 15000),      # bulk
        rng.uniform(700, 800, 500),         # sparse tail
    ])
    df = spark.createDataFrame(
        [(int(i), float(v), "g%d" % (i % 2)) for i, v in enumerate(vals)],
        "id long, v double, g string",
    )
    direct = quantile_sketch_build(df, ["g"], "v", LO, HI, M)
    sharded = quantile_sketch_build(
        df.withColumn("s", F.col("id") % 5), ["g", "s"], "v", LO, HI, M)
    merged = quantile_sketch_merge(sharded.drop("s"), ["g"])
    a = sorted((r.g, r.bucket, r.cnt) for r in merged.collect())
    b = sorted((r.g, r.bucket, r.cnt) for r in direct.collect())
    assert a == b                                   # counts identical

    qs = [1, 250, 500, 900, 990, 1000]
    est = quantile_estimate(direct, ["g"], qs, LO, HI, M).collect()
    wb = (HI - LO) / M
    by_g = {}
    for r in est:
        sub = np.sort(vals[np.arange(len(vals)) % 2 == int(r.g[1])])
        n = len(sub)
        rank = max(int(np.floor((r.q_permille * n + 999) / 1000.0)), 1)
        true_v = sub[rank - 1]                      # rank-order stat
        assert abs(r.est - true_v) <= wb + 1e-9, (r, true_v)
        by_g.setdefault(r.g, {})[r.q_permille] = r.est
    # q=1000 must sit at/above the empirical max's bucket floor
    for g in by_g:
        sub = vals[np.arange(len(vals)) % 2 == int(g[1])]
        assert by_g[g][1000] >= sub.max() - wb

    # driver twin: bit-for-bit equal on the same dense counts
    rows = direct.filter(F.col("g") == "g0").collect()
    counts = [0] * M
    for r in rows:
        counts[r.bucket] = r.cnt
    twin = quantile_estimate_py(counts, qs, LO, HI)
    assert twin == by_g["g0"]

    # partition-order independence
    e17 = quantile_estimate(
        quantile_sketch_build(df.repartition(17, "v"), ["g"], "v",
                              LO, HI, M),
        ["g"], qs, LO, HI, M).collect()
    assert sorted((r.g, r.q_permille, r.est) for r in e17) == sorted(
        (r.g, r.q_permille, r.est) for r in est)

    # empty sketch / NULL exclusion / bad grid
    assert quantile_estimate_py([0] * M, qs, LO, HI) == {}
    withnull = df.withColumn(
        "v", F.when(F.col("id") % 2 == 0, F.col("v")))
    n_nonnull = quantile_sketch_build(
        withnull, [], "v", LO, HI, M).agg(F.sum("cnt")).collect()[0][0]
    assert n_nonnull == (len(vals) + 1) // 2
    import pytest as _pytest
    with _pytest.raises(ValueError, match="hi > lo"):
        quantile_sketch_build(df, [], "v", 5.0, 5.0, M)
    # out-of-range permille raises instead of silently dropping rows
    with _pytest.raises(ValueError, match=r"\[1, 1000\]"):
        quantile_estimate(direct, ["g"], [500, 1500], LO, HI, M)
    with _pytest.raises(ValueError, match=r"\[1, 1000\]"):
        quantile_estimate(direct, ["g"], [0], LO, HI, M)
    with _pytest.raises(ValueError, match=r"\[1, 1000\]"):
        quantile_estimate_py(counts, [2000], LO, HI)


def test_ivf_index_sq8_lifecycle_and_filter(spark, tmp_path):
    """SQ8 index (round 12) composed with the full lifecycle: build
    half with sq8=True, APPEND the other half (codes quantize with the
    STORED grid), DELETE some ids, MAINTAIN, then query with
    pre_filter + rerank. Asserts: the coarse scan never reads the
    float column (ReadSchema), appended/maintained rows keep vec_q,
    tombstoned ids never surface, the pre_filter is respected, and the
    exact duplicate of the query ranks first with cos 1.0."""
    import numpy as np
    from pyspark.sql import functions as F

    from geomesa_hive_spark.pipeline import similarity as S

    rng = np.random.RandomState(23)
    vecs = rng.uniform(-1, 1, (400, 16))
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    qv = [float(x) for x in vecs[7]]
    path = str(tmp_path / "sq8idx")
    meta = S.build_ivf_index(
        df.filter(F.col("vec_id") < 200), "vec_id", "embedding", path,
        n_lists=8, sq8=True,
    )
    assert "sq8" in meta and len(meta["sq8"]["scales"]) == 16
    S.append_to_ivf_index(df.filter(F.col("vec_id") >= 200), path)
    lists = spark.read.parquet(path + "/lists")
    assert "vec_q" in lists.columns
    assert lists.filter(F.col("vec_q").isNull()).count() == 0
    # delete the query's duplicate-id itself plus a range
    S.delete_from_ivf_index(
        spark.createDataFrame([(7,), (300,)], "vec_id long"), path)
    rep = {}
    out = S.knn_query_index(
        spark, path, qv, k=5, n_probe=8, prune_report=rep,
        pre_filter=(F.col("vec_id") % 2 == 1), rerank_k=20,
    )
    rows = out.collect()
    assert "vec_q" in rep["coarse_read_schema"]
    assert "embedding" not in rep["coarse_read_schema"]
    ids = [r.id for r in rows]
    assert 7 not in ids and 300 not in ids          # tombstoned
    assert all(i % 2 == 1 for i in ids)             # filter respected
    # maintain applies tombstones physically; vec_q survives the rewrite
    mrep = S.maintain_ivf_index(spark, path)
    assert mrep["n_tombstones_applied"] >= 1
    lists2 = spark.read.parquet(path + "/lists")
    assert "vec_q" in lists2.columns
    assert lists2.filter(F.col("vec_id").isin(7, 300)).count() == 0
    rows2 = S.knn_query_index(
        spark, path, qv, k=5, n_probe=8,
        pre_filter=(F.col("vec_id") % 2 == 1), rerank_k=20,
    ).collect()
    assert [r.id for r in rows2] == ids             # same answer post-maintain
    # un-deleted, unfiltered: the exact duplicate (id 7 was deleted —
    # re-add it via upsert) ranks first at cos 1.0
    S.upsert_into_ivf_index(
        spark.createDataFrame([(7, qv)], "vec_id long, embedding array<double>"),
        path)
    top = S.knn_query_index(spark, path, qv, k=1, n_probe=8,
                            rerank_k=8).collect()
    assert top[0].id == 7 and top[0].cos_sim == 1.0
    # rerank_k validation (round 13): <1 raises; rerank_k < k floors
    # to k so the caller still gets k results
    import pytest as _pytest
    with _pytest.raises(ValueError, match="rerank_k"):
        S.knn_query_index(spark, path, qv, k=5, n_probe=8, rerank_k=0)
    floored = S.knn_query_index(
        spark, path, qv, k=5, n_probe=8, rerank_k=2).collect()
    assert len(floored) == 5


def test_dd_sketch_accuracy_and_merge(spark):
    """DD (relative-error log-bucket) sketch (round 13): (1) merged
    over shards ≡ built-direct exactly; (2) every quantile estimate is
    within the guaranteed relative error e^(step/2e6) − 1 of the true
    rank statistic, across five orders of magnitude, negatives, and
    zeros; (3) side carries the VALUE sign independent of the log
    midpoint's sign; (4) estimates identical across repartitionings;
    (5) invalid permille/step refused."""
    import numpy as np
    import pytest as _pytest
    from pyspark.sql import functions as F

    from geomesa_hive_spark.pipeline.sketches import (
        dd_quantile, dd_sketch_build, dd_sketch_merge,
    )

    rng = np.random.RandomState(3)
    vals = np.concatenate([
        np.exp(rng.uniform(-5, 12, 20000)),     # heavy tail, 1e-2..1e5
        -np.exp(rng.uniform(-3, 8, 5000)),      # negatives
        np.zeros(100),
    ])
    df = spark.createDataFrame(
        [(int(i), float(v), "g%d" % (i % 2)) for i, v in enumerate(vals)],
        "id long, v double, g string",
    )
    STEP = 10_000
    direct = dd_sketch_build(df, ["g"], "v", STEP)
    sharded = dd_sketch_build(
        df.withColumn("s", F.col("id") % 7), ["g", "s"], "v", STEP)
    merged = dd_sketch_merge(sharded.drop("s"), ["g"])
    assert sorted(tuple(r) for r in merged.collect()) \
        == sorted(tuple(r) for r in direct.collect())

    qs = [10, 250, 500, 900, 999]
    bound = float(np.exp(STEP / 2e6)) - 1.0 + 1e-6   # + mnat quantization
    est = dd_quantile(direct, ["g"], qs, STEP).collect()
    assert len(est) == len(qs) * 2
    for r in est:
        sub = np.sort(vals[np.arange(len(vals)) % 2 == int(r.g[1])])
        n = len(sub)
        rank = max(int(np.floor((r.q_permille * n + 999) / 1000.0)), 1)
        true_v = sub[rank - 1]
        if true_v != 0:
            assert abs(r.est - true_v) / abs(true_v) <= bound, (r, true_v)
            assert r.side == (1 if true_v > 0 else -1)
            # mid_mnat is the LOG midpoint: its sign tracks |value| vs
            # 1, NOT the value's sign, and est must equal
            # side·exp(mid_mnat/1e6) exactly — the conflation this
            # property exists to catch
            import math as _math
            assert abs(r.est) == _pytest.approx(
                _math.exp(r.mid_mnat / 1e6), rel=1e-12)
            if abs(true_v) > 1.01:
                assert r.mid_mnat > 0, r
            elif abs(true_v) < 0.99:
                assert r.mid_mnat < 0, r
        else:
            assert r.side == 0 and r.mid_mnat == 0 and r.est == 0.0

    # partition-order independence (integer registers)
    est17 = dd_quantile(
        dd_sketch_build(df.repartition(17, "v"), ["g"], "v", STEP),
        ["g"], qs, STEP).collect()
    assert sorted((r.g, r.q_permille, r.side, r.mid_mnat) for r in est17) \
        == sorted((r.g, r.q_permille, r.side, r.mid_mnat) for r in est)

    with _pytest.raises(ValueError, match=r"\[1, 1000\]"):
        dd_quantile(direct, ["g"], [0], STEP)
    with _pytest.raises(ValueError, match="step"):
        dd_sketch_build(df, ["g"], "v", 0)

    # NaN exclusion (round-14 ADVICE): NaN > 0 is TRUE in Spark SQL, so
    # without the explicit filter a NaN would flow through ln() into an
    # engine-dependent junk bucket — it must be dropped like NULL
    nan_df = spark.createDataFrame(
        [(1, float("nan"), "g0"), (2, 2.5, "g0"), (3, None, "g0")],
        "id long, v double, g string",
    )
    nan_sk = dd_sketch_build(nan_df, ["g"], "v", STEP).collect()
    assert sum(r.cnt for r in nan_sk) == 1


def test_trgm_index_edge_cases(spark, tmp_path):
    """Trigram substring index (round 14): exact vs full scan on an
    adversarial corpus — scattered-trigram false candidates killed by
    the recheck, sub-3-char docs (no postings — unmatchable by any
    >=3-char pattern, which is exact), repeated-trigram patterns,
    case-insensitivity, upsert via delete+append (tombstone hides old
    gens), short patterns refused, legacy meta refused."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from geomesa_hive_spark.pipeline.trgm import (
        append_to_trgm_index, build_trgm_index, delete_from_trgm_index,
        maintain_trgm_index, substring_query_index,
    )

    rows = [
        (1, "the quick brown fox"),
        (2, "THE QUICKEST way"),          # case-insensitive match
        (3, "qu ic k scattered trigrams qui uic ick"),  # all trigrams,
                                                        # not adjacent
        (4, "ab"),                        # shorter than a trigram
        (5, "banana bandana"),            # repeated trigrams
        (6, None),                        # null text
        (7, "unrelated content here"),
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    p = str(tmp_path / "trgm")
    build_trgm_index(df, "id", "t", p, n_buckets=8)

    def q(pat):
        return sorted(r.id for r in
                      substring_query_index(spark, p, pat).collect())

    assert q("quick") == [1, 2]
    assert q("QUICK") == [1, 2]
    # doc 3 has every trigram of 'quic'+'uick' scattered — the
    # posting intersection admits it, the exact recheck must kill it
    assert 3 not in q("quick")
    assert q("banana") == [5]
    assert q("dana ban") == []            # trigrams present, substring not
    assert q("xyz") == []
    with _pytest.raises(ValueError, match="shorter than 3"):
        q("ab")

    # upsert: tombstone + re-append the same id with new content
    delete_from_trgm_index(
        spark.createDataFrame([(1,)], "id long"), "id", p)
    append_to_trgm_index(
        spark.createDataFrame([(1, "now about ships")], "id long, t string"),
        "id", "t", p)
    assert q("quick") == [2]
    assert q("ships") == [1]
    rep = maintain_trgm_index(spark, p)
    assert rep["n_tombstones_applied"] == 1
    assert q("quick") == [2] and q("ships") == [1]

    # legacy (pre-generation) metadata refused loudly
    import json as _json
    import os as _os
    with open(_os.path.join(p, "_index.json")) as fh:
        meta = _json.load(fh)
    del meta["gen"]
    with open(_os.path.join(p, "_index.json"), "w") as fh:
        _json.dump(meta, fh)
    with _pytest.raises(ValueError, match="generation"):
        delete_from_trgm_index(
            spark.createDataFrame([(2,)], "id long"), "id", p)
