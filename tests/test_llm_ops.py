"""Behavioral tests for the LLM-pipeline ops that the oracle can't fully
exercise: dedup survivor selection (corpus has no exact dups), LSH/ANN
recall, SimHash locality, and the multimodal binary round-trip.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hive_hw_spark.queries import all_queries


def test_q90_dedup_survivors(spark, tmp_path):
    """Exact dedup keeps exactly the lowest doc_id per content hash."""
    rows = [
        (1, "alpha beta gamma"),
        (2, "alpha beta gamma"),  # dup of 1
        (3, "delta epsilon zeta"),
        (7, "alpha beta gamma"),  # dup of 1
        (9, "unique text here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from pyspark.sql import Window

    w = Window.partitionBy(F.sha2("text", 256)).orderBy("doc_id")
    survivors = (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id")
    )
    assert sorted(r.doc_id for r in survivors.collect()) == [1, 3, 9]


def test_q91_minhash_finds_planted_neardups(spark, sf_dir):
    """The LSH path finds the corpus's planted near-dup pairs —
    cross-checked against brute-force exact Jaccard computed here."""
    q91 = all_queries()["q91"].fn(spark, sf_dir)
    got = {(r.doc_a, r.doc_b) for r in q91.collect()}

    d = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .withColumn("toks", F.split("text", " "))
        .withColumn(
            "sh",
            F.array_distinct(
                F.expr(
                    "transform(sequence(0, size(toks)-3),"
                    " i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"
                )
            ),
        )
        .select("doc_id", "sh")
    )
    a = d.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = d.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    brute = (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .withColumn(
            "jac",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jac") >= 0.8)
    )
    want = {(r.doc_a, r.doc_b) for r in brute.collect()}
    assert want, "corpus should contain planted near-dups"
    assert got == want


def test_q91_bucket_cap_bounds_hot_bucket(spark):
    """A planted hot bucket (many identical docs sharing every band
    signature) expands to at most cap·(cap−1)/2 pairs instead of
    n·(n−1)/2 — and with a generous cap the full pair set comes back."""
    from hive_hw_spark.queries.llm_ops import minhash_lsh_pairs

    n, cap = 40, 10
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [(i, text) for i in range(n)], "doc_id long, text string"
    )
    d = (
        df.withColumn("toks", F.split("text", " "))
        .withColumn(
            "sh",
            F.expr(
                "array_distinct(transform(sequence(0, size(toks)-3),"
                " i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))"
            ),
        )
        .select("doc_id", "sh")
    )
    capped = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(d, bucket_cap=cap).collect()
    }
    # the cap keeps the lowest doc_ids in every (identical) bucket
    assert capped == {(a, b) for a in range(cap) for b in range(cap) if a < b}
    assert minhash_lsh_pairs(d, bucket_cap=n).count() == n * (n - 1) // 2


def test_q92b_ann_recall(spark, sf_dir):
    """LSH-bucketed ANN recovers ≥90% of the exact top-10 (Hamming≤3
    multiprobe over 8 planes — wide radius because this corpus's
    neighbor cosines sit near 0.5, the noisiest regime for sign bits)."""
    exact = [r.vec_id for r in all_queries()["q92"].fn(spark, sf_dir).collect()]
    approx = [r.vec_id for r in all_queries()["q92b"].fn(spark, sf_dir).collect()]
    recall = len(set(exact) & set(approx)) / len(exact)
    assert recall >= 0.9, f"recall@10 = {recall}"


def test_q92c_ivf_recall(spark, sf_dir):
    """IVF-bucketed ANN (16 centroids, probe 8) recovers ≥90% of the
    exact top-10."""
    exact = [r.vec_id for r in all_queries()["q92"].fn(spark, sf_dir).collect()]
    approx = [r.vec_id for r in all_queries()["q92c"].fn(spark, sf_dir).collect()]
    recall = len(set(exact) & set(approx)) / len(exact)
    assert recall >= 0.9, f"recall@10 = {recall}"


def test_q92d_pq_recall(spark, sf_dir):
    """PQ+ADC with exact top-100 re-rank recovers ≥90% of the exact
    top-10."""
    exact = [r.vec_id for r in all_queries()["q92"].fn(spark, sf_dir).collect()]
    approx = [r.vec_id for r in all_queries()["q92d"].fn(spark, sf_dir).collect()]
    recall = len(set(exact) & set(approx)) / len(exact)
    assert recall >= 0.9, f"recall@10 = {recall}"


def test_pq_index_packs_valid_deterministic_codes(spark, sf_dir):
    """The Spark-side encode matches an independent numpy re-encode from
    the returned codebooks nibble for nibble, and rebuilding the index
    reproduces identical codebooks and codes (no RNG anywhere)."""
    import numpy as np

    from hive_hw_spark.catalog import load_table
    from hive_hw_spark import session_cache
    from hive_hw_spark.queries.llm_ops import pq_index

    e = load_table(spark, sf_dir, "embeddings")
    enc1, books1 = pq_index(e)
    rows = enc1.select("vec_id", "u", "pq").collect()
    assert len(rows) == e.count()
    m_sub, k_codes, ds = books1.shape
    assert (m_sub, k_codes, ds) == (16, 16, 64 // 16)
    for r in rows:
        u = np.array(r.u, dtype=np.float64)
        for m in range(m_sub):
            sub = u[m * ds : (m + 1) * ds]
            want = int(((books1[m] - sub) ** 2).sum(axis=1).argmin())
            got = (r.pq >> (4 * m)) & 15
            assert got == want, (r.vec_id, m, got, want)
    # drop the codebook memo so training genuinely re-runs, then compare
    for k in [k for k in session_cache._MEMO if k[0] == "pq_codebooks"]:
        del session_cache._MEMO[k]
    enc2, books2 = pq_index(e)
    assert np.array_equal(books1, books2)
    codes1 = {r.vec_id: r.pq for r in rows}
    codes2 = {r.vec_id: r.pq for r in enc2.select("vec_id", "pq").collect()}
    assert codes1 == codes2


def test_ivf_index_partitions_corpus(spark):
    """The IVF index assigns every vector to exactly one of the K
    inverted lists, and near-identical vectors land in the same list."""
    from hive_hw_spark.queries.llm_ops import ivf_index

    rows = []
    vid = 0
    for c in range(4):  # 4 tight clusters of 5 vectors
        base = [float(((i * 11 + c * 17) % 13) - 6) for i in range(16)]
        for k in range(5):
            v = list(base)
            v[k % 16] += 0.01
            rows.append((vid, v))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned, cents = ivf_index(df, n_centroids=4, lloyd_iters=2)
    got = assigned.select("vec_id", "cid").collect()
    assert len(got) == 20
    by_cluster = {}
    for r in got:
        by_cluster.setdefault(r.vec_id // 5, set()).add(r.cid)
    # every tight cluster maps into a single inverted list
    assert all(len(cids) == 1 for cids in by_cluster.values()), by_cluster


def test_q111_cms_never_undercounts_and_bounds_error(spark, sf_dir):
    """Count-min estimates are >= the exact counts (structural CMS
    guarantee) and within eps*N of them (eps = e/1024) on this corpus."""
    import math

    rows = all_queries()["q111"].fn(spark, sf_dir).collect()
    assert len(rows) == 20
    total = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .filter(F.col("w") != "")
        .count()
    )
    eps = math.e / 1024
    for r in rows:
        assert r.n_est >= r.n_exact, (r.word, r.n_est, r.n_exact)
        assert r.n_est - r.n_exact <= eps * total, (r.word, r.n_est, r.n_exact)


def test_q97_simhash_locality(spark):
    """Identical texts → identical simhash; a one-word edit flips only a
    few of the 64 bits; unrelated text is far."""
    rows = [
        (0, "the quick brown fox jumps over the lazy dog near the river bank"),
        (1, "the quick brown fox jumps over the lazy dog near the river bend"),
        (2, "the quick brown fox jumps over the lazy dog near the river bank"),
        (3, "completely different words about spark shuffles and parquet files"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "toks", F.split("text", " ")
    )
    simhash = F.expr(
        "aggregate(sequence(0, 63), 0L, (acc, b) -> IF("
        " aggregate(toks, 0L,"
        "  (vote, w) -> vote + IF(((xxhash64(w) >> b) & 1) = 1, 1L, -1L))"
        " >= 0, acc | shiftleft(1L, b), acc))"
    )
    s = {r.doc_id: r.sh for r in df.select("doc_id", simhash.alias("sh")).collect()}
    ham = lambda a, b: bin((a ^ b) & (2**64 - 1)).count("1")  # noqa: E731
    assert s[0] == s[2]
    assert ham(s[0], s[1]) <= 16
    assert ham(s[0], s[3]) > ham(s[0], s[1])


def test_q102_embedding_neardup_synthetic(spark):
    """Cosine near-dup flags the planted near-identical vector pair and
    nothing else."""
    base = [float(i % 7 - 3) for i in range(16)]
    near = list(base)
    near[0] += 0.01  # tiny perturbation → cosine ≈ 1
    ortho = [float((i * 31) % 11 - 5) for i in range(16)]
    df = spark.createDataFrame(
        [(0, base), (1, near), (2, ortho)], "vec_id long, embedding array<double>"
    )
    dot = (
        "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"
    )
    a = df.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("va"))
    b = df.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("vb"))
    pairs = (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn(
            "cos",
            F.expr(dot.format(a="va", b="vb"))
            / (
                F.sqrt(F.expr(dot.format(a="va", b="va")))
                * F.sqrt(F.expr(dot.format(a="vb", b="vb")))
            ),
        )
        .filter(F.col("cos") >= 0.95)
    )
    assert [(r.vec_a, r.vec_b) for r in pairs.collect()] == [(0, 1)]


def test_q96_multimodal_roundtrip(spark, sf_dir, tmp_path):
    """BinaryType payload + metadata struct survives a parquet round-trip
    and flows through a (stubbed) mapInPandas decode with a real schema."""
    d = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .limit(50)
        .withColumn("payload", F.col("text").cast("binary"))
        .withColumn(
            "meta",
            F.struct(
                F.lit("text/plain").alias("mime"),
                F.length(F.col("payload")).alias("n_bytes"),
                F.lit(0).alias("width"),
                F.lit(0).alias("height"),
            ),
        )
        .select("doc_id", "payload", "meta")
    )
    out = str(tmp_path / "mm.parquet")
    d.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    assert dict(back.dtypes)["payload"] == "binary"
    assert back.count() == 50
    joined = back.alias("b").join(d.alias("o"), "doc_id")
    assert (
        joined.filter(
            (F.col("b.payload") != F.col("o.payload"))
            | (F.col("b.meta.n_bytes") != F.col("o.meta.n_bytes"))
        ).count()
        == 0
    )

    # Stubbed decode: real Arrow-batched plumbing, deterministic fake body.
    # A real pipeline swaps the body for PIL/ffmpeg; the schema, batch
    # iteration, and partition behavior are exactly what production uses.
    def fake_decode(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["decoded_len"] = pdf["payload"].map(len)
            yield pdf[["doc_id", "decoded_len"]]

    decoded = back.mapInPandas(
        fake_decode, schema="doc_id long, decoded_len long"
    )
    row = decoded.orderBy("doc_id").first()
    orig = d.orderBy("doc_id").first()
    assert row.decoded_len == orig.meta.n_bytes


def test_q104_pii_scrub_real_pii(spark):
    """The redaction regexes catch actual PII-shaped strings (the corpus
    oracle is vacuous on synthetic lowercase words)."""
    import pyspark.sql.functions as F

    email = r"[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}"
    phone = r"\b[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}\b"
    rows = [
        (0, "contact me at jane.doe@example.com for details"),
        (1, "call 555-867-5309 or 555.123.4567 today"),
        (2, "no pii in this row at all"),
        (3, "mixed: bob@site.org and 123-456-7890 together"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.scrubbed
        for r in df.select(
            "doc_id",
            F.regexp_replace(
                F.regexp_replace("text", email, "[EMAIL]"), phone, "[PHONE]"
            ).alias("scrubbed"),
        ).collect()
    }
    assert got[0] == "contact me at [EMAIL] for details"
    assert got[1] == "call [PHONE] or [PHONE] today"
    assert got[2] == "no pii in this row at all"
    assert got[3] == "mixed: [EMAIL] and [PHONE] together"


def test_q102b_bucketed_neardup_matches_bruteforce(spark):
    """On planted near-dup clusters, the bucketed candidate path finds
    exactly the pairs brute force finds at threshold 0.9."""
    from hive_hw_spark.queries.llm_ops import _DOT, cosine_neardup_bucketed

    rows = []
    vid = 0
    for c in range(5):  # 5 clusters of 3 near-identical vectors
        base = [float(((i * 7 + c * 13) % 19) - 9) for i in range(32)]
        for k in range(3):
            v = list(base)
            v[k] += 0.02  # tiny perturbation: intra-cluster cos ≈ 1
            rows.append((vid, v))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    got = {
        (r.vec_a, r.vec_b)
        for r in cosine_neardup_bucketed(df, 0.9).collect()
    }

    a = df.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("va"))
    b = df.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("vb"))
    cos = (
        F.expr(_DOT.format(a="va", b="vb"))
        / (
            F.sqrt(F.expr(_DOT.format(a="va", b="va")))
            * F.sqrt(F.expr(_DOT.format(a="vb", b="vb")))
        )
    )
    want = {
        (r.vec_a, r.vec_b)
        for r in a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos", cos)
        .filter(F.col("cos") >= 0.9)
        .collect()
    }
    assert want, "clusters must produce near-dup pairs"
    assert got == want


def test_q115_flags_repetitive_doc(spark, tmp_path):
    """A degenerate all-one-word doc scores distinct_ratio 1/n and
    top fractions 1.0; a all-distinct doc scores distinct_ratio 1.0 —
    the thresholds a repetition filter would cut on."""
    rows = [
        (0, "spam spam spam spam spam spam spam spam spam spam", "en", "a", 49),
        (1, "one two three four five six seven eight nine ten", "en", "a", 48),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.doc_id: r
        for r in all_queries()["q115"].fn(spark, str(tmp_path)).collect()
    }
    assert got[0].n_tokens == 10
    assert got[0].distinct_ratio == 0.1
    assert got[0].top_word_frac == 1.0
    assert got[0].top_bigram_frac == 1.0
    assert got[1].distinct_ratio == 1.0
    assert got[1].top_word_frac == 0.1
    assert round(got[1].top_bigram_frac, 4) == round(1 / 9, 4)


def test_q116_finds_planted_contamination(spark, tmp_path):
    """Two sources sharing one 5-gram produce exactly one matrix cell
    with n_shared=1; an unrelated source appears in no pair."""
    shared = "alpha beta gamma delta epsilon"
    rows = [
        (0, f"intro words {shared} trailing bits here", "en", "a", 60),
        (1, f"other leading {shared} and more stuff", "en", "b", 60),
        (2, "totally unrelated text with no overlap at all present", "en", "c", 55),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = all_queries()["q116"].fn(spark, str(tmp_path)).collect()
    assert [(r.src_a, r.src_b, r.n_shared) for r in got] == [("a", "b", 1)]


def test_q117_drops_only_contaminated_docs(spark, tmp_path):
    """A training doc sharing a 5-gram with the eval source is dropped;
    clean training docs survive; eval docs never appear."""
    shared = "alpha beta gamma delta epsilon"
    rows = [
        (0, f"benchmark prompt {shared} question answer", "en", "src0", 60),
        (1, f"training doc with {shared} inside it okay", "en", "src1", 60),
        (2, "completely clean training document nothing shared here at all", "en", "src1", 60),
        (3, "another clean one with its own different words entirely", "en", "src2", 55),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = [(r.doc_id, r.source) for r in all_queries()["q117"].fn(spark, str(tmp_path)).collect()]
    assert got == [(2, "src1"), (3, "src2")]


def test_neardup_components_chain_and_singletons(spark):
    """Min-label propagation resolves a 5-node chain (diameter > 1 round),
    a 2-node component, and singletons — cluster_id = component min."""
    from hive_hw_spark.queries.llm_ops import neardup_components

    docs = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    # chain 0-1-2-3-4 (forces multiple propagation rounds), pair 7-9;
    # 5, 6, 8 are singletons. Edges deliberately given high-id-first.
    pairs = spark.createDataFrame(
        [(4, 3), (3, 2), (2, 1), (1, 0), (9, 7)], "doc_a long, doc_b long"
    )
    got = {
        r.doc_id: r.cluster_id for r in neardup_components(docs, pairs).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 5: 5, 6: 6, 7: 7, 8: 8, 9: 7}


def test_q119_boundary_packing_invariant(spark, sf_dir):
    """Every doc lands in the bin its running-token start falls in:
    for each seq k in a bucket, floor(tokens-before-seq-k / 2048) == k;
    no docs are lost and packing is non-vacuous (some bucket splits)."""
    out = all_queries()["q119"].fn(spark, sf_dir).toPandas()
    assert out.doc_id.is_unique
    assert (out.groupby("bucket").seq_id.max() > 0).any(), "vacuous: no bucket ever split"
    for bucket, g in out.groupby("bucket"):
        sums = g.groupby("seq_id").n_tok.sum().sort_index()
        before = 0
        for k, s in sums.items():
            assert before // 2048 == k, (
                f"bucket {bucket} seq {k}: tokens-before {before}"
            )
            before += s


def test_q120_flattens_lang_mixture(spark, sf_dir):
    """The smallest language survives whole; larger ones downsample, so
    the output mixture is flatter than the input."""
    docs = all_queries()["q120"].fn(spark, sf_dir).toPandas()
    full = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .groupBy("lang").count().toPandas().set_index("lang")["count"]
    )
    out = docs.groupby("lang").size()
    assert set(out.index) == set(full.index), "a language vanished"
    smallest = full.idxmin()
    assert out[smallest] == full[smallest], "smallest lang must be kept whole"
    assert out[full.idxmax()] < full[full.idxmax()], "largest lang not downsampled"
    assert out.max() / out.min() < full.max() / full.min()


def test_q121_drops_about_a_quartile_per_lang(spark, sf_dir):
    """Non-vacuity: each language loses roughly its bottom token-count
    quartile (P25 threshold => ~70-80% survive), never everything."""
    full = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .groupBy("lang").count().toPandas().set_index("lang")["count"]
    )
    out = all_queries()["q121"].fn(spark, sf_dir).toPandas().groupby("lang").size()
    for lang, n in full.items():
        frac = out.get(lang, 0) / n
        assert 0.6 <= frac < 1.0, f"{lang}: kept {frac:.2f}"


def test_q122_pipeline_every_stage_bites(spark, sf_dir):
    """The composed pipeline is non-vacuous end to end: eval docs are
    gone, contaminated docs are gone, each lang lost its short-doc tail,
    the mixture is flatter than the corpus, and packing split bins."""
    out = all_queries()["q122"].fn(spark, sf_dir).toPandas()
    full = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .groupBy("lang").count().toPandas().set_index("lang")["count"]
    )
    assert "src0" not in set(out.source), "eval source must be excluded"
    assert 0 < len(out) < int(full.sum())
    by_lang = out.groupby("lang").size()
    assert set(by_lang.index) == set(full.index)
    assert by_lang.max() / by_lang.min() < full.max() / full.min()
    assert (out.groupby("bucket").seq_id.max() > 0).any(), "no bin ever split"
    # decontamination actually bit: q117's clean set is a strict superset
    clean = set(
        r.doc_id for r in all_queries()["q117"].fn(spark, sf_dir).collect()
    )
    assert set(out.doc_id) <= clean
    assert len(clean) < 475  # 500 - 25 eval docs - at least one contaminated


def test_cms_sketch_merges_across_shards(spark, sf_dir):
    """Count-min counters are a MERGEABLE summary: sketches built on
    disjoint corpus shards, summed cell-wise, equal the whole-corpus
    sketch exactly — the algebra that lets 1000 executors (or daily
    streaming increments) each sketch locally and combine by addition."""
    from pyspark.sql import functions as F

    from hive_hw_spark.queries.llm_ops import cms_counters

    tok = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            "doc_id",
            F.explode(F.split(F.lower("text"), " ")).alias("word"),
        )
        .filter(F.col("word") != "")
    )
    whole = cms_counters(tok.select("word"))
    shard_a = cms_counters(tok.filter("doc_id % 2 = 0").select("word"))
    shard_b = cms_counters(tok.filter("doc_id % 2 = 1").select("word"))
    merged = (
        shard_a.unionByName(shard_b)
        .groupBy("j", "b")
        .agg(F.sum("c").alias("c"))
    )
    assert merged.exceptAll(whole).count() == 0
    assert whole.exceptAll(merged).count() == 0
    assert whole.count() > 0


def test_knn_join_tiled_matches_single_block(spark, sf_dir):
    """q123's distributed block nested-loop is exact regardless of
    tiling: forcing block_rows far below the corpus size (500 vectors ->
    8 blocks, 64 block-pair tasks) reproduces the single-block result
    row for row, and the plan collects nothing to the driver."""
    from hive_hw_spark.catalog import load_table
    from hive_hw_spark.queries.llm_ops import knn_join

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    one = [
        (r.vec_id, r.nbr, r.cos)
        for r in knn_join(e, k=3, block_rows=10**9).collect()
    ]
    tiled = [
        (r.vec_id, r.nbr, r.cos)
        for r in knn_join(e, k=3, block_rows=64).collect()
    ]
    assert len(one) == len(tiled) == 3 * e.count()
    assert one == tiled


def test_q102_threshold_pairs_multiblock_equals_singleblock(spark, sf_dir):
    """q102's block nested-loop must find the IDENTICAL pair set when
    forced to split the corpus across many blocks (the 100 TB path) as
    when one block holds everything — block boundaries may not lose or
    duplicate pairs (same-block half-mask vs cross-block min/max emit)."""
    from hive_hw_spark.catalog import load_table
    from hive_hw_spark.queries.llm_ops import threshold_pairs

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    multi = set(
        map(tuple, threshold_pairs(e, 0.4, block_rows=100)
            .select("vec_a", "vec_b").collect())
    )
    single = set(
        map(tuple, threshold_pairs(e, 0.4)
            .select("vec_a", "vec_b").collect())
    )
    assert multi == single and len(single) > 0


def test_release_session_caches_empties_every_cache():
    """Releasing the session caches must unpersist every managed frame,
    forget every plan memo and driver-side memo, and clear Spark's
    cache, whatever the entries hold."""
    from types import SimpleNamespace

    from hive_hw_spark import session_cache as sc

    class FakeFrame:
        def __init__(self):
            self.released = False

        def unpersist(self, *a):
            self.released = True

    cleared = []
    fake_spark = SimpleNamespace(
        catalog=SimpleNamespace(clearCache=lambda: cleared.append(True))
    )
    saved = [dict(sc._FRAMES), dict(sc._PLANS), dict(sc._MEMO)]
    f1, f2 = FakeFrame(), FakeFrame()
    try:
        sc._FRAMES.clear()
        sc._PLANS.clear()
        sc._FRAMES[("a", "pk1")] = sc._Entry(("a", "pk1"), "a@pk1", f1)
        sc._FRAMES[("b", None)] = sc._Entry(("b", None), "b@none", f2)
        sc._PLANS[("q1", "d")] = ("sess", "frame", frozenset())
        sc._MEMO[("m", ("pk1",), ())] = ("sess", "v")
        sc.release_session_caches(fake_spark)
        assert sc._FRAMES == {} and sc._PLANS == {} and sc._MEMO == {}
        assert f1.released and f2.released and cleared == [True]
    finally:
        sc._FRAMES.clear()
        sc._FRAMES.update(saved[0])
        sc._PLANS.clear()
        sc._PLANS.update(saved[1])
        sc._MEMO.clear()
        sc._MEMO.update(saved[2])


@pytest.fixture
def empty_memo(monkeypatch):
    """The session cache with an empty driver-side memo of its own, so a
    test neither reads nor disturbs the suite's memoized results."""
    from hive_hw_spark import session_cache

    monkeypatch.setattr(session_cache, "_MEMO", {})
    return session_cache


def _counting_build(log):
    def build():
        log.append(1)
        return len(log)

    return build


def test_memo_builds_once_per_frames_and_params(spark, empty_memo):
    builds = []
    build = _counting_build(builds)
    first = empty_memo.memo("t", [spark.range(5)], (1,), build)
    assert empty_memo.memo("t", [spark.range(5)], (1,), build) == first
    assert len(builds) == 1
    empty_memo.memo("t", [spark.range(5)], (2,), build)
    empty_memo.memo("t", [spark.range(6)], (1,), build)
    assert len(builds) == 3


def test_memo_builds_again_in_a_new_session(spark, empty_memo):
    builds = []
    build = _counting_build(builds)
    empty_memo.memo("t", [spark.range(5)], (), build)
    other = spark.newSession()
    empty_memo.memo("t", [other.range(5)], (), build)
    assert len(builds) == 2
    # the first session's value can never hit again, so it was dropped
    assert [v[0] for v in empty_memo._MEMO.values()] == [other]


def test_release_session_caches_empties_the_memo(
    spark, empty_memo, monkeypatch
):
    from collections import OrderedDict
    from types import SimpleNamespace

    monkeypatch.setattr(empty_memo, "_FRAMES", OrderedDict())
    monkeypatch.setattr(empty_memo, "_PLANS", {})
    fake_spark = SimpleNamespace(catalog=SimpleNamespace(clearCache=lambda: None))
    builds = []
    empty_memo.memo("t", [spark.range(5)], (), _counting_build(builds))
    empty_memo.release_session_caches(fake_spark)
    assert empty_memo._MEMO == {}
    empty_memo.memo("t", [spark.range(5)], (), _counting_build(builds))
    assert len(builds) == 2


def test_memo_never_caches_a_frame_without_plan_key(
    spark, empty_memo, monkeypatch
):
    monkeypatch.setattr(empty_memo, "plan_key", lambda df: None)
    builds = []
    for _ in range(2):
        empty_memo.memo("t", [spark.range(5)], (), _counting_build(builds))
    assert len(builds) == 2 and empty_memo._MEMO == {}


def _copy_documents(sf_dir, dst) -> str:
    """A second dataset directory holding a copy of ``documents``."""
    import shutil

    shutil.copy(os.path.join(sf_dir, "documents.parquet"), dst)
    return str(dst)


def _doc_lengths(spark, sf_dir):
    from hive_hw_spark.catalog import load_table

    return load_table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("n")
    )


def test_plan_key_stable_across_persist(spark, sf_dir):
    """A frame's plan key must not change once the frame is persisted:
    a persisted plan's optimized form swaps its scan for the cached
    relation, so a key built from ``df.inputFiles()`` loses its files
    and the first re-request of every persisted plan built it again."""
    from hive_hw_spark.queries.llm_ops import _plan_key

    df = _doc_lengths(spark, sf_dir)
    before = _plan_key(df)
    df.persist()
    try:
        df.count()
        assert before is not None
        assert _plan_key(df) == before
        assert _plan_key(_doc_lengths(spark, sf_dir)) == before
    finally:
        df.unpersist()


def test_plan_key_tells_dataset_dirs_apart(spark, sf_dir, tmp_path):
    """The same query shape over two directories gets two keys, also
    when both frames are persisted (where the files used to vanish from
    the key and the two collided)."""
    from hive_hw_spark.queries.llm_ops import _plan_key

    other = _copy_documents(sf_dir, tmp_path)
    frames = [_doc_lengths(spark, d) for d in (sf_dir, other)]
    for df in frames:
        df.persist()
        df.count()
    try:
        keys = [_plan_key(_doc_lengths(spark, d)) for d in (sf_dir, other)]
        assert None not in keys and keys[0] != keys[1]
    finally:
        for df in frames:
            df.unpersist()


def test_plan_cached_query_reads_its_cache_on_every_revisit(
    spark, sf_dir, tmp_path
):
    """q427 is plan-cached over a persisted BM25 frame. Alternated
    between two datasets, each revisit must still plan an
    InMemoryTableScan: a dataset's build must not release the frame
    the other dataset's memoized plan reads."""
    q427 = all_queries()["q427"].fn
    other = _copy_documents(sf_dir, tmp_path)
    for _ in range(3):
        for d in (sf_dir, other):
            df = q427(spark, d)
            df.write.format("noop").mode("overwrite").save()
            # a fresh plan sees the cache as it is now
            plan = df.select("*")._jdf.queryExecution().executedPlan()
            assert "InMemoryTableScan" in plan.toString(), d


def test_session_cache_evicts_lru_entry_and_reruns_its_plan(spark, monkeypatch):
    """Over the byte budget, the least recently used entry is
    unpersisted, and the plan memo that read it runs its fn again
    instead of returning a plan over the released frame."""
    from hive_hw_spark import session_cache as sc

    calls = []

    @sc.plan_cache
    def _lru_probe(spark, tag):
        calls.append(tag)
        base = spark.range(10).withColumn("tag", F.lit(tag))
        return sc.managed_persist("test_lru", base).select("id")

    try:
        _lru_probe(spark, "a").write.format("noop").mode("overwrite").save()
        (key_a,) = [k for k in sc._FRAMES if k[0] == "test_lru"]
        # the real readers: a materialized entry has a size, the budget
        # comes from the block manager's storage pool
        assert sc._entry_sizes(spark)[key_a] > 0
        assert sc._budget(spark) > 0

        monkeypatch.setattr(sc, "_budget", lambda spark: 100)
        monkeypatch.setattr(
            sc,
            "_entry_sizes",
            lambda spark: {k: 80 for k in sc._FRAMES if k[0] == "test_lru"},
        )
        _lru_probe(spark, "b")
        assert len([k for k in sc._FRAMES if k[0] == "test_lru"]) == 2
        frame_a = sc._FRAMES[key_a].frame
        # a hit makes "a" the most recently used, so "b" goes first
        _lru_probe(spark, "a")
        assert calls == ["a", "b"]
        (key_b,) = [k for k in sc._FRAMES if k[0] == "test_lru" and k != key_a]
        frame_b = sc._FRAMES[key_b].frame
        _lru_probe(spark, "c")
        assert key_b not in sc._FRAMES and key_a in sc._FRAMES
        assert not frame_b.is_cached and frame_a.is_cached
        _lru_probe(spark, "b")
        assert calls == ["a", "b", "c", "b"]
        # rebuilding "b" went over the budget again: "a" was now the
        # least recently used, "c" stays live and its memo still hits
        assert key_a not in sc._FRAMES
        _lru_probe(spark, "c")
        assert calls == ["a", "b", "c", "b"]
    finally:
        for k, e in list(sc._FRAMES.items()):
            if k[0] == "test_lru":
                sc._release(e)
        for k in [k for k in sc._PLANS if k[0] == "_lru_probe"]:
            del sc._PLANS[k]


def test_ann_frontier_monotonicity(spark, sf_dir):
    """The three ANN frontier audits must be monotone in their knob:
    widening the search (more probes / larger radius / deeper shortlist)
    can only add candidates, so avg_recall and avg_scanned are
    non-decreasing — a violated monotonicity means the candidate set is
    not actually nested (a banding/ranking bug the hash-parity oracle
    could only catch if DuckDB made the identical mistake)."""
    from hive_hw_spark.queries import all_queries

    reg = all_queries()
    for name, knob in (("q384", "nprobe"), ("q443", "radius"),
                       ("q444", "rerank_depth")):
        rows = reg[name].fn(spark, sf_dir).orderBy(knob).collect()
        assert len(rows) >= 2, name
        recalls = [r["avg_recall"] for r in rows]
        scanned = [r["avg_scanned"] for r in rows]
        # q443's per-radius averages are computed over the queries that
        # HAVE same-bucket candidates at that radius (sc drives perq), so
        # a panel query absent at a small radius changes the denominator:
        # monotonicity is only guaranteed between settings with the SAME
        # query set. Compare consecutive pairs with equal n_queries; on
        # current testdata every pair qualifies, but a driver testdata
        # regeneration may legitimately drop a query from radius 0.
        nq = [r["n_queries"] if "n_queries" in r.__fields__ else None
              for r in rows]
        for i in range(1, len(rows)):
            if nq[i] is None or nq[i] == nq[i - 1]:
                assert recalls[i] >= recalls[i - 1], (name, recalls, nq)
                assert scanned[i] >= scanned[i - 1], (name, scanned, nq)
        assert all(0.0 <= v <= 1.0 for v in recalls + scanned), name
        # the widest setting must achieve meaningful recall on this
        # corpus, else the audit is vacuous
        assert recalls[-1] >= 0.5, (name, recalls)
