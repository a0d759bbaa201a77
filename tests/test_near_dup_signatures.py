"""dedup_near_dup_signatures: native MinHash banding against spark.ml.

The operator computes spark.ml's MinHashLSH hashes itself (seeded
coefficients replicated from java.util.Random) and pairs candidates with
one self-join on (table, value). The spark.ml implementation it replaced
(MinHashLSH.fit + approxSimilarityJoin, explode/groupBy SimHash) is kept
here as the reference, and the rows must match it exactly, scores
included."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from service_level_reporting_spark.operators import dedup as D
from service_level_reporting_spark.tables import load_tables

from .conftest import SF_DIR_001

SF_DIR_0_1 = os.path.join(os.path.dirname(SF_DIR_001), "sf0.1")


# --- the replaced spark.ml implementation (reference) ----------------------

def _reference_simhash(d):
    """SimHash as map-reduce: explode (doc, token hash, bit), vote per
    (doc_id, bit), then sum the positive bits per doc."""
    toks = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok"))
    bits = toks.select(
        "doc_id", F.xxhash64("tok").alias("h"),
        F.explode(F.sequence(F.lit(0), F.lit(62))).alias("bit"))
    votes = bits.groupBy("doc_id", "bit").agg(
        F.sum(F.when(F.expr("(shiftright(h, bit) & 1) = 1"), 1).otherwise(-1))
        .alias("vote"))
    return votes.groupBy("doc_id").agg(
        F.sum(F.when(F.col("vote") > 0,
                     F.expr("shiftleft(CAST(1 AS BIGINT), bit)"))
              .otherwise(F.lit(0))).alias("simhash"))


def _reference_near_dup(d):
    """Returns (pairs frame, frames it persisted)."""
    from pyspark import StorageLevel
    from pyspark.ml.feature import HashingTF, MinHashLSH, NGram, Tokenizer

    groups = D._text_groups(d).persist(StorageLevel.MEMORY_AND_DISK)
    reps = D._rep_docs(d).persist(StorageLevel.MEMORY_AND_DISK)
    tokens = Tokenizer(inputCol="text", outputCol="tokens").transform(reps)
    grams = NGram(n=3, inputCol="tokens", outputCol="grams").transform(tokens)
    tf = (HashingTF(inputCol="grams", outputCol="features",
                    numFeatures=1 << 18, binary=True)
          .transform(grams).where(F.size("grams") > 0)
          .select("doc_id", "h", "features")
          .persist(StorageLevel.MEMORY_AND_DISK))
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8,
                     seed=42).fit(tf)
    pairs = lsh.approxSimilarityJoin(tf, tf, 1.0 - D.JACCARD_THRESHOLD,
                                     distCol="jaccard_dist")
    rep_pairs = (
        pairs.where(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(F.col("datasetA.h").alias("h_a"),
                F.col("datasetB.h").alias("h_b"),
                F.round(1.0 - F.col("jaccard_dist"), 6).alias("score"))
    )
    ma = groups.select(F.col("h").alias("h_a"), F.col("doc_id").alias("m_a"))
    mb = groups.select(F.col("h").alias("h_b"), F.col("doc_id").alias("m_b"))
    cross = (
        rep_pairs.join(ma, "h_a").join(mb, "h_b")
        .select(F.lit("minhash").alias("method"),
                F.least("m_a", "m_b").alias("doc_a"),
                F.greatest("m_a", "m_b").alias("doc_b"), "score")
    )
    x = groups.alias("x")
    y = groups.alias("y")
    intra = (
        x.join(y, "h")
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .join(tf.select("h"), "h", "left_semi")
        .select(F.lit("minhash").alias("method"),
                F.col("x.doc_id").alias("doc_a"),
                F.col("y.doc_id").alias("doc_b"),
                F.lit(1.0).alias("score"))
    )
    rep_sigs = _reference_simhash(reps.select("doc_id", "text"))
    member_sigs = (
        groups.join(reps.select(F.col("doc_id").alias("rep_id"), "h"), "h")
        .join(rep_sigs.withColumnRenamed("doc_id", "rep_id"), "rep_id")
        .select("doc_id", "simhash")
    )
    a = member_sigs.select(F.col("doc_id").alias("doc_a"), "simhash")
    b = member_sigs.select(F.col("doc_id").alias("doc_b"), "simhash")
    simhash = (
        a.join(b, "simhash")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select(F.lit("simhash").alias("method"), "doc_a", "doc_b",
                F.lit(1.0).alias("score"))
    )
    out = (cross.unionByName(intra).unionByName(simhash)
           .orderBy("method", "doc_a", "doc_b"))
    return out, (groups, reps, tf)


def _reference_rows(d):
    out, persisted = _reference_near_dup(d)
    try:
        return out.schema, [tuple(r) for r in out.collect()]
    finally:
        for f in persisted:
            f.unpersist()


def _rows(spark, docs, monkeypatch):
    monkeypatch.setattr(D, "_docs", lambda s, d: docs)
    out = D.dedup_near_dup_signatures(spark, "unused")
    return out.schema, [tuple(r) for r in out.collect()]


def _assert_same_as_reference(spark, docs, monkeypatch):
    schema, rows = _rows(spark, docs, monkeypatch)
    ref_schema, ref_rows = _reference_rows(docs)
    assert [(f.name, f.dataType) for f in schema] == \
        [(f.name, f.dataType) for f in ref_schema]
    assert rows == ref_rows          # same order: sorted on (method, a, b)
    return rows


# --- rows identical to the spark.ml operator --------------------------------

def test_rows_match_spark_ml_on_sf0_001(spark, monkeypatch):
    docs = load_tables(spark, SF_DIR_001, ("documents",))["documents"]
    rows = _assert_same_as_reference(spark, docs, monkeypatch)
    assert len(rows) == 407
    assert {r[0] for r in rows} == {"minhash", "simhash"}
    assert any(0.0 < r[3] < 1.0 for r in rows)   # estimated scores, not just 1.0


BASE = ("the quick brown fox jumps over the lazy dog while the rain "
        "in spain stays mainly in the plain")
SYNTHETIC = [
    (1, BASE), (2, BASE), (3, BASE),                # clone group of 3
    (4, BASE + " tonight"),                         # near dup of the group
    (5, BASE.replace("lazy", "lazy  ")),            # double space
    (6, BASE + " "),                                # trailing space
    (7, BASE.upper()),                              # same 3-grams, new hash
    (8, "x"), (9, "x y"), (10, "x y"),              # 1-2 tokens, clones
    (11, "y x"),                                    # SimHash of "x y", no gram
    (12, ""), (13, ""),                             # empty strings
    (14, "completely unrelated words about shuffles and catalyst rules"),
    (15, "Completely unrelated words about shuffles and catalyst rules!"),
    (16, "p q r s t u v"), (17, "p q r s t u"),     # Jaccard exactly 4/5
]


def test_rows_match_spark_ml_on_synthetic_corpus(spark, monkeypatch):
    docs = spark.createDataFrame(SYNTHETIC, "doc_id long, text string")
    rows = _assert_same_as_reference(spark, docs, monkeypatch)
    pairs = {(m, a, b): s for m, a, b, s in rows}
    assert pairs[("minhash", 1, 3)] == 1.0           # clone pair
    assert pairs[("minhash", 1, 7)] == 1.0           # case folds to same set
    assert ("minhash", 9, 10) not in pairs           # no 3-gram, no MinHash
    assert pairs[("simhash", 9, 11)] == 1.0          # token set, not order
    assert pairs[("simhash", 12, 13)] == 1.0         # empty-string clones
    assert ("minhash", 16, 17) not in pairs          # distance < 0.2 is strict


def test_null_text_has_no_signature(spark, monkeypatch):
    """The spark.ml Tokenizer fails on a null text; the operator drops
    null texts, so they pair with nothing and change no other pair."""
    docs = spark.createDataFrame(SYNTHETIC, "doc_id long, text string")
    with_null = docs.unionByName(spark.createDataFrame(
        [(18, None), (19, None)], "doc_id long, text string"))
    assert _rows(spark, with_null, monkeypatch) == \
        _rows(spark, docs, monkeypatch)


@pytest.mark.slow
@pytest.mark.skipif(not os.path.isdir(SF_DIR_0_1), reason="no sf0.1 fixture")
def test_rows_match_spark_ml_on_sf0_1(spark, monkeypatch):
    docs = load_tables(spark, SF_DIR_0_1, ("documents",))["documents"]
    assert len(_assert_same_as_reference(spark, docs, monkeypatch)) == 36576


# --- the replicated hash parameters -----------------------------------------

def test_minhash_values_match_minhash_lsh(spark):
    """MINHASH_COEFFS are MinHashLSH(numHashTables=8, seed=42)'s: the SQL
    hashes (and a plain-Python evaluation of the coefficients) equal the
    fitted model's on sparse vectors, both ends of the index range
    included."""
    from pyspark.ml.feature import MinHashLSH
    from pyspark.ml.linalg import Vectors, VectorUDT
    from pyspark.sql.types import (ArrayType, IntegerType, StructField,
                                   StructType)

    n = D.HASHING_TF_FEATURES
    index_sets = [[0], [n - 1], [0, n - 1], [0, 1, 2, 3], [17, 4096, 99999],
                  list(range(0, n, 4099)), [n - 3, n - 2, n - 1]]
    df = spark.createDataFrame(
        [(i, Vectors.sparse(n, s, [1.0] * len(s)), s)
         for i, s in enumerate(index_sets)],
        StructType([StructField("id", IntegerType()),
                    StructField("features", VectorUDT()),
                    StructField("idx", ArrayType(IntegerType()))]))
    model = MinHashLSH(inputCol="features", outputCol="hashes",
                       numHashTables=8, seed=42).fit(df)
    got = model.transform(df).select(
        "id", "hashes", F.expr(D.MINHASH_SQL).alias("mh")).collect()
    assert len(D.MINHASH_COEFFS) == 8
    for r in sorted(got):
        ml = [v[0] for v in r["hashes"]]
        assert r["mh"] == ml
        idx = index_sets[r["id"]]
        assert [min(((1 + i) * a + b) % D.MINHASH_PRIME for i in idx)
                for a, b in D.MINHASH_COEFFS] == ml


def test_java_random_replica(spark):
    """The replica draws what the JVM's java.util.Random draws."""
    for seed, bound in ((42, D.MINHASH_PRIME - 1), (7, 10), (-5, 3 << 29)):
        jr = spark.sparkContext._jvm.java.util.Random(seed)
        assert D._java_random_ints(seed, bound, 200) == \
            [jr.nextInt(bound) for _ in range(200)]


# --- SimHash projection ------------------------------------------------------

def test_simhash_projection_matches_map_reduce_form(spark):
    docs = load_tables(spark, SF_DIR_001, ("documents",))["documents"]
    got = {(r["doc_id"], r["simhash"]) for r in
           D.simhash_signatures(docs).where("simhash IS NOT NULL")
           .select("doc_id", "simhash").collect()}
    ref = {(r["doc_id"], r["simhash"])
           for r in _reference_simhash(docs).collect()}
    assert got == ref and len(got) > 0


# --- resources: no leaked cache, bounded job count ---------------------------

def test_repeated_calls_leave_no_cached_data(spark):
    sc = spark.sparkContext
    before = sc._jsc.getPersistentRDDs().size()
    for _ in range(3):
        D.dedup_near_dup_signatures(spark, SF_DIR_001).collect()
    assert sc._jsc.getPersistentRDDs().size() == before


def test_job_count_bound(spark):
    """One call is a handful of jobs (footer read, the grouping and band
    shuffles, the sort's sample and shuffle, the result). The spark.ml
    plan ran 32: LSH fit, per-consumer re-evaluation, cache fills."""
    sc = spark.sparkContext
    group = "near-dup-job-count"
    sc.setJobGroup(group, "dedup_near_dup_signatures on sf0.001")
    try:
        D.dedup_near_dup_signatures(spark, SF_DIR_001).collect()
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setJobGroup(None, None)
    assert 0 < len(jobs) <= 12, f"{len(jobs)} jobs"
