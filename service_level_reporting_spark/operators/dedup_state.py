"""Incremental TEXT-dedup state (r10, VERDICT #3) — the text analog of
the ANN index's CDF consumer (similarity.ivf_index_sync).

Problem: the corpus dedup state (exact content hashes, MinHash/LSH band
buckets) was rebuilt per run — dedup_ngram_jaccard re-shingles the whole
corpus every time. At crawl scale a daily increment is ~0.1% of the
corpus; re-scanning 100 TB to admit 100 GB is the wrong asymptotic.

Design: the per-doc signature STATE is itself a txlog table (the engine
eats its own lakehouse) keyed by doc_id:

    doc_id long, h string (sha2-256 of text),
    mh array<bigint>   (MH_K minhashes over 3-word shingles),
    bands array<bigint> (MH_BANDS banded LSH keys; NULL for docs with
                         no shingles — <3 tokens — which participate in
                         exact dedup only)

- ``build_dedup_state`` scans the corpus snapshot once and records the
  folded-through corpus version with ``txlog.write_sync`` (the same
  watermark the ANN index and the row-id replica use).
- ``dedup_state_sync`` reads the corpus CHANGE FEED since the watermark
  (net=True), computes signatures for the DELTA ONLY, and applies them
  in one atomic merge-on-read commit (a DV mask of every changed doc
  plus the delta's signatures). Cost is O(delta): no corpus rescan, no
  state rescan beyond the mask's key-range pruning.
- ``dedup_pairs_from_state`` / ``dedup_labels_from_state`` are pure
  functions of the state: exact pairs join on ``h``; near-dup candidates
  come from the band-bucket equi-join (never all-pairs) verified by the
  signature-estimated Jaccard (matching minhash fraction >= the shared
  JACCARD_THRESHOLD); labels are dedup.propagate_min_labels over the
  union of both edge sets (the fixpoint dedup.cluster_labels runs).

fold == rebuild holds EXACTLY: signatures are deterministic functions
of text, so an incrementally-folded state equals the from-scratch state
row-for-row, and decisions (pairs, labels) are deterministic functions
of state — pinned by tests/test_dedup_state.py on planted
append/delete/update increments and by the ``_dedup_state`` driver leg.

100 TB posture: signature computation is a wordcount-shaped single pass
over the DELTA (explode shingles -> per-doc min-agg, combiner-friendly);
the state merge prunes by the state table's key stats; band buckets
shuffle 8-byte keys. Clone groups (identical texts) share identical
signatures and would inflate a band bucket by the clone count — the
candidate join therefore runs on one representative per content hash
and expands pairs through the clone map, the same rep trick
dedup_ngram_jaccard uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from service_level_reporting_spark.operators.dedup import (
    JACCARD_THRESHOLD, _shingle_index, propagate_min_labels)
from service_level_reporting_spark.sources.txlog import (
    TxLogTable, read_sync, write_sync)

MH_K = 32          # minhash functions
MH_BANDS = 8       # LSH bands (width MH_K / MH_BANDS = 4)


def _sig_schema_frame(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [], "doc_id long, h string, mh array<bigint>, bands array<bigint>")


def signatures(docs: DataFrame) -> DataFrame:
    """Deterministic per-doc dedup signatures — one wordcount-shaped
    pass: distinct 3-word shingle hashes explode once, each of the MH_K
    minhashes is a min-agg over xxhash64(shingle, k) (combiner-friendly,
    map-side partial), bands hash 4 consecutive minhashes together.
    Docs with no shingles (<3 tokens) carry NULL mh/bands and join
    exact-dedup only."""
    sh = _shingle_index(docs.select("doc_id", "text"))
    mins = sh.groupBy("doc_id").agg(
        *[F.min(F.xxhash64(F.col("sh"), F.lit(k))).alias(f"m{k}")
          for k in range(MH_K)])
    mh = F.array(*[F.col(f"m{k}") for k in range(MH_K)])
    bands = F.array(*[
        F.xxhash64(*[F.col(f"m{b * (MH_K // MH_BANDS) + j}")
                     for j in range(MH_K // MH_BANDS)], F.lit(10_000 + b))
        for b in range(MH_BANDS)])
    has = F.col("m0").isNotNull()     # no shingles -> truly NULL arrays
    return (docs.select("doc_id", F.sha2(F.col("text"), 256).alias("h"))
            .join(mins, "doc_id", "left")
            .select("doc_id", "h", F.when(has, mh).alias("mh"),
                    F.when(has, bands).alias("bands")))


def _open_state(state_path: str) -> TxLogTable:
    return TxLogTable(state_path, key_cols=["doc_id"], stats_col="h")


def build_dedup_state(spark: SparkSession, corpus_path: str,
                      state_path: str) -> dict:
    """Full (re)build: one corpus scan -> signatures -> state overwrite;
    watermark = the corpus version the state reflects."""
    t = TxLogTable.open(corpus_path)
    cur = t.latest_version()
    snap = t.read(spark)
    # r11: RANGE-cluster the state by doc_id — signatures() leaves the
    # frame hash-partitioned on doc_id (its groupBy shuffle), which
    # scatters every id range across every file and defeats the fold's
    # per-file key pruning (delete_keys' r11 keys_refine). Clustered,
    # a delta that touches head+tail masks 2 files, not 32.
    sigs = signatures(snap).repartitionByRange(F.col("doc_id"))
    n = sigs.count()
    _open_state(state_path).overwrite(sigs)
    write_sync(state_path, {"version": cur})
    return {"mode": "rebuild", "version": cur, "signed": n}


def dedup_state_sync(spark: SparkSession, corpus_path: str,
                     state_path: str) -> dict:
    """Fold the corpus change feed since the watermark into the state —
    O(delta): signatures for changed docs only, applied in ONE atomic
    state commit. Idempotent: a second call at the same corpus version
    is a no-op; a replayed fold after a crash re-masks and re-appends
    the same signatures (converging by doc_id).

    The fold is ``delete_keys(changed_ids, append_df=new_sigs)`` (r11 —
    the BENCH_DEDUP_SYNC finding): a DV mask of every changed doc plus
    the delta's signature file in one commit, write volume O(delta)
    regardless of where the changed ids sit. A copy-on-write MERGE INTO
    fold of a delta touching head+tail of the id space prunes nothing
    and rewrites the WHOLE state (measured at 50k docs / 2.5% delta: it
    wrote the same bytes as a full rebuild and took 2.4x longer)."""
    t = TxLogTable.open(corpus_path)
    meta = read_sync(state_path)
    last, cur = int(meta["version"]), t.latest_version()
    if cur <= last:
        return {"mode": "noop", "version": last, "signed": 0,
                "deleted": 0}
    ch = t.changes(spark, last, cur, net=True)
    ins = (ch.where(F.col("_change_type") == "insert")
           .select("doc_id", "text"))
    dels = (ch.where(F.col("_change_type") == "delete")
            .select("doc_id").distinct())
    sigs = signatures(ins).localCheckpoint(eager=True)
    n_ins = sigs.count()
    # an UPDATE arrives as delete+insert of the same doc_id in the net
    # feed — the insert side wins (upsert); only keys with NO insert
    # are true removals
    pure_dels = (dels.join(sigs.select("doc_id"), "doc_id", "left_anti")
                 .localCheckpoint(eager=True))
    n_del = pure_dels.count()
    if n_ins or n_del:
        changed = sigs.select("doc_id").unionByName(pure_dels).distinct()
        _open_state(state_path).delete_keys(
            changed, append_df=sigs if n_ins else None)
    write_sync(state_path, {"version": cur})
    return {"mode": "fold", "version": cur, "signed": n_ins,
            "deleted": n_del}


def dedup_pairs_from_state(spark: SparkSession,
                           state_path: str) -> DataFrame:
    """(method, doc_a, doc_b, score) — exact pairs (same content hash,
    score 1.0) and minhash near-dup pairs (band-bucket candidates among
    content-hash REPRESENTATIVES, verified by estimated Jaccard >=
    JACCARD_THRESHOLD, expanded through the clone map). Deterministic
    function of the state — fold == rebuild."""
    s = _open_state(state_path).read(spark).localCheckpoint(eager=True)

    exact = (s.alias("x").join(s.alias("y"), "h")
             .where(F.col("x.doc_id") < F.col("y.doc_id"))
             .select(F.lit("exact").alias("method"),
                     F.col("x.doc_id").alias("doc_a"),
                     F.col("y.doc_id").alias("doc_b"),
                     F.lit(1.0).alias("score")))

    # one representative per content hash: clone groups share identical
    # signatures, so banding over members would inflate every bucket by
    # the clone count for zero information
    reps = (s.where(F.col("bands").isNotNull())
            .groupBy("h").agg(F.min("doc_id").alias("doc_id"),
                              F.first("mh").alias("mh"),
                              F.first("bands").alias("bands")))
    buckets = reps.select(
        "doc_id", F.posexplode("bands").alias("band_i", "band_h"))
    cand = (buckets.alias("a").join(buckets.alias("b"),
                                    ["band_i", "band_h"])
            .where(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("rep_a"),
                    F.col("b.doc_id").alias("rep_b")).distinct())
    ra = reps.select(F.col("doc_id").alias("rep_a"),
                     F.col("mh").alias("mh_a"), F.col("h").alias("h_a"))
    rb = reps.select(F.col("doc_id").alias("rep_b"),
                     F.col("mh").alias("mh_b"), F.col("h").alias("h_b"))
    est = (F.aggregate(
        F.zip_with("mh_a", "mh_b",
                   lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0), lambda acc, v: acc + v) / F.lit(MH_K))
    rep_pairs = (cand.join(ra, "rep_a").join(rb, "rep_b")
                 .select("h_a", "h_b", F.round(est, 6).alias("score"))
                 .where(F.col("score") >= JACCARD_THRESHOLD))
    ma = s.select(F.col("h").alias("h_a"), F.col("doc_id").alias("m_a"))
    mb = s.select(F.col("h").alias("h_b"), F.col("doc_id").alias("m_b"))
    near = (rep_pairs.join(ma, "h_a").join(mb, "h_b")
            .select(F.lit("minhash").alias("method"),
                    F.least("m_a", "m_b").alias("doc_a"),
                    F.greatest("m_a", "m_b").alias("doc_b"), "score"))
    return exact.unionByName(near)


def dedup_labels_from_state(spark: SparkSession,
                            state_path: str) -> DataFrame:
    """(doc_id, label) — connected components over exact ∪ near edges,
    by dedup.propagate_min_labels (near-dup components are shallow,
    rounds stay single digits)."""
    s = _open_state(state_path).read(spark)
    pairs = dedup_pairs_from_state(spark, state_path)
    edges = (pairs.select(F.col("doc_a").alias("a"),
                          F.col("doc_b").alias("b"))
             .unionByName(pairs.select(F.col("doc_b").alias("a"),
                                       F.col("doc_a").alias("b")))
             .distinct().localCheckpoint(eager=True))
    return propagate_min_labels(
        s.select("doc_id", F.col("doc_id").alias("label")), edges)
