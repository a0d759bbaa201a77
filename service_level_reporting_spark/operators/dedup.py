"""Deduplication operators over the `documents` corpus (SURVEY.md §2.8).

Origin N: not in the reference (SLR has no document processing) — mandated by
the north star's LLM-data-pipeline requirement (BASELINE.json:6). Five dedup
families: exact, hash-key, n-gram Jaccard, MinHash+LSH, SimHash, plus
embedding-cosine near-dup (in similarity.py).

Scale notes (100 TB):
* exact dedup groups by a 256-bit content hash, never by the raw text —
  the shuffle moves 32-byte keys, not documents.
* n-gram Jaccard self-joins on 3-word shingles: shingles are near-unique, so
  the join fan-out is ~linear in corpus size (candidate pairs only where
  shingles collide), unlike an O(n²) text cross-join.
* MinHash/LSH banding turns near-dup detection into an equi-join on the
  band key (table, minhash) — the standard sublinear candidate generation
  at corpus scale; exact Jaccard then filters the candidates.
* SimHash reduces each doc to one 63-bit signature; here exact-signature
  equality is the join key (a one-band table in the same self-join).
* Both signatures are projections over one row per distinct text; the
  grouping that builds those rows is the near-dup operator's only shuffle
  before the band join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from service_level_reporting_spark.registry import register
from service_level_reporting_spark.tables import load_tables

# cluster_labels fixpoint memo — see its docstring. Keyed by applicationId
# (stable per JVM app) + source fingerprint (path + max mtime: an in-place
# testdata regen invalidates the entry instead of serving stale labels —
# ADVICE r2); stale same-path entries are evicted and unpersisted on
# replacement so checkpoint blocks don't pin executor memory forever.
_LABELS_MEMO: dict[tuple, DataFrame] = {}


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir, ("documents",))["documents"]


# ---------------------------------------------------------------------------
# D1 — exact duplicates: per-group counts AND corpus totals in ONE rollup
# pass (round-2 consolidation of dedup_exact_stats + dedup_exact_groups).
# ROLLUP(md5(text)) yields the per-hash groups plus the grand-total row
# (text_hash='ALL'), where n_copies = corpus size and n_distinct_texts =
# distinct docs — the same one-pass subtotal trick the report rollup uses.
# (documents fixture plants 8 dup groups at sf0.1 — FIXTURES.md §A)
# ---------------------------------------------------------------------------

@register(
    "dedup_exact",
    oracle="""
    SELECT coalesce(text_hash, 'ALL') AS text_hash, n_copies,
           n_distinct_texts, keeper_doc_id
    FROM (
        SELECT md5(text) AS text_hash,
               count(*) AS n_copies,
               count(DISTINCT text) AS n_distinct_texts,
               min(doc_id) AS keeper_doc_id,
               GROUPING(md5(text)) AS g
        FROM documents
        GROUP BY ROLLUP(md5(text))
    )
    WHERE n_copies > 1 OR g = 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group by content hash, not raw text: at 100 TB the shuffle key is
    16/32 bytes instead of whole documents; `keeper_doc_id = min(doc_id)`
    is the canonical survivor a dedup pass would keep. The grand-total row
    carries corpus size + distinct-count (dup rows = difference).

    Plan note (r13): ONE scan. The per-hash aggregate runs once (partial/
    final shuffle on 16-byte keys), then a ROLLUP over the already-reduced
    group rows derives both the per-hash output and the grand-total row —
    at the total grouping level sum(n)=corpus size and count(*)=distinct
    texts. The r2..r12 spelling unioned two branches, and since Catalyst
    does not share common subtrees across a Union, the documents scan +
    md5 + group shuffle all ran TWICE (plans/r13/dedup_exact_before.txt:
    2 scans, 3 exchanges -> 1 scan, 2 exchanges, the second over group
    rows only). ROLLUP's Expand here doubles GROUP rows, not document
    rows — the r2 note about "ROLLUP + countDistinct 3x slower" was about
    expanding the raw corpus; that path stays dead."""
    d = _docs(spark, sf_dir)
    groups = (
        d.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.count(F.lit(1)).alias("_n"),
             F.min("doc_id").alias("_keeper"))
    )
    return (
        groups.rollup("text_hash")
        .agg(F.sum("_n").alias("n_copies"),
             F.count(F.lit(1)).alias("n_distinct_texts"),
             F.min("_keeper").alias("keeper_doc_id"),
             F.grouping("text_hash").alias("_g"))
        .where((F.col("n_copies") > 1) | (F.col("_g") == 1))
        .select(F.coalesce("text_hash", F.lit("ALL")).alias("text_hash"),
                "n_copies", "n_distinct_texts", "keeper_doc_id")
    )


# ---------------------------------------------------------------------------
# D2a — n-gram (3-word shingle) Jaccard similarity, exact.
# Candidate pairs come only from shingle collisions (equi-join), then exact
# Jaccard = |A∩B| / (|A|+|B|-|A∩B|) filters at the threshold.
#
# Clone-corpus scaling: every signature stage (shingling, the shingle
# self-join, SimHash, MinHash banding) runs on ONE REPRESENTATIVE per
# distinct text — identical texts have identical shingle sets, so computing
# them per copy is pure waste, and a clone group of k copies would otherwise
# contribute k² candidate rows to the self-join. The pair OUTPUT is still
# quadratic in clone-group size (that is the contract of a pair list — a
# corpus where it hurts should consume dedup_clusters instead, whose edge
# list is star-shaped and linear), but the output expansion is a cheap
# equi-join on the text hash, not a shingle-index blowup.
# ---------------------------------------------------------------------------

JACCARD_THRESHOLD = 0.8


def _text_groups(d: DataFrame) -> DataFrame:
    """(h, doc_id) — content-hash group membership, the clone map."""
    return d.select(F.md5("text").alias("h"), "doc_id")


def _rep_docs(d: DataFrame) -> DataFrame:
    """One representative doc per distinct text (min doc_id — the same
    keeper dedup_exact elects). The partial aggregate collapses clones
    map-side, so the shuffle moves one copy of each distinct text, not the
    whole corpus."""
    return (
        d.select(F.md5("text").alias("h"), "doc_id", "text")
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"), F.first("text").alias("text"))
    )


def _shingle_index(docs: DataFrame, width: int = 3) -> DataFrame:
    """Distinct (doc_id, shingle-hash) pairs of `width`-word shingles.

    Guard: for docs with <3 tokens Spark's sequence(1, 0) is DESCENDING
    [1, 0] (default step -1 when start > stop) and slice(words, 0, 3)
    throws INVALID_PARAMETER_VALUE.START. DuckDB's generate_series(1, 0)
    is empty, so the engines would diverge — emit no shingles instead.

    Shingles are joined/deduped by their 64-bit hash, not the string: the
    distinct and the self-join then shuffle 8-byte keys instead of ~40-byte
    strings (measured ~2x at sf0.1; the win grows with shingle width).
    Collision risk at 10^9 distinct shingles ~ 3e-2 pairs — the standard
    trade every shingle-based dedup makes."""
    words = F.split("text", " ")
    shingle_ix = F.when(
        F.size(words) >= width, F.sequence(F.lit(1), F.size(words) - (width - 1))
    ).otherwise(F.expr("CAST(array() AS ARRAY<INT>)"))
    return (
        docs.select(
            "doc_id",
            F.explode(
                F.transform(shingle_ix,
                            lambda i: F.concat_ws(" ", F.slice(words, i, width)))
            ).alias("sh"),
        )
        .select("doc_id", F.xxhash64("sh").alias("sh"))
        .distinct()
    )


def _rep_jaccard(reps: DataFrame):
    """Jaccard pairs among representative docs.

    Returns (pairs, sizes): pairs = (h_a, h_b, doc_a, doc_b, n_common,
    jaccard) with doc_a < doc_b and jaccard >= threshold; sizes = per-rep
    distinct-shingle counts (h, n). The shingle index feeds THREE consumers
    (both self-join sides + the per-doc sizes); without materialization
    Spark re-scans and re-explodes the corpus for each (9 parquet scans in
    the physical plan). Persist = the materialized shingle index every
    production shingle-dedup builds once; MEMORY_AND_DISK so oversized
    corpora spill instead of OOM."""
    from pyspark import StorageLevel

    shingles = _shingle_index(reps.select("doc_id", "text")).persist(
        StorageLevel.MEMORY_AND_DISK)
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = shingles.alias("a")
    b = shingles.alias("b")
    cand = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    ra = reps.select(F.col("doc_id").alias("doc_a"), F.col("h").alias("h_a"))
    rb = reps.select(F.col("doc_id").alias("doc_b"), F.col("h").alias("h_b"))
    pairs = (
        cand.join(sa, "doc_a").join(sb, "doc_b")
        .where(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "n_common", F.round(jac, 6).alias("jaccard"))
        .join(ra, "doc_a").join(rb, "doc_b")
    )
    rep_sizes = reps.select("h", "doc_id").join(
        sizes, "doc_id").select("h", "n")
    return pairs, rep_sizes


@register(
    "dedup_ngram_jaccard",
    aux=True,   # r8 rotation (VERDICT item 4): subsumed by dedup_clusters'
    #             edge set in the driver window; stays SQL-oracled in the
    #             pytest differential
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), idx AS (
        SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i
        FROM tok
    ), sh AS (
        SELECT DISTINCT doc_id, concat_ws(' ', w[i], w[i+1], w[i+2]) AS sh FROM idx
    ), sizes AS (
        SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, n_common,
           round(n_common / (sa.n + sb.n - n_common), 6) AS jaccard
    FROM pairs
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE n_common / (sa.n + sb.n - n_common) >= {JACCARD_THRESHOLD}
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-Jaccard pairs, computed over distinct texts and
    expanded back to doc pairs:

    * cross-group pairs — a rep pair (A, B) holds for every (member-of-A,
      member-of-B) combination, because identical texts have identical
      shingle sets; the expansion is two equi-joins on the text hash.
    * intra-group pairs — clones of the same text have Jaccard exactly 1.0
      and n_common = the group's distinct-shingle count (only when the text
      has >= 3 tokens, i.e. a non-empty shingle set — matching the
      shingle-collision join, which cannot emit a pair for shingle-less
      docs).

    Identical output to running the self-join over the raw corpus, but the
    shingle index — the expensive exploded structure — is linear in
    DISTINCT texts, so a clone-heavy corpus no longer inflates it."""
    d = _docs(spark, sf_dir)
    groups = _text_groups(d)
    rep_pairs, rep_sizes = _rep_jaccard(_rep_docs(d))
    ma = groups.select(F.col("h").alias("h_a"), F.col("doc_id").alias("m_a"))
    mb = groups.select(F.col("h").alias("h_b"), F.col("doc_id").alias("m_b"))
    cross = (
        rep_pairs.join(ma, "h_a").join(mb, "h_b")
        .select(F.least("m_a", "m_b").alias("doc_a"),
                F.greatest("m_a", "m_b").alias("doc_b"),
                "n_common", "jaccard")
    )
    x = groups.alias("x")
    y = groups.alias("y")
    intra = (
        x.join(y, "h")
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .join(rep_sizes.where(F.col("n") > 0), "h")
        .select(F.col("x.doc_id").alias("doc_a"),
                F.col("y.doc_id").alias("doc_b"),
                F.col("n").alias("n_common"),
                F.lit(1.0).alias("jaccard"))
    )
    return cross.unionByName(intra)


# ---------------------------------------------------------------------------
# D2b + D2c — signature-based near-dup candidates, one labeled pair list
# (round-2 consolidation; both rows-only because the hash families are
# engine-specific). Grouping on md5(text) builds ONE signature row per
# distinct text; its band rows (table, value) are shuffled once, and a
# single self-join on them yields every pair:
#   'minhash' — tables 0..7: spark.ml's HashingTF 3-gram index set and
#     MinHashLSH's seeded hash coefficients, evaluated as SQL; candidates
#     are kept on exact Jaccard (score = Jaccard): the rows
#     MinHashLSH.approxSimilarityJoin returns for the same model.
#   'simhash' — table 8: xxhash64 per token, bitwise vote; equal
#     signatures pair with score 1.0 — the banding trick in its 1-band
#     form. Near-dup docs get signatures within a few bits, exact dups
#     equal ones.
# At a few hundred documents per batch the per-job fixed cost dominates
# (SCALE.md §9), so the plan is kept to 7 Spark jobs and caches nothing:
# no LSH fit, no re-evaluation per consumer, no cache fill to release.
# ---------------------------------------------------------------------------

# spark.ml MinHashLSH(numHashTables=8, seed=42) over HashingTF(1 << 18):
# table t hashes index i to ((1 + i) * a_t + b_t) mod P and keeps the min.
MINHASH_TABLES = 8
MINHASH_SEED = 42
MINHASH_PRIME = 2038074743          # MinHashLSH.HASH_PRIME
HASHING_TF_FEATURES = 1 << 18


def _java_random_ints(seed: int, bound: int, n: int) -> list[int]:
    """The first `n` draws of `java.util.Random(seed).nextInt(bound)`, for
    a `bound` that is not a power of two (Java's LCG and its rejection of
    the last partial range of 31-bit values)."""
    assert bound & (bound - 1), "power-of-two bounds take another branch"
    mask = (1 << 48) - 1
    state = (seed ^ 0x5DEECE66D) & mask
    out: list[int] = []
    while len(out) < n:
        state = (state * 0x5DEECE66D + 0xB) & mask
        u = state >> 17                     # next(31)
        r = u % bound
        if u - r + bound - 1 < 1 << 31:     # Java: int overflow => redraw
            out.append(r)
    return out


def _minhash_coefficients() -> tuple[tuple[int, int], ...]:
    """MinHashLSH.fit's (a, b) per table: `(1 + nextInt(P - 1),
    nextInt(P - 1))` drawn in that order from `Random(seed)`."""
    r = _java_random_ints(MINHASH_SEED, MINHASH_PRIME - 1, 2 * MINHASH_TABLES)
    return tuple((1 + a, b) for a, b in zip(r[::2], r[1::2]))


MINHASH_COEFFS = _minhash_coefficients()


# One array of the MINHASH_TABLES values of the index set `idx` (an
# `array<int>`), in 64-bit arithmetic like spark.ml. An empty set gives
# nulls, which join nothing.
MINHASH_SQL = "array({})".format(", ".join(
    f"array_min(transform(idx, i -> ((CAST(i AS BIGINT) + 1) * {a} + {b})"
    f" % {MINHASH_PRIME}))" for a, b in MINHASH_COEFFS))

# Per-bit ±1 votes over the distinct tokens' xxhash64, then signature =
# Σ 2^bit over the positive votes (bits 0..62). One pass over the token
# hashes; a null text gives a null signature.
_SIMHASH_SQL = """aggregate(
    transform(array_distinct(split(text, ' ')), t -> xxhash64(t)),
    array_repeat(0, 63),
    (votes, h) -> transform(votes,
        (v, bit) -> v + IF((shiftright(h, bit) & 1) = 1, 1, -1)),
    votes -> aggregate(
        transform(votes, (v, bit) -> IF(v > 0, shiftleft(1L, bit), 0L)),
        0L, (s, x) -> s + x))"""


def simhash_signatures(d: DataFrame) -> DataFrame:
    """`d` (with a `text` column) plus its 63-bit SimHash `simhash`. A
    projection: no shuffle, so it runs on whatever rows the caller holds —
    one per distinct text in dedup_near_dup_signatures."""
    return d.withColumn("simhash", F.expr(_SIMHASH_SQL))


def _near_dup_signatures(d: DataFrame) -> DataFrame:
    """One row per distinct non-null text: representative `doc_id` (the
    min), sorted `members`, HashingTF 3-gram index set `idx`, MinHash
    values `mh` and `simhash`. The grouping is the only shuffle; the
    signature columns are projections on top of it."""
    from pyspark.ml.feature import HashingTF, NGram, Tokenizer

    groups = (
        d.where(F.col("text").isNotNull())
        .groupBy(F.md5("text"))
        .agg(F.sort_array(F.collect_list("doc_id")).alias("members"),
             F.first("text").alias("text"))
        .selectExpr("members[0] AS doc_id", "members", "text")
    )
    # spark.ml's Tokenizer (lowercase, split on one \s, trailing empties
    # dropped) and HashingTF (Murmur3 over UTF-8, not SQL hash()) define the
    # index set; the JSON round trip reads the sparse vector's indices.
    tokens = Tokenizer(inputCol="text", outputCol="tokens").transform(groups)
    grams = NGram(n=3, inputCol="tokens", outputCol="grams").transform(tokens)
    tf = HashingTF(inputCol="grams", outputCol="features",
                   numFeatures=HASHING_TF_FEATURES, binary=True).transform(grams)
    return (
        simhash_signatures(tf.selectExpr(
            "doc_id", "members", "text",
            "from_json(to_json(struct(features)),"
            " 'features struct<indices: array<int>>').features.indices AS idx"))
        .selectExpr("doc_id", "members", "idx", f"{MINHASH_SQL} AS mh",
                    "simhash")
    )


# The signature join's band tables: MinHash's 0..7, then SimHash's one band.
SIMHASH_TABLE = MINHASH_TABLES


@register("dedup_near_dup_signatures")  # rows-only: hash families engine-specific
def dedup_near_dup_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both signature families run on one representative per distinct text
    (identical texts -> identical index sets / SimHash signatures, so
    per-copy signatures are recomputation, and banding over clones inflates
    every band bucket by the clone count), and ONE self-join on the band
    key (table, value) finds every pair: tables 0..7 are MinHash's, table 8
    is SimHash's signature.

    * MinHash: a pair colliding in several tables is kept only on its FIRST
      colliding table (no distinct needed), then on exact Jaccard distance
      `1 - |A∩B| / |A∪B| < 1 - JACCARD_THRESHOLD` — MinHashLSH's
      keyDistance and threshold in the same double arithmetic; score =
      round(1 - distance, 6).
    * SimHash: equal signatures pair with score 1.0.
    * A rep matched with ITSELF stands for its clone group: its members
      expand to every clone pair (score 1.0; for 'minhash' only when the
      text has a 3-gram, as only those rows have MinHash bands). A pair of
      reps expands to every (member, member) doc pair."""
    sig = _near_dup_signatures(_docs(spark, sf_dir))
    # The band shuffle materializes the signatures once: both join sides
    # and the final sort's sampling pass read its output instead of
    # re-running the projections (a broadcast side would run them again).
    bands = (sig.selectExpr(
        "*", "posexplode(concat(mh, array(simhash))) AS (t, v)")
        .where("v IS NOT NULL").repartition("t", "v"))
    cand = bands.alias("a").join(bands.alias("b"), F.expr(
        "a.t = b.t AND a.v = b.v AND (a.doc_id < b.doc_id"
        " OR (a.doc_id = b.doc_id AND size(a.members) > 1))"))
    return (
        cand.selectExpr(
            f"a.t = {SIMHASH_TABLE} AS sim", "a.t",
            "a.doc_id = b.doc_id AS same",
            "a.members AS ma", "b.members AS mb",
            "array_position(zip_with(a.mh, b.mh, (x, y) -> x = y), true) - 1"
            " AS first_band",
            "size(array_intersect(a.idx, b.idx)) AS inter",
            "size(a.idx) + size(b.idx) AS sizes")
        .where("sim OR first_band = t")
        .selectExpr(
            "IF(sim, 'simhash', 'minhash') AS method",
            # clone pairs (doc_a < doc_b) or every cross pair (least, greatest)
            "IF(same, filter(flatten(transform(ma, x -> transform(ma,"
            " y -> struct(x AS doc_a, y AS doc_b)))), p -> p.doc_a < p.doc_b),"
            " flatten(transform(ma, x -> transform(mb, y -> struct("
            "least(x, y) AS doc_a, greatest(x, y) AS doc_b))))) AS pairs",
            "IF(sim, 0.0D, 1.0D - inter / (sizes - inter)) AS dist")
        .where(F.col("dist") < 1.0 - JACCARD_THRESHOLD)
        .select("method", F.inline("pairs"),
                F.round(1.0 - F.col("dist"), 6).alias("score"))
        .orderBy("method", "doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Round 2 — duplicate CLUSTERS via connected components (what a curation
# pipeline actually dedupes by: transitive chains A≈B≈C collapse into one
# cluster even when A~C alone misses the threshold — pair lists can't see
# that). Edges = exact-dup pairs (same content hash) ∪ n-gram-Jaccard pairs
# (≥ JACCARD_THRESHOLD); components found by iterative min-label
# propagation — each round every doc takes the minimum label among itself
# and its neighbors, converging in O(component diameter) rounds.
#
# Scale notes: this is the textbook distributed CC. Each round is one
# equi-join (edges ⋈ labels on the 8-byte doc key) + a combiner-friendly
# min-groupBy; lineage is cut with localCheckpoint per round (else the plan
# doubles every iteration); near-dup components are shallow (diameter ≤ ~3),
# so rounds stay single digits. The driver-side loop orchestrates ROUNDS,
# never touches rows. At 10^9+ edges you would switch the propagation to
# the large-star/small-star variant — same join/groupBy primitives.
# Oracle: DuckDB recursive CTE computing min reachable label — the same
# fixpoint, declared recursively. Hash-checked end to end.
# ---------------------------------------------------------------------------

CC_MAX_ROUNDS = 20


def propagate_min_labels(labels: DataFrame, edges: DataFrame) -> DataFrame:
    """The min-label fixpoint: ``labels`` (doc_id, label) seeded with each
    doc's own id, ``edges`` (a, b) listing both directions of every edge
    (checkpointed by the caller — it is reused every round). Returns
    (doc_id, label) with each doc labeled by the minimum id reachable,
    after at most CC_MAX_ROUNDS rounds."""
    for _ in range(CC_MAX_ROUNDS):
        neighbor = (
            edges.join(labels, edges["b"] == labels["doc_id"])
            .select(F.col("a").alias("doc_id"), "label")
        )
        new_labels = (
            labels.unionByName(neighbor)
            .groupBy("doc_id")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)  # cut lineage per round
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .where(F.col("n.label") != F.col("o.label"))
            .limit(1).count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


# The labels fixpoint as reusable CTEs (dedup_clusters here and
# curation.dedup_canonical build different reports over the same labels).
LABELS_CTES_SQL = f"""
    tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    idx AS (SELECT doc_id, w,
                   unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i
            FROM tok),
    sh AS (SELECT DISTINCT doc_id, concat_ws(' ', w[i], w[i+1], w[i+2]) AS sh
           FROM idx),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
             FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
             GROUP BY a.doc_id, b.doc_id),
    jac AS (SELECT doc_a, doc_b FROM cand
            JOIN sizes sa ON doc_a = sa.doc_id
            JOIN sizes sb ON doc_b = sb.doc_id
            WHERE n_common / (sa.n + sb.n - n_common) >= {JACCARD_THRESHOLD}),
    exact AS (SELECT l.doc_id AS doc_a, r.doc_id AS doc_b
              FROM documents l JOIN documents r
                ON md5(l.text) = md5(r.text) AND l.doc_id < r.doc_id),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM jac
              UNION SELECT doc_b, doc_a FROM jac
              UNION SELECT doc_a, doc_b FROM exact
              UNION SELECT doc_b, doc_a FROM exact),
    reach(a, b) AS (SELECT a, b FROM edges
                    UNION
                    SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
    labels AS (SELECT d.doc_id,
                      least(d.doc_id, coalesce(m.mn, d.doc_id)) AS label
               FROM documents d
               LEFT JOIN (SELECT a, min(b) AS mn FROM reach GROUP BY a) m
                 ON d.doc_id = m.a)"""


def cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, label) — each doc's connected-component label (min doc_id
    reachable over exact ∪ Jaccard near-dup edges). Shared by
    dedup_clusters and curation.dedup_canonical — the fixpoint is memoized
    per (session, sf_dir) like the catalog walk, so consumers in one
    session pay the iterative propagation once (its rounds end in eager
    localCheckpoints, so the memoized frame is materialized, not lineage).
    Only real directories are memoized: tests monkeypatch `_docs` with
    fake sf_dir tokens and must not see each other's labels."""
    import os

    from service_level_reporting_spark.tables import source_fingerprint

    app = spark.sparkContext.applicationId
    path, mtime = source_fingerprint(sf_dir, "documents")
    memo_key = (app, path, mtime)
    if os.path.isdir(sf_dir):
        cached = _LABELS_MEMO.get(memo_key)
        if cached is not None:
            return cached
        for old in [k for k in _LABELS_MEMO if k[:2] == (app, path)]:
            try:
                _LABELS_MEMO.pop(old).unpersist()
            except Exception:
                pass
    d = _docs(spark, sf_dir)
    # Exact-dup edges are STAR-shaped (keeper -> each other member), not
    # all-pairs: same connectivity, O(k) edges per clone group instead of
    # O(k²). Near-dup edges connect only the per-text representatives (the
    # keepers, so the two edge sets meet); members reach the rest of their
    # component through their keeper. The label fixpoint below is identical
    # — connectivity is what CC consumes — but a clone-heavy corpus now
    # contributes a linear edge list.
    groups = _text_groups(d)
    keepers = groups.groupBy("h").agg(F.min("doc_id").alias("keeper"))
    star = (
        groups.join(keepers, "h")
        .where(F.col("doc_id") != F.col("keeper"))
        .select(F.col("keeper").alias("a"), F.col("doc_id").alias("b"))
    )
    rep_pairs, _ = _rep_jaccard(_rep_docs(d))
    jac = rep_pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    fwd = star.unionByName(jac)
    edges = (
        fwd.unionByName(fwd.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)  # edge list reused every round
    )
    labels = propagate_min_labels(
        d.select("doc_id", F.col("doc_id").alias("label")), edges)
    if os.path.isdir(sf_dir):
        _LABELS_MEMO[memo_key] = labels
    return labels


@register(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE
    {LABELS_CTES_SQL}
    SELECT label AS keeper_doc_id, count(*) AS n_docs,
           CAST(max(doc_id) AS BIGINT) AS max_doc_id
    FROM labels GROUP BY label HAVING count(*) > 1
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = cluster_labels(spark, sf_dir)
    return (
        labels.groupBy(F.col("label").alias("keeper_doc_id"))
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.max("doc_id").alias("max_doc_id"))
        .where(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# D2d (r4 session 2) — FUZZY near-dup: bounded edit distance, the curation
# pass that catches small in-place edits (typo fixes, template variable
# swaps) that shingle-Jaccard scores well below threshold on short docs.
#
# Shape: candidate generation is an EQUI-JOIN on a deterministic block key
# (16-char text prefix) + a length band, then exact Levenshtein verify on
# the candidates only — never all pairs. levenshtein() is JVM built-in on
# the Spark side and a DuckDB scalar on the oracle side, so unlike the
# MinHash/SimHash legs this one is fully hash-checkable.
#
# 100 TB posture (r5 rework, VERDICT r4 "hot-prefix quadratic hazard"):
# a boilerplate prefix (license headers, "The ", templated docs) can put
# 10^5+ docs in ONE prefix block, making the in-block join quadratic. The
# candidate join is therefore TWO-PATH on measured block sizes:
#   * blocks with <= FUZZY_MAX_BLOCK docs join on the prefix alone (the
#     original plan — covers everything on a healthy corpus);
#   * oversized blocks REFINE the key to (prefix, floor(len/LEN_BAND)):
#     the length band means a qualifying pair sits in the same or the
#     adjacent length bucket, so two equi-joins (same-bucket +
#     adjacent-bucket) reproduce the EXACT same pair set with per-key
#     populations bounded by the bucket split — no recall change. Only
#     if a single (prefix, len-bucket) still exceeds FUZZY_MAX_BLOCK is
#     anything dropped: docs rank > FUZZY_MAX_BLOCK per sub-block
#     (deterministic doc_id order) are excluded, and the drop is
#     ACCOUNTED, not silent — `dedup_fuzzy_block_stats` (aux,
#     SQL-oracled) reports blocks_total / blocks_oversized /
#     docs_in_oversized / docs_dropped per run.
# The O(n·m) Levenshtein verify runs only inside bounded blocks.
#
# SYMMETRIC coverage (r5): the candidate pass runs per ANCHOR — blocked
# on the 16-char PREFIX, on the 16-char SUFFIX, and (r6, VERDICT item 4)
# on a 16-char MIDDLE slice centered at floor(len/2) — and unions the
# (identical-valued) verified rows distinct. A bounded edit can touch the
# prefix or the suffix but (for FUZZY_MAX_DIST << doc length) not both,
# so every within-distance pair survives at least one end key; pairs
# edited at BOTH ends (the r5 documented miss) survive the middle key as
# long as the edits preserve the center alignment (substitutions, or
# length-preserving edit mixes). The remaining documented miss narrows to
# length-CHANGING edits on both sides of the center — those shift the
# middle slice — which MinHash banding (dedup_near_dup_signatures,
# Jaccard >= 0.8 over 3-grams) covers probabilistically. All passes share
# the join machinery and carry the hot-block cap + accounting
# independently.
# ---------------------------------------------------------------------------

FUZZY_PREFIX = 16
FUZZY_LEN_BAND = 8
FUZZY_MAX_DIST = 10
FUZZY_MAX_BLOCK = 256   # max docs joined per block key (candidates <= n^2)

# The three passes are deliberately INDEPENDENT joins, not one unified
# join over an exploded (side, key) frame. The unified form was built and
# MEASURED (r6): value-identical, but 13.5 s -> 111 s at the 10x sweep
# corpus (94 s at 32 shuffle partitions, still 55 s at 128) — fusing all
# sides' candidates into one shuffle concentrates the expensive
# Levenshtein rows into fewer straggler-prone tasks, while three smaller
# independent joins overlap cleanly across the scheduler. Scans are NOT
# the bottleneck here; the verify stage is.
FUZZY_SIDES = ("prefix", "suffix", "middle")

_FUZZY_SUFFIX_SQL = (f"substring(text, greatest(1, length(text) - "
                     f"{FUZZY_PREFIX - 1}), {FUZZY_PREFIX})")
# centered slice: floor(len/2) - 7 start, clamped to 1. floor-then-cast is
# spelled out because bare double->int casts ROUND in DuckDB and TRUNCATE
# in Spark; floor() agrees in both, so the oracle blocks identically.
_FUZZY_MIDDLE_SQL = (f"substring(text, greatest(1, cast(floor(length(text)"
                     f" / 2) as int) - {FUZZY_PREFIX // 2 - 1}), "
                     f"{FUZZY_PREFIX})")


def _fuzzy_key(side: str):
    """The block key expression for one pass: 16-char prefix, suffix, or
    centered middle slice. The suffix spells out greatest(1, len-15)
    rather than a negative start — negative-start clipping differs
    between engines for strings shorter than the key, and the oracle must
    block identically."""
    if side == "prefix":
        return F.substring("text", 1, FUZZY_PREFIX)
    if side == "middle":
        return F.expr(_FUZZY_MIDDLE_SQL)
    return F.expr(_FUZZY_SUFFIX_SQL)


def _fuzzy_blocked_docs(d: DataFrame, max_block: int,
                        side: str = "prefix"):
    """(small, kept, over): docs keyed for the two-path fuzzy join.
    `small` = docs in blocks <= max_block (join on the side's key alone);
    `over` = docs in oversized blocks, refined to (key, len-bucket)
    with a deterministic per-sub-block rank; `kept` = over with rank
    <= max_block (what actually joins — the hard cap)."""
    from pyspark.sql import Window

    docs = d.select(
        "doc_id", "text",
        _fuzzy_key(side).alias("p"),
        F.floor(F.length("text") / FUZZY_LEN_BAND).cast("long").alias("bkt"))
    blk = docs.groupBy("p").agg(F.count(F.lit(1)).alias("blk_n"))
    docs = docs.join(blk, "p")
    small = docs.where(F.col("blk_n") <= max_block)
    over = docs.where(F.col("blk_n") > max_block).withColumn(
        "rn", F.row_number().over(
            Window.partitionBy("p", "bkt").orderBy("doc_id")))
    kept = over.where(F.col("rn") <= max_block)
    return small, kept, over


def _fuzzy_emit(joined: DataFrame) -> DataFrame:
    """Candidate pairs -> verified output rows, doc_a < doc_b normalized
    (the adjacent-bucket join produces unordered pairs). Equality fast
    path: clone pairs dominate near-dup corpora and must cost a string
    compare, not the O(n*m) edit-distance DP."""
    lev = F.when(F.col("fa.text") == F.col("fb.text"), F.lit(0)).otherwise(
        F.levenshtein(F.col("fa.text"), F.col("fb.text")))
    swap = F.col("fa.doc_id") > F.col("fb.doc_id")
    la, lb = F.length("fa.text"), F.length("fb.text")
    return (
        joined.where(lev <= FUZZY_MAX_DIST)
        .select(F.least("fa.doc_id", "fb.doc_id").alias("doc_a"),
                F.greatest("fa.doc_id", "fb.doc_id").alias("doc_b"),
                F.when(swap, lb).otherwise(la).cast("long").alias("len_a"),
                F.when(swap, la).otherwise(lb).cast("long").alias("len_b"),
                lev.cast("long").alias("lev_dist"),
                F.round(1.0 - lev / F.greatest(la, lb), 6).alias("sim"))
    )


def _fuzzy_side_pairs(d: DataFrame, max_block: int, side: str) -> DataFrame:
    small, kept, _ = _fuzzy_blocked_docs(d, max_block, side=side)
    band = (F.abs(F.length("fa.text") - F.length("fb.text"))
            <= FUZZY_LEN_BAND)
    lt = F.col("fa.doc_id") < F.col("fb.doc_id")
    peq = F.col("fa.p") == F.col("fb.p")
    # path 1: healthy blocks — key equi-join, the original plan
    p1 = small.alias("fa").join(small.alias("fb"), peq & lt & band)
    # path 2: oversized blocks — (key, len-bucket) equi-joins; a
    # band-qualifying pair is in the same or the adjacent bucket, so the
    # two joins cover exactly the path-1 pair set for these docs
    ka, kb = kept.alias("fa"), kept.alias("fb")
    p2_same = ka.join(kb, peq & (F.col("fa.bkt") == F.col("fb.bkt"))
                      & lt & band)
    p2_adj = ka.join(kb, peq & (F.col("fa.bkt") + 1 == F.col("fb.bkt"))
                     & band)           # unordered; _fuzzy_emit normalizes
    return (_fuzzy_emit(p1)
            .unionByName(_fuzzy_emit(p2_same))
            .unionByName(_fuzzy_emit(p2_adj)))


@register(
    "dedup_fuzzy_pairs",
    aux=True,   # full SQL oracle, checked by the pytest differential
    oracle=f"""
    -- equality fast path: exact clones (the dominant near-dup class on a
    -- clone-heavy corpus) cost a string compare, not an O(n*m) DP.
    -- r5/r6: candidates from the PREFIX, SUFFIX, or MIDDLE block (an
    -- edit inside one key survives the others); DISTINCT dedups multi
    -- hits. Parity note: this models the UNCAPPED block join — the Spark
    -- side drops docs ranked past FUZZY_MAX_BLOCK={FUZZY_MAX_BLOCK} in a
    -- same-key same-len-bucket sub-block (by-design, accounted in
    -- dedup_fuzzy_block_stats); differential corpora are asserted
    -- cap-free by that aux row (docs_dropped = 0), so the sets agree.
    WITH keyed AS (
        SELECT doc_id, text,
               substring(text, 1, {FUZZY_PREFIX}) AS pk,
               substring(text, greatest(1, length(text) - {FUZZY_PREFIX - 1}),
                         {FUZZY_PREFIX}) AS sk,
               {_FUZZY_MIDDLE_SQL} AS mk
        FROM documents
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               length(a.text) AS len_a, length(b.text) AS len_b,
               CASE WHEN a.text = b.text THEN 0
                    ELSE levenshtein(a.text, b.text) END AS lev_dist
        FROM keyed a
        JOIN keyed b
          ON (a.pk = b.pk OR a.sk = b.sk OR a.mk = b.mk)
         AND a.doc_id < b.doc_id
         AND abs(length(a.text) - length(b.text)) <= {FUZZY_LEN_BAND}
    )
    SELECT doc_a, doc_b, len_a, len_b, lev_dist,
           round(1.0 - lev_dist / greatest(len_a, len_b), 6) AS sim
    FROM cand WHERE lev_dist <= {FUZZY_MAX_DIST}
    """,
)
def dedup_fuzzy_pairs(spark: SparkSession, sf_dir: str,
                      max_block: int = FUZZY_MAX_BLOCK) -> DataFrame:
    d = _docs(spark, sf_dir).select("doc_id", "text")
    # a pair found by several passes emits identical rows (lev/sim are
    # deterministic functions of the two texts) — distinct dedups them
    out = _fuzzy_side_pairs(d, max_block, FUZZY_SIDES[0])
    for side in FUZZY_SIDES[1:]:
        out = out.unionByName(_fuzzy_side_pairs(d, max_block, side))
    return out.distinct()


_FUZZY_STATS_SIDE_SQL = """
    (WITH d AS (
        SELECT doc_id, {key} AS p,
               CAST(floor(length(text) / {band}) AS BIGINT) AS bkt
        FROM documents
    ),
    blk AS (SELECT p, count(*) AS c FROM d GROUP BY p),
    over_docs AS (
        SELECT d.* FROM d JOIN blk USING (p) WHERE blk.c > {cap}
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY p, bkt
                                     ORDER BY doc_id) AS rn
        FROM over_docs
    )
    SELECT '{side}' AS side,
           (SELECT count(*) FROM blk) AS blocks_total,
           (SELECT count(*) FROM blk WHERE c > {cap}) AS blocks_oversized,
           (SELECT count(*) FROM over_docs) AS docs_in_oversized,
           (SELECT count(*) FROM ranked WHERE rn > {cap}) AS docs_dropped)
"""


@register(
    "dedup_fuzzy_block_stats",
    aux=True,   # SQL-oracled, checked by the pytest differential
    oracle="-- the no-silent-caps accounting for dedup_fuzzy_pairs,\n"
           "-- one row per block side (middle / prefix / suffix)\n"
           + _FUZZY_STATS_SIDE_SQL.format(
               key=f"substring(text, 1, {FUZZY_PREFIX})",
               band=FUZZY_LEN_BAND, cap=FUZZY_MAX_BLOCK, side="prefix")
           + "\n    UNION ALL\n"
           + _FUZZY_STATS_SIDE_SQL.format(
               key=_FUZZY_SUFFIX_SQL,
               band=FUZZY_LEN_BAND, cap=FUZZY_MAX_BLOCK, side="suffix")
           + "\n    UNION ALL\n"
           + _FUZZY_STATS_SIDE_SQL.format(
               key=_FUZZY_MIDDLE_SQL,
               band=FUZZY_LEN_BAND, cap=FUZZY_MAX_BLOCK, side="middle")
           + "\n    ORDER BY side",
)
def dedup_fuzzy_block_stats(spark: SparkSession, sf_dir: str,
                            max_block: int = FUZZY_MAX_BLOCK) -> DataFrame:
    """Dropped-volume accounting for the fuzzy-dedup cap (r5, +middle r6):
    one row of block-size facts PER BLOCK SIDE (prefix / suffix / middle)
    so a capped run is visible in the driver artifact, never silent.
    docs_dropped > 0 means FUZZY_MAX_BLOCK bit on a same-key
    same-length-bucket population and recall is bounded for those docs
    only (on that side — the other sides still cover them unless they
    capped too). It also certifies dedup_fuzzy_pairs' oracle parity: the
    oracle SQL models the uncapped join, valid exactly while
    docs_dropped = 0 on the differential corpus."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    sides = []
    for side in FUZZY_SIDES:
        _, kept, over = _fuzzy_blocked_docs(d, max_block, side=side)
        blk = (d.select(_fuzzy_key(side).alias("p"))
               .groupBy("p").agg(F.count(F.lit(1)).alias("c")))
        stats = blk.agg(
            F.count(F.lit(1)).alias("blocks_total"),
            F.sum(F.when(F.col("c") > max_block, 1).otherwise(0))
            .cast("long").alias("blocks_oversized"))
        over_n = over.agg(F.count(F.lit(1)).alias("docs_in_oversized"))
        dropped = over.where(F.col("rn") > max_block).agg(
            F.count(F.lit(1)).alias("docs_dropped"))
        sides.append(stats.crossJoin(over_n).crossJoin(dropped)
                     .select(F.lit(side).alias("side"), "*"))
    out = sides[0]
    for s in sides[1:]:
        out = out.unionByName(s)
    return out.orderBy("side")


# ---------------------------------------------------------------------------
# r4 session 2 (aux, rows-only) — PageRank over the near-dup graph: the
# second iterative graph algorithm next to connected components.
# "Duplicate centrality": a text with many near-dup neighbors collects
# rank, which is a principled canonical-pick signal (CC alone treats a
# chain and a star the same). Pregel shape: one join + one agg per
# iteration over the edge list, damping 0.85, dangling (isolated) mass
# redistributed uniformly; lineage cut with an eager localCheckpoint per
# round — the same discipline as the CC fixpoint. At 100 TB the edge list
# is the LINEAR star ∪ representative-Jaccard set the cluster pass
# already builds, partitioned by src — each round shuffles |E|, never the
# corpus.
# ---------------------------------------------------------------------------

PAGERANK_DAMPING = 0.85
PAGERANK_ITERS = 10


def _dup_edges(d: DataFrame) -> DataFrame:
    """Symmetrized (src, dst) near-dup edges: exact-clone stars (keeper ->
    members) ∪ representative Jaccard pairs — the cluster pass's graph."""
    groups = _text_groups(d)
    keepers = groups.groupBy("h").agg(F.min("doc_id").alias("keeper"))
    star = (
        groups.join(keepers, "h")
        .where(F.col("doc_id") != F.col("keeper"))
        .select(F.col("keeper").alias("src"), F.col("doc_id").alias("dst"))
    )
    rep_pairs, _ = _rep_jaccard(_rep_docs(d))
    jac = rep_pairs.select(F.col("doc_a").alias("src"),
                           F.col("doc_b").alias("dst"))
    fwd = star.unionByName(jac).distinct()
    return fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


@register("graph_pagerank", aux=True)  # rows-only: iterative fixpoint
def graph_pagerank(spark: SparkSession, sf_dir: str,
                   n_iter: int = PAGERANK_ITERS,
                   damping: float = PAGERANK_DAMPING,
                   top_k: int = 20) -> DataFrame:
    """Top-k docs by PageRank over the duplicate graph, with per-node
    degree. Isolated docs hold the uniform baseline rank; the emitted
    `total_rank` row (key '_sum') must be ~1.0 — mass conservation is the
    algorithm's own invariant and rides in the result."""
    d = _docs(spark, sf_dir)
    n = d.count()
    if n == 0:
        return spark.createDataFrame(
            [], "doc_id long, rank double, degree long")
    edges = _dup_edges(d).localCheckpoint(eager=True)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    nodes = d.select("doc_id").join(
        deg.select(F.col("src").alias("doc_id"), "degree"),
        "doc_id", "left").fillna(0, subset=["degree"])
    base = (1.0 - damping) / n
    ranks = nodes.select("doc_id", "degree",
                         F.lit(1.0 / n).alias("rank"))
    for _ in range(n_iter):
        dangling = (ranks.where(F.col("degree") == 0)
                    .agg(F.coalesce(F.sum("rank"), F.lit(0.0))
                         .alias("m")).collect()[0]["m"])
        contrib = (
            edges.join(ranks.select(F.col("doc_id").alias("src"),
                                    "rank", "degree"), "src")
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.sum(F.col("rank") / F.col("degree")).alias("inflow"))
        )
        ranks = (
            nodes.join(contrib, "doc_id", "left")
            .select("doc_id", "degree",
                    (F.lit(base) + F.lit(damping)
                     * (F.coalesce(F.col("inflow"), F.lit(0.0))
                        + F.lit(dangling / n))).alias("rank"))
            .localCheckpoint(eager=True)        # cut per-round lineage
        )
    total = ranks.agg(F.sum("rank").alias("s")).collect()[0]["s"]
    top = (ranks.orderBy(F.desc("rank"), F.asc("doc_id")).limit(top_k)
           .select("doc_id", F.round("rank", 9).alias("rank"), "degree"))
    return top.unionByName(spark.createDataFrame(
        [(-1, round(float(total), 9), None)],
        "doc_id long, rank double, degree long"))


# ---------------------------------------------------------------------------
# D24 (r7) — exact substring deduplication: maximal duplicated token spans.
# The ExactSubstr operator of Lee et al., "Deduplicating Training Data Makes
# Language Models Better" (ACL 2022): any token window of length K that
# occurs more than once ANYWHERE in the corpus marks its tokens as
# duplicated; overlapping/adjacent duplicated windows merge into maximal
# spans (the paper removes them; we emit them — removal is one anti-join).
#
# The paper builds a single suffix array over the concatenated corpus —
# inherently sequential and RAM-bound. The distributed re-expression is the
# classic shingle pipeline: every K-token window becomes a (gram, doc, pos)
# row, a groupBy finds grams with corpus frequency > 1, and a per-doc
# gaps-and-islands window merges surviving window starts into maximal
# spans. Three shuffles total (gram rollup, dup join, per-doc window), each
# on keys, never on documents.
#
# Scale notes (100 TB): here the dup rollup keys on the gram STRING so the
# DuckDB oracle is exactly equivalent; at corpus scale key on
# xxhash64(gram) (8-byte shuffle keys, collision odds ~n²/2⁶⁴ — one
# false-dup window per ~10¹⁹ gram pairs, and a false positive only ever
# extends a span, never loses one). Everything else is unchanged: the
# window fan-out is ~n_tokens rows of (8B key, doc, pos), linear in corpus
# size; the per-doc island window partitions on doc_id — bounded by the
# longest single document, not the corpus.
# ---------------------------------------------------------------------------

SUBSTR_K = 12     # window length in tokens (the paper uses 50 BPE tokens;
#                   the fixture docs are ~50 words, so 12 keeps sub-doc
#                   spans observable while full-doc clones still merge)


@register(
    "dedup_substring_spans",
    # r8 rotation (VERDICT item 4): promoted into the driver's 50-row
    # hash window (slot freed by dedup_ngram_jaccard)
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
        WHERE len(string_split(text, ' ')) >= {SUBSTR_K}
    ), grams0 AS (
        SELECT doc_id, tokens,
               CAST(unnest(range(0, len(tokens) - {SUBSTR_K - 1}))
                    AS BIGINT) AS pos
        FROM toks
    ), grams AS (
        SELECT doc_id, pos,
               array_to_string(tokens[pos + 1:pos + {SUBSTR_K}], ' ') AS gram
        FROM grams0
    ), dup AS (
        SELECT gram FROM grams GROUP BY gram HAVING count(*) > 1
    ), marked AS (
        SELECT g.doc_id, g.pos,
               CASE WHEN g.pos - lag(g.pos) OVER (
                        PARTITION BY g.doc_id ORDER BY g.pos)
                    <= {SUBSTR_K} THEN 0 ELSE 1 END AS brk
        FROM grams g JOIN dup USING (gram)
    ), isl AS (
        SELECT doc_id, pos,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM marked
    ), spans AS (
        SELECT doc_id, min(pos) AS span_start,
               max(pos) + {SUBSTR_K} - min(pos) AS span_len
        FROM isl GROUP BY doc_id, island
    )
    SELECT s.doc_id, s.span_start, s.span_len,
           array_to_string(
               t.tokens[s.span_start + 1:s.span_start + s.span_len],
               ' ') AS span_text
    FROM spans s JOIN toks t USING (doc_id)
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str,
                          k: int = SUBSTR_K) -> DataFrame:
    """Maximal duplicated token spans (ExactSubstr, Lee et al. 2022):
    every k-token window occurring >1 time in the corpus (across OR within
    documents) marks its tokens; touching windows (start gap <= k) merge
    per-doc into maximal spans via gaps-and-islands. Output one row per
    span: (doc_id, span_start token index, span_len in tokens, span_text).
    Removal = slice span ranges out of the token array (one anti-join) —
    emitting spans keeps the operator composable with keep-one policies."""
    from pyspark.sql.window import Window

    d = _docs(spark, sf_dir)
    toks = (d.select("doc_id", F.split("text", " ").alias("tokens"))
             .filter(F.size("tokens") >= k))
    # tokens ride the explode projection NARROWLY (no shuffle) and are
    # projected away before the first exchange — only (doc, pos, gram)
    # rows ever move
    grams = (toks.select(
                "doc_id", "tokens",
                F.explode(F.sequence(F.lit(0), F.size("tokens") - k))
                 .alias("pos"))
             .select("doc_id", F.col("pos").cast("long").alias("pos"),
                     F.array_join(F.slice("tokens", F.col("pos") + 1, k),
                                  " ").alias("gram")))
    # one groupBy finds corpus-frequency>1 grams (map-side partial counts);
    # semi-join keeps only duplicated window starts
    dup = (grams.groupBy("gram").count()
                .filter(F.col("count") > 1).select("gram"))
    marked = grams.join(dup, "gram").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = (marked
           .withColumn("brk", F.when(F.col("pos") - F.lag("pos").over(w)
                                     <= k, 0).otherwise(1))
           .withColumn("island", F.sum("brk").over(w)))
    spans = (isl.groupBy("doc_id", "island")
                .agg(F.min("pos").alias("span_start"),
                     (F.max("pos") + k - F.min("pos"))
                     .cast("long").alias("span_len"))
                .drop("island"))
    return (spans.join(toks, "doc_id")
            .select("doc_id", "span_start", "span_len",
                    F.array_join(
                        F.slice("tokens", F.col("span_start") + 1,
                                F.col("span_len")), " ").alias("span_text")))
