"""Distributed BPE tokenizer training + encoding — the tokenizer leg of the
LLM-training-data pipeline family (SURVEY.md §2.8; north-star mandate).

Byte-pair encoding (Sennrich et al. 2016; the GPT-2 tokenizer family) learns
a merge table from corpus statistics, then encodes text by applying merges
in learned-rank order. Both halves map cleanly onto Spark:

* **Training** is NOT a corpus-scale loop. The only pass that touches the
  full corpus is the word-frequency aggregation (wordcount shape: pretoken
  explode -> groupBy word -> sum, map-side partial combine). Everything
  after runs on the AGGREGATED vocab table, which Zipf compresses ~10^4x
  (2x10^12 corpus tokens -> ~10^8 distinct words at 100 TB). Each training
  pass: explode adjacent symbol pairs weighted by word freq, hash-agg, take
  the top pairs. That is a shuffle over |vocab| x avg_word_len rows — small.
* **Pass batching (the scale knob):** textbook BPE learns ONE merge per
  pass; 50k merges = 50k shuffles, which no cluster survives. Each pass
  here takes the top-K *compatible* pairs (greedy filter: no shared symbol
  with an earlier pick in the batch, so one left-to-right application pass
  per merge is order-independent) and applies them in one mapInPandas step.
  K=1 reproduces the textbook sequence exactly (pytest-pinned against a
  pure-Python reference); K>1 is the industrial approximation. Lineage is
  truncated per pass with localCheckpoint (at cluster scale: persist to a
  scratch table instead).
* **Encoding** is embarrassingly parallel: broadcast the rank dict, greedy
  lowest-rank merge per word inside mapInPandas (Arrow batches). Word-level
  memoization inside each batch exploits Zipf again — encode each distinct
  word once per batch, not per occurrence.

Tie-breaks are deterministic everywhere (freq desc, then pair lexicographic)
so the learned table is reproducible run-to-run — resume/oracle-safe.

Iterative fixpoint semantics are not ANSI-SQL-expressible => rows-only
registry treatment (driver checks rows/schema; semantics carried by the
pure-Python-reference pytest, the exact place the driver's design puts
non-SQL ops).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from service_level_reporting_spark.registry import register
from service_level_reporting_spark.tables import load_tables, local_frame

# Pretokenization: lowercase words / digit runs / single punctuation — the
# same family as text.TOKEN_REGEX so token counts line up across the text
# ops. The end-of-word sentinel keeps merges from crossing word boundaries
# (Sennrich-style; GPT-2 uses leading spaces to the same effect).
PRETOKEN_REGEX = "[a-z]+|[0-9]+|[^a-z0-9\\s]"
EOW = "</w>"


def word_freq_table(docs: DataFrame) -> DataFrame:
    """Corpus -> (word, freq): the ONLY corpus-scale pass in BPE training.
    Classic wordcount: map-side partial agg carries (word, partial_count)
    through the shuffle, not raw tokens."""
    return (
        docs.select(F.explode(
            F.regexp_extract_all(F.lower("text"),
                                 F.lit(PRETOKEN_REGEX), 0)).alias("word"))
        .groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    )


def _symbolize(words: DataFrame) -> DataFrame:
    """(word, freq) -> (word, freq, syms): initial symbol sequence = chars +
    end-of-word sentinel. split('', ...) yields single characters."""
    return words.withColumn(
        "syms",
        F.concat(F.split("word", ""), F.array(F.lit(EOW))))


def _pair_counts(symtab: DataFrame) -> DataFrame:
    """Adjacent-pair frequencies over the vocab table, weighted by word
    freq. arrays_zip of the two shifted slices = the adjacency explode;
    all JVM-side, no UDF."""
    n = F.size("syms")
    pairs = symtab.select(
        "freq",
        F.explode(F.arrays_zip(
            F.slice("syms", 1, n - 1).alias("a"),
            F.slice("syms", 2, n - 1).alias("b"))).alias("p"))
    return (
        pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("freq").alias("pair_freq"))
    )


def _compatible_top_k(rows, k: int):
    """Greedy top-K filter: a batch member may not share ANY symbol with an
    earlier pick (('t','h') blocks ('h','e') — overlapping occurrences in
    'the' would make application order matter). Rows must arrive sorted by
    (freq desc, a, b); K=1 degenerates to the textbook argmax."""
    picked, used = [], set()
    for r in rows:
        if len(picked) >= k:
            break
        a, b = r["a"], r["b"]
        merged = a + b
        if a in used or b in used or merged in used:
            continue
        picked.append((a, b, int(r["pair_freq"])))
        used.update((a, b, merged))
    return picked


def _apply_merges_udf(batch: list):
    """mapInPandas stage applying one batch of compatible merges with a
    single left-to-right pass per merge (valid because the batch shares no
    symbols). Distinct-word table => each row is touched once per pass."""
    merge_list = [(a, b) for a, b, _ in batch]

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for syms in pdf["syms"]:
                syms = list(syms)
                for a, b in merge_list:
                    i, res = 0, []
                    while i < len(syms):
                        if (i + 1 < len(syms)
                                and syms[i] == a and syms[i + 1] == b):
                            res.append(a + b)
                            i += 2
                        else:
                            res.append(syms[i])
                            i += 1
                    syms = res
                out.append(syms)
            pdf = pdf.copy()
            pdf["syms"] = out
            yield pdf

    return run


# The aggregated (word, freq) vocab below this row count trains DRIVER-SIDE
# (broadcast-small, like any dimension collect): the distributed loop's per
# pass costs two shuffles + a Python stage + a checkpoint — pure per-job
# floor once the vocab is tiny. Zipf puts even a 100 GB corpus well under
# this; a 100 TB corpus (~10^8 distinct words) stays on the distributed
# path. Same batched algorithm, same tie-breaks (UTF-8 binary string order
# == Python code-point order), so the learned table is IDENTICAL —
# pytest-pinned against the distributed path.
BPE_DRIVER_VOCAB_CAP = 65536


def _train_batches_driver(sym_rows: list, n_merges: int, batch_k: int,
                          min_pair_freq: int) -> list:
    """Driver-side replay of the SAME batched training loop over a
    collected [(syms, freq)] vocab. Mirrors bpe_train's loop body exactly:
    top want*4 candidate window by (freq desc, a, b), greedy compatible
    filter, one left-to-right application pass per merge."""
    vocab: dict = {}
    for syms, freq in sym_rows:
        t = tuple(syms)
        vocab[t] = vocab.get(t, 0) + int(freq)
    merges: list = []
    while len(merges) < n_merges:
        want = min(batch_k, n_merges - len(merges))
        pairs: dict = {}
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pairs[p] = pairs.get(p, 0) + f
        cand = sorted(
            ((f, a, b) for (a, b), f in pairs.items()
             if f >= min_pair_freq),
            key=lambda t: (-t[0], t[1], t[2]))[:want * 4]
        batch = _compatible_top_k(
            [{"a": a, "b": b, "pair_freq": f} for f, a, b in cand], want)
        if not batch:
            break
        for a, b, freq in batch:
            merges.append((len(merges), a, b, a + b, freq))
        new_vocab: dict = {}
        for syms, f in vocab.items():
            s = list(syms)
            for a, b in [(a, b) for a, b, _ in batch]:
                i, res = 0, []
                while i < len(s):
                    if (i + 1 < len(s) and s[i] == a and s[i + 1] == b):
                        res.append(a + b)
                        i += 2
                    else:
                        res.append(s[i])
                        i += 1
                s = res
            t = tuple(s)
            new_vocab[t] = new_vocab.get(t, 0) + f
        vocab = new_vocab
    return merges


def bpe_train(spark: SparkSession, docs: DataFrame, n_merges: int = 40,
              batch_k: int = 8, min_pair_freq: int = 2,
              driver_vocab_cap: int = BPE_DRIVER_VOCAB_CAP) -> list:
    """Learn up to n_merges BPE merges; returns [(rank, a, b, merged,
    pair_freq)]. batch_k=1 is the exact textbook sequence; larger batches
    trade strict sequential order for ~K fewer corpus... vocab passes (the
    100 TB mode — see module docstring)."""
    vocab = _symbolize(word_freq_table(docs))
    # The vocab table is the training working set: cache it, keep the
    # partition count proportional to its (post-Zipf) size.
    vocab = vocab.repartition(max(2, spark.sparkContext.defaultParallelism
                                  // 4)).localCheckpoint(eager=True)
    # r14 (guide §1.2 "the distributed algorithm"): the corpus-scale pass
    # is word_freq_table above — everything after runs on the aggregated
    # vocab. When that vocab is broadcast-small, the remaining passes are
    # all scheduling floor: collect it once and replay the identical loop
    # driver-side. Probe with limit(cap+1) so the decision never collects
    # an unbounded frame.
    small = vocab.select("syms", "freq").limit(driver_vocab_cap + 1).collect()
    if len(small) <= driver_vocab_cap:
        return _train_batches_driver(
            [(r["syms"], r["freq"]) for r in small],
            n_merges, batch_k, min_pair_freq)
    merges: list = []
    while len(merges) < n_merges:
        want = min(batch_k, n_merges - len(merges))
        # Pull a small candidate window: top want*4 by (freq, lexicographic)
        # — the compatibility filter discards at most 3/4 of it in practice;
        # a short window keeps the collect driver-bounded at any scale.
        cand = (
            _pair_counts(vocab)
            .where(F.col("pair_freq") >= min_pair_freq)
            .orderBy(F.col("pair_freq").desc(), "a", "b")
            .limit(want * 4)
            .collect())
        batch = _compatible_top_k(cand, want)
        if not batch:
            break
        for a, b, freq in batch:
            merges.append((len(merges), a, b, a + b, freq))
        vocab = vocab.mapInPandas(
            _apply_merges_udf(batch), schema=vocab.schema)
        # truncate lineage so pass N+1 doesn't replay passes 1..N
        vocab = vocab.localCheckpoint(eager=True)
    return merges


def bpe_reference_train(texts: list, n_merges: int,
                        min_pair_freq: int = 2) -> list:
    """Textbook sequential BPE in pure Python — the oracle the distributed
    trainer is pinned against (batch_k=1 must match EXACTLY)."""
    import re
    from collections import Counter

    words = Counter()
    for t in texts:
        words.update(re.findall(PRETOKEN_REGEX, t.lower()))
    vocab = {tuple(w) + (EOW,): c for w, c in words.items()}
    merges = []
    for rank in range(n_merges):
        pairs: Counter = Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        if not pairs:
            break
        (a, b), freq = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if freq < min_pair_freq:
            break
        merges.append((rank, a, b, a + b, freq))
        new_vocab = {}
        for syms, c in vocab.items():
            i, res = 0, []
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    res.append(a + b)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            new_vocab[tuple(res)] = new_vocab.get(tuple(res), 0) + c
        vocab = new_vocab
    return merges


def bpe_encode_word(word: str, ranks: dict) -> list:
    """Greedy rank-order BPE encode of one pretoken (standard algorithm:
    repeatedly merge the present pair with the LOWEST learned rank)."""
    syms = list(word) + [EOW]
    while len(syms) > 1:
        best_rank, best_i = None, -1
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i < 0:
            break
        syms[best_i:best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def bpe_encode(docs: DataFrame, merges: list) -> DataFrame:
    """Encode documents with a learned merge table: (doc_id, n_pretokens,
    n_bpe_tokens). The rank dict rides the closure (broadcast by Spark's
    task serializer — ~vocab-sized, fine at 50k merges); per-batch word
    memoization collapses Zipf-repeated words to one encode each."""
    import re

    ranks = {(a, b): rank for rank, a, b, _m, _f in merges}
    pat = re.compile(PRETOKEN_REGEX)

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict = {}
        for pdf in it:
            n_pre, n_bpe = [], []
            for text in pdf["text"]:
                words = pat.findall(str(text).lower())
                total = 0
                for w in words:
                    got = memo.get(w)
                    if got is None:
                        got = len(bpe_encode_word(w, ranks))
                        memo[w] = got
                    total += got
                n_pre.append(len(words))
                n_bpe.append(total)
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "n_pretokens": pd.Series(n_pre, dtype="int64"),
                "n_bpe_tokens": pd.Series(n_bpe, dtype="int64"),
            })

    from pyspark.sql.types import LongType, StructField, StructType
    schema = StructType([
        StructField("doc_id", LongType(), False),
        StructField("n_pretokens", LongType(), False),
        StructField("n_bpe_tokens", LongType(), False),
    ])
    return docs.select("doc_id", "text").mapInPandas(run, schema=schema)


# ---------------------------------------------------------------------------
# Registry row (rows-only: iterative fixpoint, no ANSI-SQL form): the merge
# table + corpus-level encode stats as one labeled suite.
# ---------------------------------------------------------------------------

@register("bpe_tokenizer_suite")  # rows-only: iterative merge learning
def bpe_tokenizer_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part='merge': one row per learned merge (rank order, the actual
    tokenizer artifact). part='encode_stat': corpus stats after encoding
    with that table — n = total BPE tokens / total pretokens / compression
    ratio x1e6 (tokens-per-pretoken should sit well under the char count).
    """
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    merges = bpe_train(spark, docs, n_merges=40, batch_k=8)
    merge_rows = local_frame(
        spark, [(int(r), a, b, m, int(f)) for r, a, b, m, f in merges],
        "rank bigint, lhs string, rhs string, merged string, n bigint",
    ).select(F.lit("merge").alias("part"), "rank", "lhs", "rhs",
             "merged", F.col("n").cast("double"))
    enc = bpe_encode(docs, merges).agg(
        F.sum("n_bpe_tokens").alias("total_bpe"),
        F.sum("n_pretokens").alias("total_pre"))
    stats = enc.select(F.explode(F.create_map(
        F.lit("total_bpe_tokens"), F.col("total_bpe").cast("double"),
        F.lit("total_pretokens"), F.col("total_pre").cast("double"),
        F.lit("bpe_per_pretoken_x1e6"),
        F.round(F.col("total_bpe") / F.col("total_pre") * 1e6, 0),
    )).alias("k", "v")).select(
        F.lit("encode_stat").alias("part"),
        F.lit(None).cast("bigint").alias("rank"),
        F.col("k").alias("lhs"),
        F.lit(None).cast("string").alias("rhs"),
        F.lit(None).cast("string").alias("merged"),
        F.col("v").alias("n"))
    return merge_rows.unionByName(stats)
