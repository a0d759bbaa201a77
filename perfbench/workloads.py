"""The benchmark's workloads.

Each workload generates its inputs from the seed (benchmark-side, never
timed), stages what the program needs in ``setup`` (timed as set-up), and
yields one round of operations per ``round`` call (``warmup`` yields the
untimed warm-up's operations); the generator's own code between operations
(landing input files, resetting a table) is untimed. An
operation's ``run`` is the timed call into the package's public functions,
ending when its result is in driver memory; ``check`` compares that result
with an oracle outside the timed region.
"""

from __future__ import annotations

import datetime as _dt
import math
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field
from typing import Any, Callable, Iterator

import duckdb
import pandas as pd

import gen

# The dashboard's queries: DuckDB-oracled, from each SLO operator module
# (sli, report, windows). Six, not more, because every query kind costs a
# cold first call in each run's warm-up.
SLO_QUERIES = (
    "slo_daily_health", "resample_minute_avg", "agg_time_weighted",
    "agg_percentile", "slo_burn_rate_multiwindow", "latest_value_per_key",
)


@dataclass
class Op:
    kind: str
    run: Callable[[], Any]
    rows: int
    check: Callable[[Any], str | None] = lambda result: None


@dataclass
class Inputs:
    rows: int = 0
    bytes: int = 0
    files: list[str] = field(default_factory=list)


# --------------------------------------------------------------------------
# Result comparison: order-insensitive, columns sorted by name, floats equal
# within 2e-6 absolute (the queries round to 6 decimals, and Spark and
# DuckDB may sum in different orders).
# --------------------------------------------------------------------------

def _cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    return v


def _sort_key(row: tuple) -> str:
    return repr(tuple(round(v, 3) if isinstance(v, float) else v
                      for v in row))


def canon(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [tuple(_cell(v) for v in r)
            for r in df[cols].itertuples(index=False, name=None)]
    return sorted(rows, key=_sort_key)


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return (a is not None and b is not None
                and math.isclose(a, b, rel_tol=1e-9, abs_tol=2e-6))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(map(_same, a, b))
    return a == b


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the frames hold the same rows, else a short reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for x, y in zip(canon(got), canon(want)):
        if not _same(x, y):
            return f"first differing row {x} != {y}"
    return None


def duck_frame(views: dict[str, str], sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        for name, glob in views.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{glob}')")
        return con.execute(sql).fetchdf()
    finally:
        con.close()


def du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _, files in os.walk(path) for f in files)


def query_op(spark, tracer, name: str, sf_dir: str, rows: int,
             check: Callable[[Any], str | None]) -> Op:
    """One registered query over ``sf_dir``: the query function builds the
    plan (span ``operators.<module>``), ``toPandas`` runs it."""
    from service_level_reporting_spark import registry

    fn = registry.aux_queries()[name]
    layer = "operators." + fn.__module__.rsplit(".", 1)[-1]

    def run():
        with tracer.span(layer):
            df = fn(spark, sf_dir)
        with tracer.span("spark.collect"):
            return df.toPandas()

    return Op(name, run, rows, check)


def registry_oracle(name: str) -> str:
    from service_level_reporting_spark import registry

    return registry.aux_oracles()[name]


def plan_build_s(tracer) -> float:
    builds = [s for s in tracer.spans if s.name.startswith("operators.")]
    return sum(s.end - s.start for s in builds) / max(1, len(builds))


# --------------------------------------------------------------------------
# Dashboard SLO queries over the table cache
# --------------------------------------------------------------------------

class SloReport:
    """The dashboard: the oracled SLO queries over one events table held in
    the program's table cache."""

    def __init__(self, n_events: int):
        self.n_events = n_events
        self._oracle: dict[str, pd.DataFrame] = {}
        self.cache_fill_s: list[float] = []

    def generate(self, root: str, seed: int) -> Inputs:
        self.dir = os.path.join(root, "slo_report")
        os.makedirs(self.dir, exist_ok=True)
        b = gen.write_events(self.dir, self.n_events, seed)
        return Inputs(rows=self.n_events, bytes=b)

    def setup(self, spark, tracer) -> None:
        from service_level_reporting_spark import tables

        t0 = time.perf_counter()
        with tracer.span("tables.cache_fill"):
            tables.cache_tables(spark, self.dir, ("events",))
        self.cache_fill_s.append(time.perf_counter() - t0)

    def teardown(self, spark) -> None:
        from service_level_reporting_spark import tables

        tables.clear_table_cache()

    def _check(self, name: str, got: pd.DataFrame) -> str | None:
        if name not in self._oracle:
            self._oracle[name] = duck_frame(
                {"events": os.path.join(self.dir, "events.parquet")},
                registry_oracle(name))
        return compare(got, self._oracle[name])

    def round(self, spark, tracer) -> Iterator[Op]:
        for name in SLO_QUERIES:
            yield query_op(spark, tracer, name, self.dir, self.n_events,
                           lambda got, n=name: self._check(n, got))

    def layer_metrics(self, tracer) -> dict[str, float]:
        return {"operators.plan_build_s": plan_build_s(tracer),
                "tables.cache_fill_s": statistics.median(self.cache_fill_s)}


# --------------------------------------------------------------------------
# Corpus: LLM-data operators over a fresh seeded corpus batch per round
# --------------------------------------------------------------------------

# (query, span, input table the operator reads)
CORPUS_OPS = (("dedup_exact", "dedup.exact", "documents"),
              ("dedup_near_dup_signatures", "dedup.near_dup", "documents"),
              ("text_tfidf_topk", "curation.tfidf", "documents"),
              ("similarity_topk_pairs", "similarity.topk", "embeddings"),
              ("bpe_tokenizer_suite", "bpe.train", "documents"))
ORACLED = ("dedup_exact", "text_tfidf_topk", "similarity_topk_pairs")
BPE_ROWS = 43            # 40 learned merges + 3 encode stats
RECALL_FLOOR = 0.9
SLO_WARMUP_PASSES = 4


class CorpusDedup:
    """Each round writes a fresh corpus batch (new directory, so no session
    memo keyed by path and mtime can serve it) and runs each corpus
    operator over it once. Batch contents depend on the seed and the batch
    number only, and the numbering restarts at every set-up, so a second
    set-up in the same process sees the same batches under new paths."""

    def __init__(self, n_docs: int, n_vecs: int):
        self.n_docs, self.n_vecs = n_docs, n_vecs
        self.recall: list[float] = []
        self.precision: list[float] = []
        self.setups = 0

    def generate(self, root: str, seed: int) -> Inputs:
        self.root, self.seed = os.path.join(root, "corpus"), seed
        os.makedirs(self.root, exist_ok=True)
        return Inputs()

    def setup(self, spark, tracer) -> None:
        from service_level_reporting_spark import registry

        self._queries = registry.aux_queries()
        self._oracles = registry.aux_oracles()
        self.setups += 1
        self.batch = 0

    def teardown(self, spark) -> None:
        pass

    def _check(self, name: str, d: str, planted: dict,
               got: pd.DataFrame) -> str | None:
        if name in ORACLED:
            views = {t: os.path.join(d, f"{t}.parquet")
                     for t in ("documents", "embeddings")}
            return compare(got, duck_frame(views, self._oracles[name]))
        if name == "bpe_tokenizer_suite":
            return None if len(got) == BPE_ROWS else f"rows {len(got)}"
        truth = set(planted["near"])
        for group in planted["exact"]:
            truth.update((a, b) for i, a in enumerate(group)
                         for b in group[i + 1:])
        found = set(zip(got["doc_a"].tolist(), got["doc_b"].tolist()))
        recall = len(found & truth) / len(truth)
        self.recall.append(recall)
        self.precision.append(len(found & truth) / max(1, len(found)))
        if recall < RECALL_FLOOR:
            return f"planted recall {recall:.3f} < {RECALL_FLOOR}"
        return None

    def round(self, spark, tracer) -> Iterator[Op]:
        d = os.path.join(self.root, f"s{self.setups}-b{self.batch:04d}")
        _, planted = gen.write_corpus(d, self.n_docs, self.n_vecs,
                                      self.seed, self.batch)
        self.batch += 1
        for name, layer, table in CORPUS_OPS:
            def run(name=name, layer=layer):
                with tracer.span(layer):
                    return self._queries[name](spark, d).toPandas()
            rows = self.n_vecs if table == "embeddings" else self.n_docs
            yield Op(name, run, rows,
                     lambda got, n=name: self._check(n, d, planted, got))

    def layer_metrics(self, tracer) -> dict[str, float]:
        out = {f"{layer}_s": tracer.mean(layer) for _, layer, _ in CORPUS_OPS}
        out["dedup.planted_recall"] = sum(self.recall) / max(1, len(self.recall))
        out["dedup.planted_precision"] = (sum(self.precision)
                                          / max(1, len(self.precision)))
        return out


class SloReportCorpus:
    """The read workload: a round is two passes of the dashboard's SLO
    queries over the cached events, then one fresh corpus batch through the
    corpus operators. With two passes the median operation is an SLO query
    rather than whichever of the two kinds sits at the boundary.

    The warm-up is one corpus batch, then ``SLO_WARMUP_PASSES`` dashboard
    passes: the corpus operators are near their steady latency after one
    batch, while the JVM keeps compiling the SLO queries' driver code for
    several passes. A corpus batch slows the dashboard pass right after it
    (up to 2x on a 4-core host), so the measured passes follow dashboard
    passes and the corpus batch ends the round; at the benchmark's run
    length a run measures one round."""

    name = "slo_report_corpus"

    def __init__(self, n_events: int, n_docs: int, n_vecs: int):
        self.slo, self.corpus = SloReport(n_events), CorpusDedup(n_docs, n_vecs)
        self.parts = (self.slo, self.corpus)

    def generate(self, root: str, seed: int) -> Inputs:
        got = [p.generate(root, seed) for p in self.parts]
        return Inputs(rows=sum(i.rows for i in got),
                      bytes=sum(i.bytes for i in got))

    def setup(self, spark, tracer) -> None:
        for p in self.parts:
            p.setup(spark, tracer)

    def teardown(self, spark) -> None:
        for p in self.parts:
            p.teardown(spark)

    def warmup(self, spark, tracer) -> Iterator[Op]:
        yield from self.corpus.round(spark, tracer)
        for _ in range(SLO_WARMUP_PASSES):
            yield from self.slo.round(spark, tracer)

    def round(self, spark, tracer) -> Iterator[Op]:
        yield from self.slo.round(spark, tracer)
        yield from self.slo.round(spark, tracer)
        yield from self.corpus.round(spark, tracer)

    def layer_metrics(self, tracer) -> dict[str, float]:
        out = {}
        for p in self.parts:
            out.update(p.layer_metrics(tracer))
        return out


# --------------------------------------------------------------------------
# Ingest: streaming foreachBatch -> txn_append, merge, MoR delete, change
# feed folded into a matview, optimize, pruned predicate read, backfill.
# --------------------------------------------------------------------------

WRITER = "perfbench_ingest"
MV_SPEC = {"keys": ["event_type"],
           "aggs": {"n": ("count", None), "total": ("sum", "value"),
                    "lo": ("min", "value"), "hi": ("max", "value")}}
DELETE_PRED = "event_type = 'signup' AND value > 150"
# resample_minute_avg's fixed window (operators/sli.py)
BACKFILL = ("resample_minute_avg", "2024-01-08", "2024-01-15")


def _epoch_us(day: str) -> int:
    d = _dt.datetime.fromisoformat(day).replace(tzinfo=_dt.timezone.utc)
    return int(d.timestamp()) * 1_000_000


class SliIngest:
    """The write path beside the reads. Every round starts, untimed, from a
    fresh TxLogTable seeded with the history load, so each round does the
    same work however many rounds ran before. The round lands
    ``batches`` micro-batch files that a stream commits one per trigger
    through foreachBatch -> ``txn_append`` (each batch then replayed, which
    must land nothing), merges late points, deletes by predicate
    (merge-on-read), folds the change feed into a matview, optimizes, reads
    the round's time range back with file pruning, and runs a backfill SLO
    aggregate over the raw history as multi-file parquet, bypassing the
    table cache (its time range is pushed into the scan by
    ``tables.events_between``). The round's micro-batches lie outside the
    backfill's range, so their files are pruned; the backfill is credited
    with the history rows inside its range only. The round's last check
    also verifies the table and the matview."""

    name = "sli_ingest_txlog"

    def __init__(self, seed_rows: int, batch_rows: int, batches: int,
                 late_rows: int):
        self.seed_rows, self.batch_rows = seed_rows, batch_rows
        self.batches, self.late_rows = batches, late_rows
        self.files_read: list[float] = []

    def generate(self, root: str, seed: int) -> Inputs:
        import numpy as np
        import pyarrow.parquet as pq

        self.root, self.seed = os.path.join(root, self.name), seed
        os.makedirs(self.root, exist_ok=True)
        self.seed_path = os.path.join(self.root, "seed.parquet")
        tbl = gen.events_table(self.seed_rows, seed)
        pq.write_table(tbl, self.seed_path)
        ts = tbl["ts"].cast("int64").to_numpy()
        lo, hi = (_epoch_us(d) for d in BACKFILL[1:])
        self.window_rows = int(np.count_nonzero((ts >= lo) & (ts < hi)))
        return Inputs(rows=self.seed_rows,
                      bytes=os.path.getsize(self.seed_path))

    def setup(self, spark, tracer) -> None:
        from service_level_reporting_spark.sources.txlog_datasource import (
            TxLogDataSource)

        spark.dataSource.register(TxLogDataSource)
        if tracer.enabled:
            import spans
            spark.streams.addListener(spans.streaming_listener(tracer.progress))
        self.schema = spark.read.parquet(self.seed_path).schema
        self.cycle = 0

    def teardown(self, spark) -> None:
        self.state = None

    def warmup(self, spark, tracer) -> Iterator[Op]:
        return self.round(spark, tracer)

    def _reset(self, spark) -> None:
        """A fresh table holding the history load, its matview, an empty
        streaming checkpoint and inbox, and a raw history of the load."""
        from service_level_reporting_spark.operators import matview
        from service_level_reporting_spark.sources.txlog import TxLogTable

        for d in ("table", "ckpt", "inbox", "late", "hist"):
            shutil.rmtree(os.path.join(self.root, d), ignore_errors=True)
        for d in ("inbox", "late", "hist/events.parquet"):
            os.makedirs(os.path.join(self.root, d))
        self.hist = os.path.join(self.root, "hist")
        os.link(self.seed_path, os.path.join(self.hist, "events.parquet",
                                             "seed.parquet"))
        self.path = os.path.join(self.root, "table")
        self.table = TxLogTable(self.path, key_cols=["event_id"],
                                stats_col="ts")
        self.ingested = Inputs(bytes=os.path.getsize(self.seed_path),
                               files=[self.seed_path])
        self.table.append(spark.read.parquet(self.seed_path))
        self.state = matview.mv_init(self.table.read(spark),
                                     MV_SPEC).localCheckpoint(eager=True)
        self.mv_version = self.table.latest_version()

    def _land(self) -> tuple[str, tuple[int, int]]:
        """Write this round's micro-batch files (also linked into the raw
        history) and late points. Round c covers hour c of February 2024;
        event ids never repeat."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        c = self.cycle
        lo = gen.TS_HI + c * 3_600_000_000
        hi = lo + 3_600_000_000
        base = 100_000_000 + c * (self.batches + 1) * self.batch_rows
        for j in range(self.batches):
            tbl = gen.events_table(self.batch_rows, self.seed,
                                   base + j * self.batch_rows, lo, hi)
            name = f"c{c:05d}-b{j}.parquet"
            f = os.path.join(self.root, "inbox", name)
            pq.write_table(tbl, f + ".tmp")
            os.replace(f + ".tmp", f)
            os.link(f, os.path.join(self.hist, "events.parquet", name))
            self.ingested.bytes += os.path.getsize(f)
            self.ingested.files.append(f)
        # late points: half re-value rows of this round, half are new ids
        half = self.late_rows // 2
        late = pa.concat_tables([
            gen.events_table(half, self.seed + 1, base, lo, hi),
            gen.events_table(self.late_rows - half, self.seed + 1,
                             base + self.batches * self.batch_rows, lo, hi)])
        self.late_file = os.path.join(self.root, "late", f"c{c:05d}.parquet")
        pq.write_table(late, self.late_file)
        self.ingested.bytes += os.path.getsize(self.late_file)
        self.cycle += 1
        return self.late_file, (lo, hi)

    def _stream(self, spark, tracer) -> dict:
        out = {"applied": 0, "replayed": 0}

        def handle(batch_df, batch_id):
            with tracer.span("txlog.txn_append"):
                out["applied"] += self.table.txn_append(batch_df, WRITER,
                                                        batch_id)
            # the post-crash retry: the same batch id again must land nothing
            with tracer.span("txlog.txn_replay"):
                out["replayed"] += self.table.txn_append(batch_df, WRITER,
                                                         batch_id)

        q = (spark.readStream.schema(self.schema)
             .option("maxFilesPerTrigger", 1)
             .parquet(os.path.join(self.root, "inbox"))
             .writeStream.foreachBatch(handle)
             .option("checkpointLocation", os.path.join(self.root, "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return out

    def _check_stream(self, out: dict) -> str | None:
        if out["replayed"] or out["applied"] != self.batches:
            return (f"stream applied {out['applied']} of {self.batches} "
                    f"batches, replays applied {out['replayed']}")
        return None

    def round(self, spark, tracer) -> Iterator[Op]:
        from pyspark.sql import functions as F

        from service_level_reporting_spark.operators import matview

        self._reset(spark)
        late_file, (lo, hi) = self._land()
        yield Op("stream_commit", lambda: self._stream(spark, tracer),
                 self.batches * self.batch_rows, self._check_stream)

        def merge():
            with tracer.span("txlog.merge_into"):
                return self.table.merge_into(
                    spark.read.parquet(late_file),
                    [("update", None, {"value": "src_value"}),
                     ("insert", None, None)])
        yield Op("merge_into", merge, self.late_rows)

        def delete():
            with tracer.span("txlog.delete"):
                return self.table.delete(DELETE_PRED, mode="mor")
        yield Op("delete", delete, 0)

        def fold():
            to_v = self.table.latest_version()
            with tracer.span("txlog.changes"):
                ch = self.table.changes(spark, self.mv_version, to_v,
                                        net=True)
            with tracer.span("matview.fold"):
                res = matview.mv_apply_changes(
                    self.state, ch, MV_SPEC,
                    base=self.table.read(spark, version=to_v))
                self.state = res["state"].localCheckpoint(eager=True)
            self.mv_version = to_v
        yield Op("changes_fold", fold, 0)

        def optimize():
            before = self.table.latest_version()
            with tracer.span("txlog.optimize"):
                out = self.table.optimize(target_files=4)
            # compaction changes no row, so the view need not fold it
            if self.mv_version == before:
                self.mv_version = self.table.latest_version()
            return out
        yield Op("optimize", optimize, 0)

        ts_lo, ts_hi = (_dt.datetime.fromtimestamp(t / 1e6, _dt.timezone.utc)
                        .replace(tzinfo=None) for t in (lo, hi))

        def scan():
            return (spark.read.format("txlog").load(self.path)
                    .where((F.col("ts") >= F.lit(ts_lo))
                           & (F.col("ts") < F.lit(ts_hi))))

        def read():
            with tracer.span("txlog.read_plan"):
                agg = scan().agg(F.count(F.lit(1)).alias("n"))
            with tracer.span("spark.collect"):
                return agg.toPandas()

        def check_read(got):
            if tracer.enabled:      # files the pruned scan plans to read
                live = self.table.describe_detail()["num_files"]
                self.files_read.append(
                    scan().rdd.getNumPartitions() / max(1, live))
            return None if int(got["n"][0]) > 0 else "read found no rows"
        yield Op("read", read, 0, check_read)

        yield query_op(spark, tracer, BACKFILL[0], self.hist, self.window_rows,
                       lambda got: self._check_round(spark, got))

    def _expected(self) -> pd.DataFrame:
        base = ", ".join(f"'{f}'" for f in self.ingested.files)
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW base AS SELECT event_id, event_type, value "
                        f"FROM read_parquet([{base}])")
            con.execute(f"CREATE VIEW late AS SELECT event_id, event_type, "
                        f"value FROM read_parquet('{self.late_file}')")
            return con.execute(f"""
                SELECT event_type AS key, count(*) AS n,
                       round(sum(value), 4) AS total
                FROM (SELECT b.event_id, b.event_type,
                             coalesce(l.value, b.value) AS value
                      FROM base b LEFT JOIN late l USING (event_id)
                      UNION ALL
                      SELECT l.event_id, l.event_type, l.value FROM late l
                      WHERE l.event_id NOT IN (SELECT event_id FROM base))
                WHERE NOT ({DELETE_PRED})
                GROUP BY event_type""").fetchdf()
        finally:
            con.close()

    def _check_round(self, spark, got: pd.DataFrame) -> str | None:
        """The backfill against its oracle over the raw history, then the
        round's invariants: the table equals the DuckDB replay of every
        input and mutation, and the folded matview equals mv_init over the
        final snapshot."""
        from pyspark.sql import functions as F

        from service_level_reporting_spark.operators import matview

        want = duck_frame({"events": os.path.join(self.hist, "events.parquet",
                                                  "*.parquet")},
                          registry_oracle(BACKFILL[0]))
        if (why := compare(got, want)) is not None:
            return f"backfill: {why}"
        snap = self.table.read(spark)
        table = (snap.groupBy(F.col("event_type").alias("key"))
                 .agg(F.count(F.lit(1)).alias("n"),
                      F.round(F.sum("value"), 4).alias("total")).toPandas())
        if (why := compare(table, self._expected())) is not None:
            return f"table != replayed inputs: {why}"
        folded = matview.mv_read(self.state, MV_SPEC).toPandas()
        fresh = matview.mv_read(matview.mv_init(snap, MV_SPEC),
                                MV_SPEC).toPandas()
        if (why := compare(folded, fresh)) is not None:
            return f"matview fold != mv_init: {why}"
        return None

    def layer_metrics(self, tracer) -> dict[str, float]:
        """Write-side figures are of the last round's table."""
        hist = self.table.history()
        data = du(self.path) - du(os.path.join(self.path, "_txlog"))
        log = du(os.path.join(self.path, "_txlog"))
        self.table.vacuum(retain_versions=1, min_age_sec=0)
        space = du(self.path)
        n_progress = max(1, len(tracer.progress))
        phases = {k: sum(p["durationMs"].get(k, 0) for p in tracer.progress)
                  / 1e3 / n_progress
                  for k in ("addBatch", "queryPlanning", "walCommit",
                            "latestOffset")}
        return {
            "txlog.txn_append_s": tracer.mean("txlog.txn_append"),
            "txlog.merge_into_s": tracer.mean("txlog.merge_into"),
            "txlog.delete_s": tracer.mean("txlog.delete"),
            "txlog.changes_s": tracer.mean("txlog.changes"),
            "txlog.optimize_s": tracer.mean("txlog.optimize"),
            "txlog.read_plan_s": tracer.mean("txlog.read_plan"),
            "txlog.commits": float(len(hist)),
            "txlog.data_bytes_written": float(data),
            "txlog.log_bytes_written": float(log),
            "txlog.files_added": float(sum(h["n_added_files"] for h in hist)),
            "txlog.files_removed": float(sum(h["n_removed_files"]
                                             for h in hist)),
            "txlog.files_read_frac": (sum(self.files_read)
                                      / max(1, len(self.files_read))),
            "txlog.write_amplification": (data + log) / self.ingested.bytes,
            "txlog.space_amplification": space / self.ingested.bytes,
            "streaming.batches": (len(tracer.progress)
                                  / max(1, tracer.count("op.stream_commit"))),
            "streaming.add_batch_s": phases["addBatch"],
            "streaming.query_planning_s": phases["queryPlanning"],
            "streaming.wal_commit_s": phases["walCommit"],
            "streaming.latest_offset_s": phases["latestOffset"],
            "matview.fold_s": tracer.mean("matview.fold"),
            "operators.plan_build_s": plan_build_s(tracer),
        }


def make(name: str):
    """Workload by name, at the sizes the benchmark fixes for it."""
    if name == "slo_report_corpus":
        return SloReportCorpus(n_events=100_000, n_docs=300, n_vecs=150)
    if name == "sli_ingest_txlog":
        return SliIngest(seed_rows=20_000, batch_rows=5_000, batches=2,
                         late_rows=500)
    raise ValueError(f"unknown workload {name!r}")
