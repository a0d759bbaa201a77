"""TxLog as a NATIVE Spark data source (PySpark 4 Python DataSource API).

The lakehouse table (sources/txlog.py) becomes a first-class
``spark.read.format("txlog")`` / ``spark.readStream.format("txlog")``
source, so the table plugs into the standard reader surface instead of a
bespoke Python API:

* **Batch snapshot** — ``.option("version", v)`` time travel; one input
  partition PER DATA FILE (executor-parallel pyarrow reads, Arrow batches
  handed to the JVM — no row-at-a-time Python path). The snapshot version
  is PINNED once at analysis time (r7, ADVICE): schema inference and
  partition planning see the SAME version even if a concurrent commit
  lands between them — Delta's analysis-time snapshot rule.
* **Filter pushdown that reaches the LOG** — ``pushFilters`` collects
  per-column bounds and prunes whole files by the commit log's typed
  per-file stats (``TxLogTable._prune_files``, the pruner every rewrite
  uses) BEFORE any partition is planned: the scan never even
  opens a file the log proves irrelevant. All filters are returned as
  unhandled so Spark still applies them exactly (prune-only contract —
  the same split Delta's data skipping uses). Numbers compare
  numerically and a cross-kind bound never prunes, so no '9' > '10'
  string trap can skip a file — Spark's re-applied filter cannot
  recover a skipped file.
* **Schema from the COMMIT LOG** (r8, VERDICT): the snapshot schema
  derives from the log's checkpoint-carried ``metaData`` actions —
  O(checkpoint interval) log reads at analysis, never an O(n_files)
  driver-side footer storm (Delta's metaData action, for the same
  reason). Evolution semantics are unchanged: an additively-evolved
  table raises a clear error unless ``mergeSchema=true``, in which case
  per-file batches are padded with nulls executor-side — the same
  semantics as ``TxLogTable.read(merge_schema=True)``. A snapshot with
  live files and no recorded schema is a corrupt log and raises.
* **Streaming CDC source** — offsets ARE log versions: each micro-batch
  reads the commits in ``(start, end]``; partitions are the commits'
  files, read executor-side. Default mode is append-only (a rewrite
  commit fails loudly, Delta's contract; ``skipChangeCommits`` opts out);
  ``mode=changes`` streams the full change feed with ``_change_type`` /
  ``_commit_version`` columns. Offset tracking + deterministic
  per-version replay gives end-to-end exactly-once with any
  checkpointed sink. ``maxCommitsPerTrigger`` / ``maxRowsPerTrigger``
  (r9, VERDICT) bound each micro-batch so a deep backlog drains as
  individually-checkpointed pieces instead of one monolith — Delta's
  maxFilesPerTrigger, version-grained, row counts from log metadata.

Table config (key/stats columns) comes from ``_txlog/_meta.json`` written
at table creation, so a reader opens a table by path alone.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource, DataSourceReader, DataSourceStreamReader, EqualNullSafe,
    EqualTo, GreaterThan, GreaterThanOrEqual, In, InputPartition, IsNotNull,
    IsNull, LessThan, LessThanOrEqual)

from service_level_reporting_spark.sources.txlog import (
    TxLogTable, _bloom_canon, _comparable, _stat_norm, add_rows)

CDF_COLS = (("_change_type", "string"), ("_commit_version", "bigint"))
# r10 s2: withRowIds=true appends the stable identity columns (row
# tracking) — snapshot reads and the change feed alike
ROW_COLS = (("_row_id", "bigint"), ("_row_commit_version", "bigint"))


@dataclass
class _FilePart(InputPartition):
    path: str                     # absolute path of one parquet data file
    change_type: str | None      # None = plain snapshot read
    commit_version: int | None
    rel: str | None = None       # table-relative path (DV row matching)
    dv: tuple = ()               # absolute DV dirs masking this file
    row_ids: bool = False        # r10 s2: emit _row_id/_row_commit_version
    base: int | None = None      # the add's base_row_id (file-level legs)
    rcv: int | None = None       # the add's default_rcv


def _log_schema(t: TxLogTable, version: int, info: tuple, merge: bool):
    """Arrow snapshot schema from the COMMIT LOG's metaData actions (r8,
    VERDICT item 1): O(checkpoint interval) log reads instead of opening
    every live file's parquet footer on the driver at analysis time —
    at 10^5–10^6 live files the footer path is an O(n_files) storm per
    query analysis (Delta records schema in the log for the same
    reason). ``info`` is ``table_schema_info(version)``. Called only
    for a table that has live files or has written, and every
    add-writing path (writes, convert, clone, restore) records the
    schema, so an unrecorded one is a corrupt log and raises. The
    pinned evolution contract: an additively-evolved table read without
    mergeSchema raises (old files are null-padded executor-side once
    the option is set)."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructField, StructType

    sch, evolved = info
    if sch is None:
        raise ValueError(
            f"txlog source: snapshot {version} of {t.path} has live "
            "files but no recorded schema (no metaData action in the "
            "log) — the log is corrupt.")
    if evolved and not merge:
        raise ValueError(
            "txlog source: data files carry different schemas (the table "
            "underwent schema evolution); set .option('mergeSchema', "
            "'true') to read the union, or use TxLogTable.read("
            "merge_schema=True).")
    return to_arrow_schema(StructType(
        [StructField(f.name, f.dataType, True) for f in sch.fields]))


def _pin_snapshot(path: str, options) -> dict:
    """Resolve one read's snapshot: pinned version (latest at analysis
    time unless given), changes-range start and end, the arrow target
    schema over exactly that snapshot's files, and its column mapping."""
    t = TxLogTable.open(path)
    mode = options.get("mode", "")
    merge = str(options.get("mergeSchema", "false")).lower() == "true"
    if "timestampAsOf" in options:          # r7: TIMESTAMP AS OF (Delta's
        if "version" in options:            # option name) through the source
            raise ValueError("txlog source: give version OR timestampAsOf, "
                             "not both")
        version = t.version_at_timestamp(float(options["timestampAsOf"]))
    elif "version" in options:
        version = int(options["version"])
    else:
        version = t.latest_version()
    ending = (int(options["endingVersion"])
              if "endingVersion" in options else t.latest_version())
    # r9: a future log fails HERE, actionably — checked at the PINNED
    # snapshot (Delta's rule: a pre-upgrade version stays readable by a
    # reader that speaks its features; only commits <= the pin gate it)
    pinned = ending if mode == "changes" else version
    t._check_protocol(pinned)
    row_ids = str(options.get("withRowIds", "false")).lower() == "true"
    starting = -1
    if mode == "changes":
        s = options.get("startingVersion", "-1")
        starting = t.latest_version() if s == "latest" else int(s)
        if row_ids and (starting < 0
                        or t.row_tracking(starting) is None):
            # pre-enable commits can hold rows whose identity never
            # existed; a stream can't learn ids retroactively across
            # batches, so the contract is Delta's: snapshot-bootstrap
            # (read withRowIds), then feed from that version
            raise ValueError(
                "txlog source: withRowIds on a change feed requires "
                "startingVersion at or after enable_row_tracking() — "
                "bootstrap from a snapshot read (withRowIds=true), "
                "then start the feed at its version.")
    elif row_ids and t.row_tracking(version) is None:
        raise ValueError(
            "txlog source: withRowIds requires row tracking — call "
            "enable_row_tracking() first.")
    info = t.table_schema_info(pinned)
    # a snapshot needs live files; a change feed needs a table that has
    # written (every add-writing commit records the schema), so an empty
    # range of a written table is an empty feed, planned by partitions()
    if (info[0] is None or mode != "changes") and not t._resolve(version):
        raise ValueError("txlog source: empty table (no snapshot)")
    schema = _log_schema(t, pinned, info, merge)
    # r9 column mapping: executors project physical parquet names to the
    # pinned snapshot's logical schema; pruning translates its bounds
    m = t.column_mapping(pinned)
    l2p = ({f["logical"]: f["physical"] for f in m["fields"]}
           if m is not None else None)
    return {"version": version, "starting": starting, "ending": ending,
            "schema": schema, "mapping": l2p,
            "row_ids": row_ids}


def _dv_indexes(part: _FilePart) -> set:
    """Executor-side deletion-vector load: the masked ORIGINAL row
    indexes of this file, unioned over its DV chain (r7 s2)."""
    import pyarrow.dataset as ds

    dead: set = set()
    for d in part.dv:
        t = ds.dataset(d).to_table(
            filter=ds.field("file") == part.rel, columns=["row_index"])
        dead.update(t["row_index"].to_pylist())
    return dead


def _read_file_batches(part: _FilePart, target_schema=None, mapping=None):
    """Executor-side: stream one parquet file as Arrow batches, projected
    and null-padded to ``target_schema`` (evolved-table reconciliation),
    masking deletion-vector rows (original-row-index based), appending
    the CDF literals when the partition carries them. With column
    mapping (r9) the file's PHYSICAL names resolve to the target's
    logical fields through ``mapping`` (logical -> physical).

    ``part.row_ids`` (r10 s2) appends ``_row_id`` /
    ``_row_commit_version``: the file's materialized ``_tx_*`` columns
    where a rewrite preserved them, else the add's base_row_id + the
    row's ORIGINAL parquet index (pre-DV-mask — identity is positional
    in the file as written) / the add's default commit version — the
    same coalesce the table API's reader performs, here per Arrow batch
    with no extra scan or shuffle. Change-data sidecar partitions carry
    materialized ids only (base is None)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    dead = _dv_indexes(part) if part.dv else None
    offset = 0
    pf = pq.ParquetFile(part.path)
    for batch in pf.iter_batches():
        n0 = batch.num_rows
        orig = (list(range(offset, offset + n0))
                if part.row_ids else None)
        offset += n0
        if dead is not None:
            keep = [offset - n0 + i not in dead for i in range(n0)]
            batch = batch.filter(pa.array(keep))
            if orig is not None:
                orig = [x for x, k in zip(orig, keep) if k]
            if batch.num_rows == 0:
                continue
        rid_arr = rcv_arr = None
        if part.row_ids:
            n = batch.num_rows
            fall_id = (pa.array([part.base + i for i in orig],
                                type=pa.int64())
                       if part.base is not None
                       else pa.nulls(n, type=pa.int64()))
            fall_rcv = (pa.array([part.rcv] * n, type=pa.int64())
                        if part.rcv is not None
                        else pa.nulls(n, type=pa.int64()))
            names = batch.schema.names
            rid_arr = (pc.coalesce(batch.column("_tx_row_id").cast(
                           pa.int64()), fall_id)
                       if "_tx_row_id" in names else fall_id)
            rcv_arr = (pc.coalesce(batch.column("_tx_rcv").cast(
                           pa.int64()), fall_rcv)
                       if "_tx_rcv" in names else fall_rcv)
        if target_schema is not None and (mapping is not None
                                          or batch.schema != target_schema):
            arrays = []
            for field in target_schema:
                phys = (mapping or {}).get(field.name, field.name)
                i = batch.schema.get_field_index(phys)
                if i >= 0:
                    col = batch.column(i)
                    if col.type != field.type:
                        col = col.cast(field.type)
                    arrays.append(col)
                else:
                    arrays.append(pa.nulls(batch.num_rows, type=field.type))
            batch = pa.RecordBatch.from_arrays(arrays, schema=target_schema)
        if rid_arr is not None:
            arrays = list(batch.columns) + [rid_arr, rcv_arr]
            names = list(batch.schema.names) + [c for c, _ in ROW_COLS]
            batch = pa.RecordBatch.from_arrays(arrays, names=names)
        if part.change_type is not None:
            n = batch.num_rows
            arrays = list(batch.columns) + [
                pa.array([part.change_type] * n, type=pa.string()),
                pa.array([part.commit_version] * n, type=pa.int64())]
            names = list(batch.schema.names) + [c for c, _ in CDF_COLS]
            batch = pa.RecordBatch.from_arrays(arrays, names=names)
        yield batch


class TxLogBatchReader(DataSourceReader):
    def __init__(self, path: str, options, pin: dict | None = None):
        self.table_path = path
        self.mode = options.get("mode", "snapshot")
        if pin is None:                 # direct construction (tests)
            pin = _pin_snapshot(path, options)
        # analysis-time pin (r7): the version and the change range are
        # resolved ONCE in the DataSource so schema inference and
        # partition planning agree
        self.version = pin["version"]
        self.starting = pin["starting"]
        self.ending = pin["ending"]
        self.target_schema = pin["schema"]        # arrow, padded to on read
        self.mapping = pin.get("mapping")         # logical->physical (r9)
        self.row_ids = pin.get("row_ids", False)  # withRowIds (r10 s2)
        t = TxLogTable.open(path)
        self._table = t
        self.bounds: dict[str, list] = {}   # typed bounds, ANY column (r7)
        self.not_null: set[str] = set()     # IsNotNull pushdowns
        self.null_only: set[str] = set()    # IsNull pushdowns
        self.bloom_probes: list[str] | None = None   # EqualTo/In on the
        #   table's bloom_col (r7 s2) — smallest conjunct wins (any single
        #   conjunct is a safe upper bound on matching rows)
        self.pruned_files = 0          # observable (tests / EXPLAIN notes)

    def _probe(self, canon: list) -> None:
        if not canon or any(c is None for c in canon):
            return                  # un-canonicalizable: bloom stays off
        if self.bloom_probes is None or len(canon) < len(self.bloom_probes):
            self.bloom_probes = canon

    def _tighten(self, col: str, lo=None, hi=None) -> None:
        cur = self.bounds.setdefault(col, [None, None])
        if lo is not None and (cur[0] is None
                               or (_comparable(cur[0], lo) and lo > cur[0])):
            cur[0] = lo
        if hi is not None and (cur[1] is None
                               or (_comparable(cur[1], hi) and hi < cur[1])):
            cur[1] = hi

    def pushFilters(self, filters):
        """Collect per-column pruning bounds; EVERYTHING is yielded back
        as unhandled (Spark re-applies exactly; we only use the bounds to
        skip whole files via the log's typed stats, the one stats
        domain): comparisons, ``In``, ``IsNull``/``IsNotNull`` prune on
        ANY recorded column, the stats column included — numeric values
        compare numerically, so the '9' > '10' string trap cannot fire,
        and a cross-kind comparison never prunes (``file_may_match``'s
        conservative contract)."""
        for f in filters:
            attr = getattr(f, "attribute", None)
            col = attr[0] if attr is not None and len(attr) == 1 else None
            if col is not None:
                if isinstance(f, (EqualTo, EqualNullSafe, GreaterThan,
                                  GreaterThanOrEqual, LessThan,
                                  LessThanOrEqual)):
                    v = _stat_norm(f.value)
                    if v is not None:
                        if isinstance(f, (GreaterThan, GreaterThanOrEqual,
                                          EqualTo, EqualNullSafe)):
                            self._tighten(col, lo=v)
                        if isinstance(f, (LessThan, LessThanOrEqual,
                                          EqualTo, EqualNullSafe)):
                            self._tighten(col, hi=v)
                    if (col == self._table.bloom_col
                            and isinstance(f, (EqualTo, EqualNullSafe))):
                        self._probe(([_bloom_canon(f.value)]))
                elif isinstance(f, In):
                    vs = [_stat_norm(x) for x in f.value]
                    if (vs and all(v is not None for v in vs)
                            and all(_comparable(vs[0], v) for v in vs[1:])):
                        self._tighten(col, lo=min(vs), hi=max(vs))
                    if col == self._table.bloom_col:
                        self._probe([_bloom_canon(x) for x in f.value])
                elif isinstance(f, IsNotNull):
                    self.not_null.add(col)
                elif isinstance(f, IsNull):
                    self.null_only.add(col)
            yield f                   # prune-only: Spark still applies all

    def partitions(self):
        t = self._table
        if self.mode == "changes":
            parts = _change_parts(t, self.starting, self.ending,
                                  self.row_ids)
        else:
            live = t._resolve(self.version)
            # the rewrites' pruner (typed bounds, then the bloom point-key
            # probe), translating logical bounds through the pinned
            # version's column mapping
            keep = t._prune_files(
                live, {c: tuple(b) for c, b in self.bounds.items()},
                self.bloom_probes, version=self.version)
            # then the null-count prunes, on the stats' physical names
            l2p = self.mapping or {}
            not_null = {l2p.get(c, c) for c in self.not_null}
            null_only = {l2p.get(c, c) for c in self.null_only}

            def nulls_may_match(a: dict) -> bool:
                st = a.get("stats")
                rows = a.get("rows")
                if not st or not rows:
                    return True
                # The nulls==rows ("all-null") prune must compare the
                # file's ORIGINAL footer null count against the ORIGINAL
                # row count — but a merge-on-read delete decrements the
                # add's live 'rows' while keeping the original 'stats', so
                # a DV-carrying file where original_nulls == remaining
                # live rows would be wrongly skipped even though non-null
                # rows survive (r8, ADVICE). Skip the prune whenever the
                # add carries a DV chain; the IsNull prune below (nulls ==
                # 0) is deletion-monotone and stays.
                if not a.get("dv"):
                    for col in not_null:      # all-null file, IS NOT NULL
                        e = st.get(col)
                        if (e and e.get("nulls") is not None
                                and e["nulls"] == rows):
                            return False
                for col in null_only:         # null-free file, IS NULL
                    e = st.get(col)
                    if e and e.get("nulls") == 0:
                        return False
                return True

            keep = [a for a in keep if nulls_may_match(a)]
            self.pruned_files = len(live) - len(keep)
            parts = [_FilePart(
                         os.path.join(t.path, a["path"]), None, None,
                         rel=a["path"],
                         dv=tuple(os.path.join(t.path, d)
                                  for d in a.get("dv", ())),
                         row_ids=self.row_ids,
                         base=a.get("base_row_id"),
                         rcv=a.get("default_rcv"))
                     for a in keep]
        # Spark requires >= 1 partition; an empty-scan sentinel reads nothing
        return parts or [_FilePart("", None, None)]

    def read(self, partition: _FilePart):
        if not partition.path:
            return iter(())
        return _read_file_batches(partition, self.target_schema,
                                  self.mapping)


def committed_offset(checkpoint_dir: str) -> int:
    """The txlog source offset (version) of the last ENGINE-COMMITTED
    micro-batch in a stream checkpoint, or -1 before any batch commits
    (r10, VERDICT #5). Reads the offsets file of the newest entry in
    ``commits/`` — the engine's own exactly-once bookkeeping — so it
    advances even when a capped window contained only metadata-only
    commits and the batch carried zero rows (the signal the state
    watermark cannot give)."""
    cdir = os.path.join(checkpoint_dir, "commits")
    odir = os.path.join(checkpoint_dir, "offsets")
    try:
        done = [int(f) for f in os.listdir(cdir) if f.isdigit()]
    except OSError:
        return -1
    if not done:
        return -1
    with open(os.path.join(odir, str(max(done)))) as fh:
        lines = [ln for ln in fh.read().splitlines() if ln.strip()]
    off = json.loads(lines[-1])      # v1 format: offset JSON is last
    if isinstance(off, str):         # python datasources double-encode
        off = json.loads(off)
    return int(off["version"])


def drain_available(spark, table_path: str, checkpoint_dir: str,
                    configure_writer, *, mode: str = "append",
                    starting_version: int = -1,
                    max_commits_per_trigger: int | None = None,
                    max_rows_per_trigger: int | None = None,
                    options: dict | None = None,
                    timeout_sec: float = 120.0) -> dict:
    """Fully drain a CAPPED txlog stream under Trigger.AvailableNow
    (r10, VERDICT #5 — the one documented admission-control gap).

    Spark's availableNow wrapper for a plain MicroBatchStream captures
    ONE ``latestOffset()`` as the pass's target; with
    maxCommitsPerTrigger/maxRowsPerTrigger set, that target is the first
    CAPPED offset, so a single ``.trigger(availableNow=True)`` pass
    drains only one cap's worth (the Python stream protocol has no
    ``reportLatestOffset`` to advertise the true head separately). This
    helper loops capped availableNow passes against the SAME checkpoint
    — each pass resumes exactly where the engine committed, every batch
    stays under the cap, a crash between passes loses nothing — until
    the checkpoint's committed offset reaches the head observed at
    entry. Progress is the committed offset, NOT any sink-side
    watermark, so metadata-only windows don't stall the drain.

    ``configure_writer(df) -> DataStreamWriter`` receives the streaming
    DataFrame and attaches the sink (foreachBatch/format/...); the
    checkpoint location and availableNow trigger are applied here.
    Returns {"passes", "start_offset", "end_offset", "head"}."""
    spark.dataSource.register(TxLogDataSource)
    head0 = TxLogTable.open(table_path).latest_version()

    def one_pass():
        reader = (spark.readStream.format("txlog")
                  .option("mode", mode)
                  .option("startingVersion", str(starting_version)))
        if max_commits_per_trigger:
            reader = reader.option("maxCommitsPerTrigger",
                                   str(max_commits_per_trigger))
        if max_rows_per_trigger:
            reader = reader.option("maxRowsPerTrigger",
                                   str(max_rows_per_trigger))
        for k, v in (options or {}).items():
            reader = reader.option(k, str(v))
        q = (configure_writer(reader.load(table_path))
             .option("checkpointLocation", checkpoint_dir)
             .trigger(availableNow=True).start())
        try:
            q.awaitTermination(timeout_sec)
        finally:
            q.stop()

    start_off = committed_offset(checkpoint_dir)
    prev, passes = start_off, 0
    while True:
        one_pass()
        passes += 1
        off = committed_offset(checkpoint_dir)
        if off >= head0 or off <= prev:
            break
        prev = off
    return {"passes": passes, "start_offset": start_off,
            "end_offset": off, "head": head0}


def _change_parts(t: TxLogTable, start: int, end: int,
                  row_ids: bool) -> list[_FilePart]:
    """One partition per change leg of the commits in (start, end], as
    ``TxLogTable._change_files`` plans them (the planner
    ``TxLogTable.changes`` uses too): inserts then deletes per commit,
    each masked executor-side by the DV chain it carried at that
    commit."""
    return [_FilePart(os.path.join(t.path, q), ctype, v, rel=q,
                      dv=tuple(os.path.join(t.path, d) for d in ch),
                      row_ids=row_ids, base=b, rcv=rc)
            for v, adds, removes in t._change_files(start, end)
            for ctype, entries in (("insert", adds), ("delete", removes))
            for q, ch, b, rc in entries]


class TxLogStreamReader(DataSourceStreamReader):
    """Micro-batch CDC source: offset = {'version': v}; batch (start, end]
    plans one partition per file of the range's commits, read on
    executors. Append mode refuses rewrite commits unless
    skipChangeCommits (then they are skipped whole); changes mode emits
    the full feed. Batches are padded to the stream-start schema, so an
    additive evolution mid-stream neither drops rows nor breaks the sink
    (new columns surface after a stream restart re-infers the schema).

    Admission control (r9, VERDICT item 1 — Delta's maxFilesPerTrigger,
    version-grained here): without a cap, ``latestOffset()`` returns the
    table head unconditionally, so a stream started with
    ``startingVersion=-1`` against a long-lived table (or resuming after
    downtime) plans the ENTIRE backlog as ONE monolithic micro-batch —
    every file of every commit in one ``partitions()`` call that must
    succeed or retry wholesale, with checkpoint progress only at its
    end. ``maxCommitsPerTrigger`` / ``maxRowsPerTrigger`` (row counts
    from the commits' add actions — pure log metadata, no footer reads)
    cap how far each ``latestOffset()`` advances past the stream's
    current offset, so a backlog drains as bounded, individually
    checkpointed micro-batches. The current offset is tracked reader-
    side (the plain MicroBatch protocol never passes it to
    ``latestOffset``): it starts at ``startingVersion`` and ratchets
    monotonically through ``partitions``/``commit`` — traced engine
    behavior (pinned by the restart pytest): the engine replays the
    offset log's last batch through ``partitions`` BEFORE its first
    ``latestOffset``, so a restarted stream's floor lands on the
    checkpointed offset and the cap stays engaged from the first new
    batch; the floor can therefore never trail the checkpoint and
    offsets never regress.

    Trigger.AvailableNow caveat (measured): Spark's availableNow wrapper
    for a plain MicroBatchStream captures ONE ``latestOffset()`` as the
    pass's target — with a cap set that target is the first capped
    offset, so a single availableNow pass drains only one cap's worth
    (the Python stream protocol has no ``reportLatestOffset`` to
    advertise the true head separately). Default/processingTime triggers
    drain fully in capped batches; availableNow callers use the public
    ``drain_available`` helper below (r10, VERDICT #5), which loops
    capped passes against one checkpoint until the committed offset
    reaches the entry-time head."""

    def __init__(self, path: str, options, target_schema=None,
                 mapping=None):
        self._table = TxLogTable.open(path)
        self.mapping = mapping        # logical->physical (r9)
        self.mode = options.get("mode", "append")
        self.skip_change = (options.get("skipChangeCommits", "false")
                            .lower() == "true")
        s = options.get("startingVersion", "-1")
        self.start_version = (self._table.latest_version()
                              if s == "latest" else int(s))
        self.row_ids = (str(options.get("withRowIds", "false")).lower()
                        == "true")
        if self.row_ids and (
                self.start_version < 0
                or self._table.row_tracking(self.start_version) is None):
            # identity can't be learned retroactively across micro-
            # batches — Delta's contract: snapshot-bootstrap, then feed
            raise ValueError(
                "txlog stream: withRowIds requires startingVersion at "
                "or after enable_row_tracking() — bootstrap from a "
                "snapshot read (withRowIds=true), then start the feed "
                "at its version.")
        self.target_schema = target_schema
        mc = int(options.get("maxCommitsPerTrigger", 0))
        mr = int(options.get("maxRowsPerTrigger", 0))
        if mc < 0 or mr < 0:
            raise ValueError("txlog stream: maxCommitsPerTrigger / "
                             "maxRowsPerTrigger must be positive")
        self.max_commits = mc or None
        self.max_rows = mr or None
        # highest end offset this reader has evidence for: configured
        # start, ratcheted by partitions/commit (the engine calls
        # latestOffset BEFORE initialOffset on a fresh stream, and
        # replays the last batch's partitions() before the first
        # latestOffset on a restart — both observed and pytest-pinned)
        self._floor: int = self.start_version

    def initialOffset(self) -> dict:
        return {"version": self.start_version}

    def _commit_rows(self, v: int) -> int:
        """Rows a commit makes visible, from its add actions — log
        metadata only (never a parquet footer, never a data read)."""
        rec = self._table._commit_record(v)
        if rec is None:
            return 0
        return sum(add_rows(a["add"]) for a in rec["actions"] if "add" in a)

    def _admit(self, base: int, head: int) -> int:
        """The capped end offset: walk versions past ``base``, admitting
        commits until either cap trips — always at least one commit when
        data exists, so a single oversized commit still drains."""
        v, commits, rows = base, 0, 0
        while v < head:
            if self.max_commits is not None \
                    and commits + 1 > self.max_commits:
                break
            r = self._commit_rows(v + 1)
            if self.max_rows is not None and commits >= 1 \
                    and rows + r > self.max_rows:
                break
            v += 1
            commits += 1
            rows += r
        return v

    def latestOffset(self) -> dict:
        head = self._table.latest_version()
        if (self.max_commits is None and self.max_rows is None) \
                or head <= self._floor:
            return {"version": max(head, self._floor)}
        end = self._admit(self._floor, head)
        self._floor = end
        return {"version": end}

    def partitions(self, start: dict, end: dict):
        self._floor = max(self._floor, start["version"], end["version"])
        t = self._table
        if self.mode == "changes":
            # r8: MoR commits are served from their change-data sidecar,
            # and removed/re-added DV-carrying files mask executor-side —
            # one planner call for the whole batch, shared with the batch
            # path and TxLogTable.changes
            return (_change_parts(t, start["version"], end["version"],
                                  self.row_ids)
                    or [_FilePart("", None, None)])
        parts: list[_FilePart] = []
        for v in range(start["version"] + 1, end["version"] + 1):
            rec = t._commit_record(v)
            if rec is None:
                t._raise_missing(v)  # expired (r9) vs corrupt, actionable
            adds = [a["add"] for a in rec["actions"]
                    if "add" in a and add_rows(a["add"]) > 0]
            removes = [a["remove"] for a in rec["actions"] if "remove" in a]
            dv_adds = any("add" in a and a["add"].get("dv")
                          for a in rec["actions"])
            if removes or rec.get("cdf") or dv_adds:
                # a MoR delete changes data without removes in the
                # degenerate case, and a RESTORE-style re-add of a
                # DV-carrying file is changed data too; treat both
                # like any rewrite commit
                if self.skip_change:
                    continue         # skip the rewrite commit wholesale
                raise ValueError(
                    f"txlog stream: version {v} rewrites data "
                    "(merge/delete/update/optimize). Append-only "
                    "streams refuse changed data; set "
                    "skipChangeCommits=true or use mode=changes.")
            parts += [_FilePart(os.path.join(t.path, a["path"]),
                                None, None, row_ids=self.row_ids,
                                base=a.get("base_row_id"),
                                rcv=a.get("default_rcv"))
                      for a in adds]
        return parts or [_FilePart("", None, None)]

    def read(self, partition: _FilePart):
        if not partition.path:
            return iter(())
        return _read_file_batches(partition, self.target_schema,
                                  self.mapping)

    def commit(self, end: dict) -> None:
        # log retention is vacuum's job; remember the committed offset
        # so admission control stays engaged across engine code paths
        self._floor = max(self._floor, end["version"])


class TxLogDataSource(DataSource):
    """``spark.dataSource.register(TxLogDataSource)`` then
    ``spark.read.format("txlog").load(path)``. Options: ``version``
    (batch time travel), ``mode`` (``snapshot`` | ``changes`` batch;
    ``append`` | ``changes`` streaming), ``startingVersion`` /
    ``endingVersion`` (changes range; streaming start — ``latest`` for
    new-data-only), ``mergeSchema`` (read an additively-evolved table as
    the union of its files' schemas), ``skipChangeCommits`` (streaming),
    ``maxCommitsPerTrigger`` / ``maxRowsPerTrigger`` (streaming
    admission control — a backlog drains as bounded micro-batches),
    ``withRowIds`` (r10 s2: append ``_row_id`` /
    ``_row_commit_version`` — row tracking's stable identities — to
    snapshot reads and change feeds alike; change feeds must start at
    or after the enable version)."""

    @classmethod
    def name(cls) -> str:
        return "txlog"

    def _path(self) -> str:
        p = self.options.get("path")
        if not p:
            raise ValueError("txlog source: .load(<table path>) required")
        # r11 (SQL surface): `CREATE TABLE ... USING txlog LOCATION/
        # OPTIONS(path ...)` hands the catalog-normalized URI form
        # (file:/x or file:///x) — strip the local-fs scheme so the
        # same table registers identically via SQL and .load(path)
        if p.startswith("file:"):
            from urllib.parse import urlparse
            parsed = urlparse(p)
            p = parsed.path or p[len("file:"):]
        return p

    def _analyze(self) -> dict:
        """Resolve the snapshot ONCE per read (cached): schema() and
        reader() cannot observe different snapshots even if a commit
        lands between Spark's analysis and planning."""
        if getattr(self, "_pin", None) is None:
            self._pin = _pin_snapshot(self._path(), self.options)
        return self._pin

    def schema(self):
        from pyspark.sql.pandas.types import from_arrow_schema
        from pyspark.sql.types import StructField, StructType

        pin = self._analyze()
        sch = from_arrow_schema(pin["schema"])
        # file sources are nullable throughout (any later file may hold
        # nulls) — same normalization spark.read.parquet applies
        sch = StructType([StructField(f.name, f.dataType, True)
                          for f in sch])
        mode = self.options.get("mode", "")
        rid = ([f"{c} {typ}" for c, typ in ROW_COLS]
               if pin.get("row_ids") else [])
        if mode == "changes" or rid:
            ddl = ", ".join(
                [f"`{f.name}` {f.dataType.simpleString()}" for f in sch]
                + rid
                + ([f"{c} {typ}" for c, typ in CDF_COLS]
                   if mode == "changes" else []))
            return ddl
        return sch

    def reader(self, schema) -> TxLogBatchReader:
        return TxLogBatchReader(self._path(), self.options, self._analyze())

    def streamReader(self, schema) -> TxLogStreamReader:
        pin = self._analyze()
        return TxLogStreamReader(self._path(), self.options,
                                 pin["schema"], pin.get("mapping"))
