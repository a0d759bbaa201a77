"""Incremental materialized-view maintenance over the txlog change feed.

Origin N — the lakehouse-consumer side of the LLM-pipeline mandate: a
derived aggregate table (per-key rollup, per-source corpus stats, a
training-mix accounting view) kept in sync with its base table by folding
each commit's CHANGE FEED instead of re-scanning the snapshot — classic
incremental view maintenance (IVM), the mechanism behind Delta Live
Tables / Materialize-style pipelines, composed here from this repo's own
parts (txlog `changes(net=True)` + algebraic partial aggregates).

The algebra, per group:
* **sum / count / avg** are self-invertible: fold the increment with
  signed weights (+_n insert, -_n delete); avg derives as sum/count at
  read. One pass over the increment, never the base.
* **min / max are NOT invertible under deletes** (removing the current
  extreme says nothing about the runner-up). The standard IVM answer is
  a scoped recompute: a group is SUSPECT only when a delete reaches the
  MERGED candidate extreme (deleted_min <= candidate_min, or deleted_max
  >= candidate_max, where candidate folds the stored state with the
  feed's insert side — r8 ADVICE: comparing against the stored state
  alone missed a group created and extreme-deleted within one raw feed,
  and recomputed needlessly when an insert strictly dominated the
  deleted value); suspect groups — and only those — re-aggregate min/max
  from the base snapshot via one key-scoped scan (left-semi join on the
  suspect keys; on a txlog base with cluster_by/typed stats that scan
  prunes to the groups' files). Inserts never force a recompute
  (least/greatest against the incoming extreme suffices).

Scale notes (100 TB): the increment pass is one groupBy on the view keys
over the CHANGE FEED (bounded by write traffic, not table size); the
state merge is a full-outer join on the same keys — co-partitioned with
the state's own layout at rest; the suspect recompute is the only base
access and is proportional to the number of groups whose extreme was
deleted, each prunable by key stats. A pipeline that never deletes (or
only appends) never touches the base at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# agg spec: {out_col: (op, src_col)} with op in SUM/COUNT/MIN/MAX/AVG;
# COUNT is count(*) (src ignored); AVG derives from a hidden sum+count.
MV_OPS = ("sum", "count", "min", "max", "avg")


def _compile(spec: dict) -> tuple[list[str], dict]:
    keys = list(spec["keys"])
    aggs = {}
    for out, (op, col) in spec["aggs"].items():
        if op not in MV_OPS:
            raise ValueError(f"matview: unsupported agg op {op!r}")
        aggs[out] = (op, col)
    return keys, aggs


def _state_cols(aggs: dict) -> list[str]:
    cols = ["__cnt"]
    for out, (op, _) in aggs.items():
        if op in ("sum", "avg"):
            cols.append(f"__sum_{out}")
        if op == "avg":
            cols.append(f"__n_{out}")
        if op in ("min", "max"):
            cols.append(f"__{op}_{out}")
        if op == "count":
            cols.append(f"__count_{out}")
    return cols


def mv_init(df: DataFrame, spec: dict) -> DataFrame:
    """Seed the view state from one snapshot scan: per-group algebraic
    partials (count, sums, per-agg non-null counts, extremes)."""
    keys, aggs = _compile(spec)
    exprs = [F.count(F.lit(1)).cast("long").alias("__cnt")]
    for out, (op, col) in aggs.items():
        if op in ("sum", "avg"):
            exprs.append(F.sum(col).alias(f"__sum_{out}"))
        if op == "avg":
            exprs.append(F.count(col).cast("long").alias(f"__n_{out}"))
        if op == "count":
            exprs.append(F.count(F.lit(1)).cast("long")
                         .alias(f"__count_{out}"))
        if op in ("min", "max"):
            exprs.append(getattr(F, op)(col).alias(f"__{op}_{out}"))
    return df.groupBy(*keys).agg(*exprs)


def mv_read(state: DataFrame, spec: dict) -> DataFrame:
    """The user-facing view: derive each declared aggregate from the
    algebraic state (avg = sum / non-null count)."""
    keys, aggs = _compile(spec)
    cols = [F.col(k) for k in keys]
    for out, (op, _) in aggs.items():
        if op == "sum":
            cols.append(F.col(f"__sum_{out}").alias(out))
        elif op == "count":
            cols.append(F.col(f"__count_{out}").alias(out))
        elif op == "avg":
            cols.append(F.try_divide(F.col(f"__sum_{out}"),
                                     F.col(f"__n_{out}")).alias(out))
        else:
            cols.append(F.col(f"__{op}_{out}").alias(out))
    return state.select(*cols)


def mv_apply_changes(state: DataFrame, changes: DataFrame, spec: dict,
                     base: DataFrame | None = None) -> dict:
    """Fold one effective change feed (txlog ``changes(net=True)`` shape:
    data columns + `_change_type` + multiplicity `_n`; `_n` defaults to 1
    when absent) into the state. Returns ``{"state": DataFrame,
    "suspects": DataFrame}`` — `suspects` is the key frame whose min/max
    required the scoped base recompute (empty when no delete touched an
    extreme; callers assert on it to pin the no-recompute fast path).
    ``base`` (the post-change snapshot) is only read for suspect groups;
    it MUST be provided when the spec has min/max and the feed has
    deletes."""
    keys, aggs = _compile(spec)
    n = (F.col("_n") if "_n" in changes.columns else F.lit(1)).cast("long")
    sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(-1)
    w = (sign * n).cast("long")
    is_del = F.col("_change_type") == "delete"

    exprs = [F.sum(w).alias("__d_cnt")]
    has_minmax = False
    for out, (op, col) in aggs.items():
        if op in ("sum", "avg"):
            exprs.append(F.sum(F.col(col) * w).alias(f"__d_sum_{out}"))
        if op == "avg":
            exprs.append(F.sum(F.when(F.col(col).isNotNull(), w)
                               .otherwise(0)).alias(f"__d_n_{out}"))
        if op == "count":
            exprs.append(F.sum(w).alias(f"__d_count_{out}"))
        if op in ("min", "max"):
            has_minmax = True
            exprs.append(getattr(F, op)(F.when(~is_del, F.col(col)))
                         .alias(f"__ins_{op}_{out}"))
            exprs.append(getattr(F, op)(F.when(is_del, F.col(col)))
                         .alias(f"__del_{op}_{out}"))
    delta = changes.groupBy(*keys).agg(*exprs)
    if has_minmax:
        # the suspect gate below and the returned state both read the
        # delta: materialize it (one row per touched group) so the change
        # feed is evaluated once, not twice
        delta = delta.localCheckpoint(eager=False)

    st = state.alias("s").join(delta.alias("d"), keys, "full_outer")
    z = F.lit(0).cast("long")
    new_cnt = (F.coalesce("s.__cnt", z) + F.coalesce("d.__d_cnt", z))
    out_cols = [F.col(k) for k in keys] + [new_cnt.alias("__cnt")]
    suspect = F.lit(False)
    for out, (op, col) in aggs.items():
        if op in ("sum", "avg"):
            out_cols.append((F.coalesce(f"s.__sum_{out}", F.lit(0))
                             + F.coalesce(f"d.__d_sum_{out}", F.lit(0)))
                            .alias(f"__sum_{out}"))
        if op == "avg":
            out_cols.append((F.coalesce(f"s.__n_{out}", z)
                             + F.coalesce(f"d.__d_n_{out}", z))
                            .alias(f"__n_{out}"))
        if op == "count":
            out_cols.append((F.coalesce(f"s.__count_{out}", z)
                             + F.coalesce(f"d.__d_count_{out}", z))
                            .alias(f"__count_{out}"))
        if op in ("min", "max"):
            pick = F.least if op == "min" else F.greatest
            cur = F.col(f"s.__{op}_{out}")
            ins = F.col(f"d.__ins_{op}_{out}")
            # least/greatest are null-safe only pairwise-coalesced
            cand = F.when(cur.isNull(), ins).when(ins.isNull(), cur) \
                    .otherwise(pick(cur, ins))
            out_cols.append(cand.alias(f"__{op}_{out}"))
            dext = F.col(f"d.__del_{op}_{out}")
            # a delete at/beyond the MERGED candidate may have removed the
            # candidate's witness row. Comparing against the candidate —
            # not the stored state — also covers a group with NO stored
            # state whose within-feed-inserted extreme is deleted in the
            # SAME (raw, non-net) feed: there cur is null but cand falls
            # back to the insert-side extreme, which includes the deleted
            # row (r8, ADVICE — reachable via stream_matview's first run,
            # which folds the whole history as one raw batch).
            hit = (dext <= cand) if op == "min" else (dext >= cand)
            suspect = suspect | (dext.isNotNull() & cand.isNotNull() & hit)
    merged = (st.select(*out_cols, suspect.alias("__suspect"))
              .where(F.col("__cnt") > 0))

    suspects = merged.where("__suspect").select(*keys)
    if has_minmax and suspects.limit(1).count() > 0:
        if base is None:
            raise ValueError(
                "matview: a delete removed a group extreme — min/max "
                "need the scoped base recompute; pass base=<snapshot>")
        scoped = base.join(suspects, keys, "left_semi")
        fix_exprs = []
        for out, (op, col) in aggs.items():
            if op in ("min", "max"):
                fix_exprs.append(getattr(F, op)(col)
                                 .alias(f"__fix_{op}_{out}"))
        fixes = scoped.groupBy(*keys).agg(*fix_exprs)
        m = merged.alias("m").join(fixes.alias("f"), keys, "left")
        cols = [F.col(k) for k in keys]
        for c in merged.columns:
            if c in keys or c == "__suspect":
                continue
            if c.startswith(("__min_", "__max_")):
                fix = "__fix" + c[1:]          # __min_x -> __fix_min_x
                cols.append(F.when(F.col("m.__suspect"), F.col(f"f.{fix}"))
                            .otherwise(F.col(f"m.{c}")).alias(c))
            else:
                cols.append(F.col(f"m.{c}").alias(c))
        merged = m.select(*cols)
    else:
        merged = merged.drop("__suspect")

    return {"state": merged, "suspects": suspects}
