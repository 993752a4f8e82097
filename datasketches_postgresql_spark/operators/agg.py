"""Generic two-phase sketch aggregation.

Mirrors PostgreSQL's parallel-aggregate protocol that the reference wires up
for every sketch family (sfunc -> serialfunc -> [worker boundary] ->
deserialfunc -> combinefunc -> finalfunc; e.g.
/root/reference/sql/datasketches_theta_sketch.sql:85-163,
/root/reference/src/theta_sketch_pg_functions.c:247-334) as idiomatic Spark:

    stage 1 (map side, no shuffle): ``mapInPandas`` folds every Arrow batch
        of an input partition into ONE serialized sketch state per group —
        the sfunc + serialfunc. Output rows: (group_cols..., state bytes).
    stage 2 (one shuffle of tiny states): ``groupBy(group).applyInPandas``
        merges the per-partition states and finalizes — the combinefunc +
        finalfunc.

Scale notes:
- The shuffle moves at most (#partitions x #groups) serialized sketches, KB
  each — NOT the raw rows. This is what makes sketch metrics additive in a
  data cube (reference README.md:211,245,299,434) and is the property the
  dedup pipeline's lineage metrics exploit at 100 TB.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, LongType, StructField, StructType

_STATE = "__sketch_state"


def sketch_groupby_agg(
    df: DataFrame,
    group_cols: list[str],
    input_cols: list[str],
    partial_fn: Callable[[pd.DataFrame], bytes],
    merge_fn: Callable[[list[bytes]], bytes],
    finalize_fn: Callable[[bytes], dict],
    out_fields: list[StructField],
) -> DataFrame:
    """Aggregate ``input_cols`` into one sketch per group.

    partial_fn : pandas DataFrame (input_cols) for one group-chunk -> state bytes
    merge_fn   : list of state bytes -> state bytes
    finalize_fn: state bytes -> {out_col: value}
    """
    group_cols = list(group_cols)
    dummy = not group_cols
    if dummy:
        # Global aggregate: do NOT materialize a constant group column in
        # the Arrow-transferred projection — a second column (even lit(1))
        # forces pandas block consolidation on conversion and cost ~10x on
        # a 100M-row single-column transfer. The key is synthesized
        # Python-side on the one partial row per partition.
        group_cols = ["__g"]
        proj = df.select(*input_cols)
        g_fields = [StructField("__g", LongType())]
    else:
        proj = df.select(*group_cols, *input_cols)
        g_fields = [proj.schema[c] for c in group_cols]
    out_schema = StructType(g_fields + out_fields)

    partial_schema = StructType(g_fields + [StructField(_STATE, BinaryType())])

    def gen_partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if dummy:
            # global aggregate: one group per partition — skip the pandas
            # groupby entirely (measured 28.6s -> ~3s for
            # theta_sketch_distinct over 100M rows; per-batch groupby on a
            # constant key was ~90% of the stage)
            parts: list[bytes] = []
            for pdf in batches:
                if len(pdf):
                    parts.append(partial_fn(pdf[input_cols]))
            if parts:
                yield pd.DataFrame({"__g": [1], _STATE: [merge_fn(parts)]})
            return
        states: dict[tuple, list[bytes]] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            for key, sub in pdf.groupby(group_cols, dropna=False, sort=False):
                if not isinstance(key, tuple):
                    key = (key,)
                states.setdefault(key, []).append(partial_fn(sub[input_cols]))
        if states:
            rows = [
                dict(zip(group_cols, key)) | {_STATE: merge_fn(parts)}
                for key, parts in states.items()
            ]
            yield pd.DataFrame(rows, columns=group_cols + [_STATE])

    partials = proj.mapInPandas(gen_partials, schema=partial_schema)

    def final_merge(pdf: pd.DataFrame) -> pd.DataFrame:
        state = merge_fn(list(pdf[_STATE]))
        row = {c: pdf[c].iloc[0] for c in group_cols}
        row.update(finalize_fn(state))
        return pd.DataFrame([row])

    result = partials.groupBy(*group_cols).applyInPandas(final_merge, schema=out_schema)
    return result.drop("__g") if dummy else result


def keep_group_keys(
    source: DataFrame,
    group_cols: list[str],
    result: DataFrame,
    fill: dict[str, object],
) -> DataFrame:
    """Re-attach group keys that vanished because every row in the group was
    filtered (NULL inputs). PostgreSQL aggregates run ffunc even when sfunc
    skipped every row, so the reference emits a row per group with an empty
    sketch (src/theta_sketch_pg_functions.c:78-82 skips NULLs; the FINALFUNC
    still fires per group) — a plain post-filter groupBy loses those groups.
    ``fill`` maps output column -> value for the resurrected groups (empty
    sketch bytes / 0.0 estimate). No-op for global aggregates.

    Scale: the join is keys (one row per group) against the aggregated
    result (same cardinality) — never the raw rows."""
    if not group_cols:
        return result
    keys = source.select(*group_cols).distinct()
    out = keys.join(result, list(group_cols), "left")
    for c, v in fill.items():
        out = out.withColumn(c, F.coalesce(F.col(c), F.lit(v)))
    return out


def sketch_merge_agg(
    df: DataFrame,
    group_cols: list[str],
    sketch_col: str,
    merge_fn: Callable[[list[bytes]], bytes],
    finalize_fn: Callable[[bytes], dict],
    out_fields: list[StructField],
) -> DataFrame:
    """Merge a column of stored sketches per group (the reference's
    *_union/*_merge aggregates over sketch-typed columns,
    sql/datasketches_theta_sketch.sql:135-163)."""
    return sketch_groupby_agg(
        df,
        group_cols,
        [sketch_col],
        partial_fn=lambda pdf: merge_fn([b for b in pdf[sketch_col] if b is not None]),
        merge_fn=merge_fn,
        finalize_fn=finalize_fn,
        out_fields=out_fields,
    )
