"""Generic two-phase sketch aggregation.

Mirrors PostgreSQL's parallel-aggregate protocol that the reference wires up
for every sketch family (sfunc -> serialfunc -> [worker boundary] ->
deserialfunc -> combinefunc -> finalfunc; e.g.
/root/reference/sql/datasketches_theta_sketch.sql:85-163,
/root/reference/src/theta_sketch_pg_functions.c:247-334) as idiomatic Spark:

    stage 1 (map side, no shuffle): ``mapInArrow`` folds every Arrow batch
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
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.types import BinaryType, LongType, StructField, StructType

_STATE = "__sketch_state"


def _pandas(batch: pa.RecordBatch) -> pd.DataFrame:
    # a bigint column arrives as pandas' nullable Int64, not as float64
    # (which cannot hold every long), so a sketch key reaches the partial
    # exact and its NULLs stay visible without a sentinel value or a row
    # filter
    return batch.to_pandas(types_mapper={pa.int64(): pd.Int64Dtype()}.get, date_as_object=True)


def fold_partials(
    batches: Iterator[pa.RecordBatch],
    group_cols: list[str],
    input_cols: list[str],
    partial_fn: Callable[[pd.DataFrame], bytes],
    merge_fn: Callable[[list[bytes]], bytes],
) -> Iterator[pa.RecordBatch]:
    """Stage 1 over one partition's batches: one (group_cols..., state) row
    per group, all in one record batch; with no group columns, the one row
    (__g = 1, state)."""
    # one state list per group; a group's key columns are copied from the
    # Arrow row that first brings it, so they go back to Spark untouched
    # and no source batch outlives its own loop pass
    states: dict[tuple, list[bytes]] = {}
    keys: list[pa.RecordBatch] = []
    for batch in batches:
        if batch.num_rows == 0:
            continue
        pdf = _pandas(batch)
        if not group_cols:
            # global aggregate: one group per partition — skip the pandas
            # groupby entirely (measured 28.6s -> ~3s for
            # theta_sketch_distinct over 100M rows; per-batch groupby on a
            # constant key was ~90% of the stage)
            states.setdefault((), []).append(partial_fn(pdf))
            continue
        groups = pdf.groupby(group_cols, dropna=False, sort=False).indices
        first_rows = []
        for key, rows in groups.items():
            if not isinstance(key, tuple):
                key = (key,)
            if key not in states:
                states[key] = []
                first_rows.append(rows[0])
            states[key].append(partial_fn(pdf[input_cols].take(rows)))
        if first_rows:
            keys.append(batch.select(group_cols).take(first_rows))
    if not states:
        return
    merged = pa.array([merge_fn(parts) for parts in states.values()], type=pa.binary())
    if not group_cols:
        out = pa.table({"__g": pa.array([1], type=pa.int64()), _STATE: merged})
    else:
        out = pa.Table.from_batches(keys).combine_chunks().append_column(_STATE, merged)
    yield from out.to_batches()


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

    Every row reaches ``partial_fn``, NULL inputs included, so a group whose
    inputs are all NULL still gets its row (the partial skips the NULLs).
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

    fold_cols = [] if dummy else group_cols
    partials = proj.mapInArrow(
        lambda batches: fold_partials(batches, fold_cols, input_cols, partial_fn, merge_fn),
        schema=partial_schema,
    )

    def final_merge(pdf: pd.DataFrame) -> pd.DataFrame:
        state = merge_fn(list(pdf[_STATE]))
        row = {c: pdf[c].iloc[0] for c in group_cols}
        row.update(finalize_fn(state))
        return pd.DataFrame([row])

    result = partials.groupBy(*group_cols).applyInPandas(final_merge, schema=out_schema)
    return result.drop("__g") if dummy else result


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
