"""Schema-driven JSON flattening (T1-T4 in SURVEY.md §2.3).

Reference semantics being reproduced (cites into /root/reference):
- dicts flatten recursively to ``parent_child`` columns
  (seghouse/util/json_util.py:1-10,16-20);
- arrays flatten to indexed columns ``a_0, a_1, ...``
  (seghouse/util/json_util.py:11-15);
- keys are decamelized (seghouse/jobs/send_to_warehouse.py:338) and
  cleaned — strip, drop spaces, ':'/'-' -> '_'
  (seghouse/util/json_util.py:23-24).

Spark-first design: the reference flattens row-at-a-time in Python;
here flattening is a *schema rewrite* — a driver-side walk over
``df.schema`` emitting one ``select`` of Column expressions
(``col("a.b")``, ``try_element_at(col("a"), i)``), all JVM-side and
whole-stage-codegen'd. Per-row cost is zero Python.

Array raggedness: the reference materializes the per-batch union of
keys, so ``a_i`` exists up to the *maximum observed* length, null for
shorter rows. We reproduce that with ONE aggregate pass computing
``max(size(c))`` for every array column in the batch (map-side
partial agg — a single cheap job even at scale), then
``try_element_at`` (null past the end, matching the reference's
missing-key -> NaN; ``element_at`` raises there under ANSI mode).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..naming import normalize_key


def _is_nested(dtype: T.DataType) -> bool:
    return isinstance(dtype, (T.StructType, T.ArrayType))


def _array_lengths(df: DataFrame, cols: list[str]) -> dict[str, int]:
    """Max observed length per array column, in one aggregate job."""
    if not cols:
        return {}
    aggs = [F.max(F.size(F.col(f"`{c}`"))).alias(c) for c in cols]
    row = df.agg(*aggs).first()
    return {c: max(row[c] or 0, 0) for c in cols}


def flatten(df: DataFrame) -> DataFrame:
    """Flatten all struct/array columns to scalar columns.

    Iterates one nesting level per pass (arrays of structs surface new
    structs); each pass is a single ``select`` — Catalyst collapses
    consecutive projections into one, so the physical plan stays a
    single projection over the scan regardless of depth.
    """
    while True:
        nested = [f for f in df.schema.fields if _is_nested(f.dataType)]
        arrays = [f.name for f in df.schema.fields if isinstance(f.dataType, T.ArrayType)]
        lengths = _array_lengths(df, arrays)

        if not nested:
            # final pass: just normalize any remaining names
            out_names = [normalize_key(f.name) for f in df.schema.fields]
            if out_names == [f.name for f in df.schema.fields]:
                return df
            return df.select(
                *[
                    F.col(f"`{f.name}`").alias(new)
                    for f, new in zip(df.schema.fields, out_names)
                ]
            )

        cols: list[Column] = []
        names: list[str] = []
        for f in df.schema.fields:
            base = normalize_key(f.name)
            if isinstance(f.dataType, T.StructType):
                for sub in f.dataType.fields:
                    cols.append(F.col(f"`{f.name}`.`{sub.name}`"))
                    names.append(f"{base}_{normalize_key(sub.name)}")
            elif isinstance(f.dataType, T.ArrayType):
                for i in range(lengths.get(f.name, 0)):
                    # 1-based; null past the end of a shorter row
                    # (reference: missing key -> NaN, json_util.py:11-15)
                    cols.append(F.try_element_at(F.col(f"`{f.name}`"), F.lit(i + 1)))
                    names.append(f"{base}_{i}")
            else:
                cols.append(F.col(f"`{f.name}`"))
                names.append(base)

        # duplicate post-normalization names: last occurrence wins
        # (reference dict-update semantics, json_util.py:16-20), except
        # we coalesce so a null in the winner doesn't mask data.
        seen: dict[str, int] = {}
        final_cols: list[Column] = []
        final_names: list[str] = []
        for c, n in zip(cols, names):
            if n in seen:
                i = seen[n]
                final_cols[i] = F.coalesce(c, final_cols[i])
            else:
                seen[n] = len(final_cols)
                final_cols.append(c)
                final_names.append(n)

        df = df.select(*[c.alias(n) for c, n in zip(final_cols, final_names)])
