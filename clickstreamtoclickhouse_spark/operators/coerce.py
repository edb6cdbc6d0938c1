"""Type coercion with misfit quarantine (SURVEY.md §2.4).

The reference's "analyzer": infer a logical type per column from data
(dataframe_util.py:11-40), reconcile against the sink table's schema,
and coerce row values — unfixable values are NULLed and a diagnostic
row goes to the `misfits` table (dataframe_util.py:99-185,
clickhouse.py:217-252). Inference (C1) is Spark's JSON reader, whose
union-inferred types ``app.store_table`` hands to the sink as is; this
module reconciles and coerces.

Spark-first: coercion is ``try_cast`` (ANSI cast-or-null — matches
Python ``int(v)``/``float(v)`` raising on junk); misfit capture is a
single projection that, per row, collects the diagnostics of every
failed column into an array, then explodes the non-empty arrays. One
pass computes both the cleaned batch and the quarantine side-output —
no row-at-a-time Python, no per-column rescan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_CASTABLE = (T.LongType, T.DoubleType, T.BooleanType, T.TimestampType, T.IntegerType)


def reconcile_types(
    df: DataFrame,
    expected: dict[str, T.DataType],
    table_name: str,
    message_id_col: str = "message_id",
) -> tuple[DataFrame, DataFrame | None]:
    """C2-C5: coerce columns to the sink schema; quarantine failures.

    Returns ``(clean_df, misfits_df)``. ``clean_df`` has every shared
    column try_cast to the expected type (failures -> NULL, matching
    the reference nulling the offending value,
    dataframe_util.py:156-162,178-185). ``misfits_df`` has one row per
    (row, failed column) with the reference's diagnostic shape
    (clickhouse.py:222-233), or is None when no column needed a
    checked cast (nothing can misfit).

    The caller should cache `df` if it will also write `clean_df`
    (both outputs share the scan; misfits are computed from the same
    projection).
    """
    casts: dict[str, Column] = {}
    diags: list[Column] = []
    for name, want in expected.items():
        if name not in df.columns:
            continue
        have = df.schema[name].dataType
        if have == want:
            continue
        orig = F.col(name)
        casted = orig.try_cast(want)
        casts[name] = casted
        if isinstance(want, _CASTABLE):
            failed = orig.isNotNull() & casted.isNull()
            diags.append(
                F.when(
                    failed,
                    F.struct(
                        F.lit(table_name).alias("table_name"),
                        F.lit(name).alias("column_name"),
                        orig.cast("string").alias("column_value"),
                        F.lit(want.simpleString()).alias("expected_data_type"),
                        F.lit(have.simpleString()).alias("actual_data_type"),
                    ),
                )
            )

    clean = df.withColumns(casts) if casts else df
    if not diags:
        return clean, None

    mid = (
        F.col(message_id_col).cast("string")
        if message_id_col in df.columns
        else F.lit(None).cast("string")
    )
    misfits = (
        df.withColumn("_misfit_diags", F.array_compact(F.array(*diags)))
        .filter(F.size("_misfit_diags") > 0)
        .select(mid.alias("message_id"), F.explode("_misfit_diags").alias("d"))
        .select(
            "message_id",
            "d.table_name",
            "d.column_name",
            "d.column_value",
            "d.expected_data_type",
            "d.actual_data_type",
        )
    )
    return clean, misfits
