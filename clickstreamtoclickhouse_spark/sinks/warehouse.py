"""Abstract warehouse sink + factory (S13-S14, SURVEY.md §2.1).

Reference shape: ABC at seghouse/warehouse/warehouse.py:7-60 (connect,
create_schema, create_table, create_users_table, describe_table,
add_column, insert_df, misfits channel, close), factory at
seghouse/warehouse/factory.py:4-8, with every store step looping over
ALL configured warehouses (send_to_warehouse.py:98-100,158-159).
"""

from __future__ import annotations

from abc import ABC, abstractmethod

from pyspark.sql import DataFrame
from pyspark.sql import types as T


class Warehouse(ABC):
    """Sink interface: DDL + append for one destination system."""

    @abstractmethod
    def connect(self) -> None: ...

    @abstractmethod
    def close(self) -> None: ...

    @abstractmethod
    def create_schema(self, schema: str) -> None: ...

    @abstractmethod
    def create_table(
        self,
        schema: str,
        table: str,
        column_types: dict[str, T.DataType],
        non_null_columns: tuple[str, ...],
    ) -> None: ...

    @abstractmethod
    def describe_table(self, schema: str, table: str) -> dict[str, T.DataType]: ...

    @abstractmethod
    def add_column(
        self, schema: str, table: str, column: str, column_type: T.DataType
    ) -> None: ...

    @abstractmethod
    def insert_df(self, schema: str, table: str, df: DataFrame) -> None: ...

    def ensure_table_structure(
        self,
        schema: str,
        table: str,
        column_types: dict[str, T.DataType],
        non_null_columns: tuple[str, ...] = (),
    ) -> dict[str, T.DataType]:
        """S9-S10 additive evolution (send_to_warehouse.py:298-307):
        create if missing, then ADD COLUMN for any inferred column the
        sink lacks; never drop or retype — on conflict the table wins
        (the caller then reconciles values via
        operators.coerce.reconcile_types). Returns the table's actual
        schema after evolution."""
        self.create_schema(schema)
        self.create_table(schema, table, column_types, non_null_columns)
        actual = self.describe_table(schema, table)
        for col, dtype in column_types.items():
            if col not in actual:
                self.add_column(schema, table, col, dtype)
                actual[col] = dtype
        return actual


def get_warehouse(kind: str, **kwargs) -> Warehouse:
    """Factory (factory.py:4-8): config-driven sink instantiation."""
    if kind == "parquet":
        from .parquet_sink import ParquetWarehouse

        return ParquetWarehouse(**kwargs)
    if kind == "clickhouse":
        from .clickhouse import ClickHouseWarehouse

        return ClickHouseWarehouse(**kwargs)
    raise ValueError(f"unknown warehouse kind: {kind}")
