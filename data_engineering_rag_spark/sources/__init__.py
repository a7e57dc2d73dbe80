from .catalog import read_parquet_table

__all__ = ["read_parquet_table"]
