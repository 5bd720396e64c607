from .io import (  # noqa: F401
    read_table,
    read_parquet,
    read_csv,
    read_json,
    read_jdbc,
    read_orc,
    write_orc,
    write_parquet,
    write_jdbc,
    upsert_parquet_files,
)
