from .stream import (  # noqa: F401
    stream_from_parquet_dir,
    stream_to_sql_output,
    windowed_stream,
)
