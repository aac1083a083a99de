from .parquet import TABLE_NAMES, load  # noqa: F401
