from .readers import (
    TABLES,
    footer_schema,
    load_table,
    register_star_schema,
    read_csv,
    read_json,
)

__all__ = [
    "TABLES",
    "footer_schema",
    "load_table",
    "register_star_schema",
    "read_csv",
    "read_json",
]
