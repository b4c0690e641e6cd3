"""Sources & sinks — SURVEY §2.1 (S1–S9)."""

from .readers import (  # noqa: F401
    read_csv_all_string,
    read_excel,
    read_input,
    read_table,
)
from .sinks import (  # noqa: F401
    ConcurrentWriteError,
    write_append,
    write_overwrite,
    create_table_if_not_exists,
    with_load_defaults,
    register_temp_view,
)
