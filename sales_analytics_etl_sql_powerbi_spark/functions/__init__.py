"""Row-wise cleaning / derivation / key expressions (SURVEY §2.2, §2.8, §2.10).

All pure Column expressions — whole-stage-codegen friendly, no Python in
the executor hot path except the optional pandas_udf key variant.
"""

from .cleaning import (  # noqa: F401
    normalize_colname,
    normalize_columns,
    parse_timestamp,
    strip_units_to_double,
    valid_state_code,
    int_with_default,
    ensure_columns,
    blank_as_null,
    coalesce_product_key,
    truncate_to_widths,
    clean_whitespace,
)
from .keys import (  # noqa: F401
    stable_id_expr,
    stable_id_sql,
    stable_id_pandas_udf,
    dense_surrogate_id,
)
from .dates import (  # noqa: F401
    date_attributes,
    calendar_frame,
    DATE_PART_SQL,
)
