"""The engine's scalar-function library.  Money and split helpers are
Column builders; the Form 700 cleaning and nested-data rules are Spark
SQL text, one body per rule, applied with ``selectExpr``/``F.expr`` —
JVM-side, whole-stage-codegen'd, no Python in the hot path."""

from .money import cents, cents_sql, money, money_sql  # noqa: F401
from .cleaning import (  # noqa: F401
    checkbox_cast,
    clean_field,
    number_cast,
    quote,
    schema_projection,
    snake_case,
    strip_newlines,
    text_cast,
)
from .nested import (  # noqa: F401
    explode_outer_flat,
    prefix_rename,
    schema_columns,
    stringify_structs,
    struct_leaves,
)
