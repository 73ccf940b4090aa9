"""Nested-data operators — the heart of the reference (SURVEY §2.4).

The reference hand-rolls an O(n²) per-row explode
(/root/reference/Form700.py:354-383) and a row-apply array-of-struct
stringifier (Form700.py:306-323).  Both are linear, codegen'd built-ins
in Spark: ``explode_outer`` and higher-order array functions.  Each rule
renders Spark SQL text over ``Columns`` — output name -> (SQL source,
Spark type) — walked from one ``df.schema`` read, so a nested table
costs a few ``selectExpr`` calls, not one py4j call per field.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .cleaning import quote

Columns = dict[str, tuple[str, T.DataType]]


def schema_columns(schema: T.StructType) -> Columns:
    """The identity ``Columns`` of a relation: each top-level column as
    its own quoted name."""
    return {f.name: (quote(f.name), f.dataType) for f in schema.fields}


def struct_leaves(expr: str, dtype: T.StructType) -> Columns:
    """Reference N1 ``json_normalize`` (Form700.py:153, 181, 367): one
    column per leaf of the struct ``expr``, nested structs becoming
    DOTTED column names (``loan`` -> ``loan.address`` …, the shape the
    scheduleB schema CSV declares).  Arrays are kept as columns — they
    are routed later by N3 (stringify or explode).  A NULL struct (from
    ``explode_outer`` of an empty filing) yields NULL leaves, matching
    json_normalize of a missing object."""
    out: Columns = {}
    for f in dtype.fields:
        src = f"{expr}.{quote(f.name)}"
        if isinstance(f.dataType, T.StructType):
            out.update({f"{f.name}.{n}": c for n, c in struct_leaves(src, f.dataType).items()})
        else:
            out[f.name] = (src, f.dataType)
    return out


def stringify_structs(expr: str, fields: Sequence[str]) -> str:
    """Reference N2 ``flatten_json`` (Form700.py:306-323): each struct in
    an array becomes ``"k:v,k:v"``; structs joined by ``"|"``; empty
    string values become NULL first (Form700.py:314-315) and NULL/empty
    pairs are dropped from the output.

    Py2 dict iteration order was arbitrary; the engine defines the
    canonical order as the struct's declared field order (``fields``).
    Pure higher-order functions — no UDF; ``array_join`` skips NULLs.
    """
    pairs = []
    for f in fields:
        v = f"CAST(x.{quote(f)} AS STRING)"
        pairs.append(f"CASE WHEN {v} IS NOT NULL AND {v} != '' THEN concat('{f}:', {v}) END")
    return f"array_join(transform({expr}, x -> array_join(array({', '.join(pairs)}), ',')), '|')"


def explode_outer_flat(
    df: DataFrame, cols: Columns, field: str, prefix: str = ""
) -> tuple[DataFrame, Columns]:
    """Reference E1 ``explodeGiftsAndProperties`` (Form700.py:354-383):
    one output row per element of the array<struct> ``field`` with
    parent columns repeated; an empty/NULL array keeps one row of NULL
    children (the reference's left merge on a synthetic index_col, in
    one linear pass).  Children take their E2 ``prefix_rename`` name.
    The parent ``cols`` are projected BEFORE the explode, so what they
    compute (flatten, N2) runs once per parent row, not per child."""
    element = cols[field][1].elementType
    df = df.selectExpr(*(f"{src} AS {quote(n)}" for n, (src, _) in cols.items()))
    df = df.selectExpr("*", f"explode_outer({quote(field)}) AS __x")
    out = {n: (quote(n), t) for n, (_, t) in cols.items() if n != field}
    for f in element.fields:
        out[prefix_rename(f.name, prefix)] = (f"__x.{quote(f.name)}", f.dataType)
    return df, out


def prefix_rename(name: str, prefix: str) -> str:
    """E2 (Form700.py:356-362): upper-camel the first letter, prepend
    the prefix (``fairMarketValue`` -> ``realPropertyFairMarketValue``)."""
    if not prefix:
        return name
    return prefix + name[0].upper() + name[1:]
