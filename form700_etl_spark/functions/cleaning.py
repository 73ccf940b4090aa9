"""Schema-driven cleaning/casting rules — reference parity.

Rebuilds the reference's ``cleanDataSet`` column pipeline
(Form700.py:246-298).  The reference interprets a per-column type map
(text/number/checkbox/date, SURVEY §1.3) and applies row-at-a-time
pandas casts; here each rule is ONE body of Spark SQL text, so a
dataset's whole clean pass is a single rendered
``selectExpr`` inside whole-stage codegen — no Python per row, one
parse per column instead of a py4j round trip per composed Column call,
and the same expression tree scales to any number of executors.  Query
builders and tests apply a rule with ``selectExpr``/``F.expr``.
"""

from __future__ import annotations

import re
from collections.abc import Iterable, Mapping

from pyspark.sql import Column
from pyspark.sql import functions as F


def quote(name: str) -> str:
    """SQL identifier for a LITERAL column name.  The reference's schema
    CSVs carry dotted field names (``loan.address``,
    /root/reference/form700_schemas/form700_scheduleB_schema.csv:20-30)
    — a bare name would parse the dot as struct access."""
    return "`" + name + "`"


def number_cast(expr: str) -> str:
    """Reference 'number' cast (Form700.py:261-273): stringify, replace
    every letter and ``%`` with ``'0'`` (letters become zeros *inside*
    the number — that is the reference's documented, if odd, semantics),
    then parse; unparseable values and NULLs become 0.

    The reference tries int first and falls back to a float column; we
    normalize the output type to double (one engine type per declared
    type; ``0.0D`` is a DOUBLE literal, a bare ``0.0`` would be DECIMAL).
    ``try_cast``, not ``CAST``: Spark 4 runs ANSI mode, where a malformed
    cast throws; the reference's semantics are "unparseable -> 0".
    DuckDB oracle mirror:
    ``coalesce(TRY_CAST(regexp_replace(CAST(x AS VARCHAR), '[a-zA-Z%]', '0', 'g') AS DOUBLE), 0.0)``.
    """
    return (
        f"coalesce(try_cast(regexp_replace(CAST({expr} AS STRING), '[a-zA-Z%]', '0')"
        " AS DOUBLE), 0.0D)"
    )


def text_cast(expr: str) -> str:
    """Reference 'text' cast (Form700.py:274-279): NULL -> '' then
    stringify.  The Py2 ascii-backslashreplace fallback is moot on
    UTF-8-native Spark — UTF-8 text flows through unmangled; a consumer
    that needs the legacy escaped form wraps the result in
    :func:`ascii_translit`.  Also the declared 'date' type: the
    reference's date branch is commented out (Form700.py:285-288), so
    dates flow through as text."""
    return f"coalesce(CAST({expr} AS STRING), '')"


def ascii_translit(col: str | Column) -> Column:
    """Reference C6 ``castAscii`` (Form700.py:291-294): Python 2's
    ``unicode.encode('ascii', 'backslashreplace')`` — every non-ASCII
    code point becomes its ``\\xHH`` / ``\\uHHHH`` / ``\\UHHHHHHHH``
    escape, ASCII passes through.  Pure built-in expression (per-code-
    point transform + hex), codegen'd JVM-side; unit-tested char-exact
    against CPython's backslashreplace output, including astral-plane
    code points.  Not part of the clean pass: Spark is UTF-8-native, so
    only a consumer that requires the legacy bytes form applies it."""
    c = F.col(col) if isinstance(col, str) else col

    def _escape(ch: Column) -> Column:
        cp = F.ascii(ch)  # full code point of the single-char element
        hx = F.lower(F.hex(cp))
        return (
            F.when(cp.between(0, 127), ch)
            .when(cp < 256, F.concat(F.lit("\\x"), F.lpad(hx, 2, "0")))
            .when(cp < 65536, F.concat(F.lit("\\u"), F.lpad(hx, 4, "0")))
            .otherwise(F.concat(F.lit("\\U"), F.lpad(hx, 8, "0")))
        )

    return F.concat_ws("", F.transform(F.split(c, ""), _escape))


def checkbox_cast(expr: str) -> str:
    """Reference 'checkbox' cast (Form700.py:280-284): NULL -> False."""
    return f"coalesce(CAST({expr} AS BOOLEAN), false)"


def strip_newlines(expr: str) -> str:
    """Reference ``removeNewLines`` (Form700.py:296-298): whole-frame
    regex replace of ``\\n`` with ``''`` — applied per text column here
    (the SQL literal ``'\\n'`` unescapes to the newline character)."""
    return f"regexp_replace({expr}, '\\n', '')"


_SNAKE_1 = re.compile(r"([A-Z]+)([A-Z][a-z])")
_SNAKE_2 = re.compile(r"([a-z\d])([A-Z])")


def snake_case(name: str) -> str:
    """Reference column rename (Form700.py:464-468): drop dots, then
    ``inflection.underscore`` camelCase -> snake_case.  Reimplemented
    from the published inflection algorithm (public PyPI package)."""
    name = name.replace(".", "")
    name = _SNAKE_1.sub(r"\1_\2", name)
    name = _SNAKE_2.sub(r"\1_\2", name)
    return name.replace("-", "_").lower()


def titleize(name: str) -> str:
    """C10 display-name titleize (Form700.py:201): the reference's
    schema bootstrap runs ``inflection.titleize`` over each inferred
    fieldName to propose a human column name.  Reimplemented from the
    published inflection algorithm (underscore -> humanize -> capitalize
    words).  Faithful quirk: humanize strips a trailing ``_id``, so
    ``filingId`` -> ``Filing`` — the reference's curated CSVs show a
    human later fixed those to e.g. ``Filing Id``; the CSV ``name``
    column stays authoritative for the sink DDL."""
    word = snake_case(name)  # inflection.underscore equivalent for our inputs
    word = re.sub(r"_id$", "", word).replace("_", " ")
    word = re.sub(r"^\w", lambda m: m.group(0).upper(), word)
    return re.sub(r"\b('?[a-z])", lambda m: m.group(1).capitalize(), word)


def schema_projection(sources: Mapping[str, str], fieldnames: Iterable[str]) -> list[str]:
    """Reference P1 (Form700.py:253): the source expression of exactly
    the declared schema columns, in schema order; extras dropped,
    missing columns raise.  ``sources`` maps each available column name
    to its SQL source — read once by the caller, not per field."""
    fieldnames = list(fieldnames)
    missing = [f for f in fieldnames if f not in sources]
    if missing:
        raise KeyError(f"schema projection: missing columns {missing}")
    return [sources[f] for f in fieldnames]


def clean_field(expr: str, decl: str, name: str) -> str:
    """One schema field's whole clean pass as one SQL expression: C7
    newline strip (text only) -> C1 ``castFields`` cast by declared type
    (Form700.py:259-289) -> C9 snake_case output name."""
    if decl == "text":
        out = text_cast(strip_newlines(expr))
    elif decl == "date":
        out = text_cast(expr)
    elif decl == "number":
        out = number_cast(expr)
    elif decl == "checkbox":
        out = checkbox_cast(expr)
    else:
        raise ValueError(f"unknown declared type {decl!r} for column {name!r}")
    return f"{out} AS {quote(snake_case(name))}"
