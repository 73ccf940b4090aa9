"""Schema registry — the reference's external fixed schemas (S6/S7).

The reference drives its projection/cast pass from per-dataset schema
CSVs with columns ``dataTypeName,fieldName,name`` and a table registry
CSV (/root/reference/Form700.py:249-253, 416-423; SURVEY §1.3): the
column list is inferred once, the types are hand-curated, and the
schema is fixed forever — projection FAILS on missing columns (an
implicit runtime schema test).

This registry reproduces that contract for the engine: CSVs under
``resources/`` (authored for this repo's pipeline shape, same 4-type
vocabulary: text / number / checkbox / date) load into (ordered field
list, field->type map, Spark StructType).  ``plans/form700`` consumes
it for the P1 projection and C1 cast pass, so the schema file is the
single source of truth exactly as in the reference.
"""

from __future__ import annotations

import csv
import os
from dataclasses import dataclass

from pyspark.sql import types as T

RESOURCE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "resources")

_SPARK_TYPES = {
    "text": T.StringType(),
    "number": T.DoubleType(),
    "checkbox": T.BooleanType(),
    "date": T.DateType(),
}


@dataclass(frozen=True)
class DatasetSchema:
    name: str
    fields: tuple  # ordered fieldNames (P1 projection order)
    type_map: dict  # fieldName -> declared type (C1 dispatch)
    display_names: dict  # fieldName -> human name (C10 metadata)

    def struct_type(self, date_compat: bool = False) -> T.StructType:
        out = []
        for f in self.fields:
            decl = self.type_map[f]
            if decl == "date" and date_compat:
                spark_t: T.DataType = T.StringType()
            else:
                spark_t = _SPARK_TYPES[decl]
            out.append(T.StructField(f, spark_t, True))
        return T.StructType(out)


def load_schema(dataset: str, resource_dir: str = RESOURCE_DIR) -> DatasetSchema:
    path = os.path.join(resource_dir, f"form700_{dataset}_schema.csv")
    if not os.path.exists(path):
        raise FileNotFoundError(f"no schema CSV for dataset {dataset!r} at {path}")
    fields, type_map, display = [], {}, {}
    with open(path, newline="") as fh:
        for row in csv.DictReader(fh):
            decl = row["dataTypeName"].strip()
            if decl not in _SPARK_TYPES:
                raise ValueError(f"{dataset}: unknown declared type {decl!r} for {row['fieldName']!r}")
            fields.append(row["fieldName"])
            type_map[row["fieldName"]] = decl
            display[row["fieldName"]] = row["name"]
    return DatasetSchema(dataset, tuple(fields), type_map, display)


@dataclass(frozen=True)
class TableInfo:
    """One row of the table registry (reference ``form700_tables.csv``,
    consumed at /root/reference/Form700.py:325-344, 402-404, 428-437):
    per-dataset metadata driving list-column routing (N3), sink DDL
    (K3) and the redacted twin bookkeeping (O2), and the registry CSV's
    directory (``resource_dir``), which holds the dataset's schema CSV."""

    df_name: str
    dataset_name: str
    category: str
    description: str
    tags: tuple
    list_columns: tuple  # ':'-split, in routing order
    four_by_four: str  # sink dataset id; "0" = not yet created (K3 gate)
    redacted: bool
    resource_dir: str = RESOURCE_DIR

    @property
    def base_name(self) -> str:
        """Dataset name without the ``_redacted`` suffix — redacted twins
        share the base schema CSV (the reference's pairs diff clean)."""
        return self.df_name.removesuffix("_redacted")


def load_table_registry(
    path: str | None = None, resource_dir: str = RESOURCE_DIR
) -> dict[str, TableInfo]:
    """S6: the table-registry CSV scan (Form700.py:402-404).  The
    ``list_columns`` field is ``:``-separated (Form700.py:331-332); a
    missing/``0`` value means no list columns (the reference's
    ``fillna(0)`` at :429)."""
    path = path or os.path.join(resource_dir, "form700_tables.csv")
    out: dict[str, TableInfo] = {}
    with open(path, newline="") as fh:
        for row in csv.DictReader(fh):
            raw_lc = (row.get("list_columns") or "").strip()
            lc = tuple(raw_lc.split(":")) if raw_lc and raw_lc != "0" else ()
            out[row["df_name"]] = TableInfo(
                df_name=row["df_name"],
                dataset_name=row["dataset_name"],
                category=row["category"],
                description=row["description"],
                tags=tuple(t.strip() for t in row["tags"].split(",") if t.strip()),
                list_columns=lc,
                four_by_four=(row.get("FourByFour") or "0").strip() or "0",
                redacted=row["redacted"].strip().lower() == "true",
                resource_dir=os.path.dirname(path),
            )
    return out


def available_datasets(resource_dir: str = RESOURCE_DIR) -> list[str]:
    out = []
    for f in sorted(os.listdir(resource_dir)):
        if f.startswith("form700_") and f.endswith("_schema.csv"):
            out.append(f[len("form700_"):-len("_schema.csv")])
    return out


def bootstrap_schema_csv(columns: list[str], path: str) -> bool:
    """S7/K7 schema bootstrap (``prepareDataSetSchema``,
    Form700.py:194-221): propose a schema CSV from an inferred column
    list — ``dataTypeName`` left empty for a human to curate, display
    ``name`` proposed via C10 titleize — and write it ONLY if the file
    does not already exist (the reference's guard at :211-221 keeps
    curated schemas fixed forever).  Returns True if a file was written."""
    from .functions.cleaning import titleize

    if os.path.exists(path):
        return False
    with open(path, "w", newline="") as fh:
        w = csv.DictWriter(fh, fieldnames=["dataTypeName", "fieldName", "name"])
        w.writeheader()
        for c in columns:
            w.writerow({"dataTypeName": "", "fieldName": c, "name": titleize(c)})
    return True
