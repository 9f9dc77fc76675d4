"""Projections / filters / predicates — SURVEY.md §2.2 (P1-P7).

Each function is a declarative wrapper so Catalyst can push filters and
prune columns all the way into the parquet/Iceberg scan — the scale
equivalent of the reference's per-feature branches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# The reference's fixed geometry fallback chain (vfr4ogr/vfrogr.py:490-506):
# requested polygon kind -> other polygon kind -> definition point ->
# definition line -> address point -> None. Order is load-bearing.
GEOMETRY_CHAIN = (
    "generalizovane_hranice",
    "originalni_hranice",
    "definicni_bod",
    "definicni_cara",
    "adresni_bod",
)

# Per-layer default geometry column (vfrogr.py:478-488)
DEFAULT_GEOM = {
    "ulice": "definicni_cara",
    "adresnimista": "adresni_bod",
}


def select_layers(df: DataFrame, layers: list[str] | None, layer_col: str = "layer") -> DataFrame:
    """P1 — `--layer a,b` restriction (parse.py:69-72, vfrogr.py:464-466).
    On a partitioned table this is a partition-pruning predicate."""
    if not layers:
        return df
    return df.where(F.col(layer_col).isin(list(layers)))


def key_lookup(df: DataFrame, gml_id: str, key_col: str = "gml_id") -> DataFrame:
    """P2 — attribute filter `gml_id = 'X'` (vfrogr.py:813,:895). At
    scale, change processing uses joins (J1-J3), never per-row lookups;
    this exists for API parity and ad-hoc inspection."""
    return df.where(F.col(key_col) == F.lit(gml_id))


def geometry_coalesce(
    df: DataFrame,
    preferred: str | None = None,
    out_col: str = "geometry",
    drop_sources: bool = True,
) -> DataFrame:
    """P4 — pick ONE geometry per feature with the reference's exact
    fallback chain (vfrogr.py:490-506), as a single coalesce().

    `preferred` promotes one column to the front of the chain (the
    `--geom OriginalniHranice` flag, test-single.sh pass 5); the
    requested<->alternate polygon swap is inherent to reordering.
    """
    chain = [c for c in GEOMETRY_CHAIN if c in df.columns]
    if preferred:
        if preferred not in df.columns:
            raise ValueError(f"unknown geometry column {preferred!r}")
        chain = [preferred] + [c for c in chain if c != preferred]
    if not chain:
        raise ValueError("no geometry columns present")
    out = df.withColumn(out_col, F.coalesce(*[F.col(c) for c in chain]))
    if drop_sources:
        out = out.drop(*[c for c in chain if c != out_col])
    return out


def drop_null_geometry(df: DataFrame, geom_col: str = "geometry") -> DataFrame:
    """P3 — `-g/--nogeomskip` (vfrogr.py:592-598). Count what you drop
    with operators.counts.null_geometry_tally before applying."""
    return df.where(F.col(geom_col).isNotNull())


def stringify_lists_for_export(df: DataFrame, sep: str = ",") -> DataFrame:
    """P5 — Shapefile sinks can't carry list fields; the reference
    downgrades them to strings (vfrogr.py:723-729). Arrays -> joined
    strings on export only."""
    out = df
    for f in df.schema.fields:
        if f.dataType.typeName() == "array":
            out = out.withColumn(f.name, F.array_join(F.col(f.name).cast("array<string>"), sep))
    return out


def align_schema(df: DataFrame, columns: list[str]) -> DataFrame:
    """P6 — positional field map source->dest (`SetFromWithMap`,
    vfrogr.py:553,:586): schema alignment by explicit column order."""
    return df.select(*columns)


def layer_output_name_expr(name_col, schema_col=None):
    """P7 + F6 — output table naming (vfrogr.py:460-462), plus M4's
    per-file schema naming (vfrogr.py:975-978), as a Catalyst
    expression: lowercase the layer name; when a schema is present
    (non-NULL, non-empty) prepend `schema.`, with a `vfr_` prefix
    whenever the schema starts with a digit (PG schema names cannot)."""
    n = F.lower(name_col)
    if schema_col is None:
        return n
    s = F.lower(schema_col)
    prefixed = F.when(
        F.substring(s, 1, 1).rlike("^[0-9]$"), F.concat(F.lit("vfr_"), s)
    ).otherwise(s)
    return F.when(
        schema_col.isNull() | (schema_col == ""), n
    ).otherwise(F.concat(prefixed, F.lit("."), n))
