"""Pluggable EntityProcessor — the reference's configurable 12-step
normalization pipeline as ONE declarative Spark plan.

Reference: EntityProcessor.process (gigaspatial/processing/
entity_processor.py:171-232) with per-entity subclasses registered for each
dataset family. Steps map 1:1:

  1 rename/alias columns          → select with rename_map
  2 lowercase column names        → toDF(lowered)
  3 NFKC strip                    → normalize.nfkc_strip (Arrow UDF)
  4 null-sentinel coercion        → normalize.clean_string_sql
  5 merged-coordinate repair      → normalize.repair_merged_coords
  6 numeric coercion              → try_cast (never throws; bad → NULL)
  7 enum alias normalization      → normalize.normalize_enum_sql
  8 delimited-collection enums    → normalize.normalize_enum_collection_sql
  9 admin title-casing            → normalize.titlecase_admin_expr
 10 coordinate validation         → normalize.validate_coords mask
 11 deterministic entity id       → entity.with_entity_id (UUID3)
 12 drop-all-null + dedup         → dropna(subset) + dropDuplicates

Every stage is a column expression (steps 3 and 11 are Arrow-batched UDFs),
so the whole pipeline is one Catalyst plan — no per-step materialization.
The ``*_sql`` steps are the same SQL text the DuckDB oracles run, parsed
for Spark by ``functions.dialect.spark_col``.

Subclasses override the config (or hooks) and register themselves:

    @EntityProcessor.register("school")
    class SchoolProcessor(EntityProcessor):
        config = EntityProcessorConfig(string_columns=["name"], ...)

    EntityProcessor.for_entity("school")(df)
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .entity import with_entity_id
from .functions.dialect import spark_col
from .operators.normalize import (
    clean_string_sql,
    nfkc_strip,
    normalize_enum_collection_sql,
    normalize_enum_sql,
    quote_ident,
    repair_merged_coords,
    titlecase_admin_expr,
    validate_coords,
)


@dataclass
class EntityProcessorConfig:
    rename_map: dict[str, str] = field(default_factory=dict)
    lowercase_column_names: bool = True
    nfkc_columns: list[str] = field(default_factory=list)
    string_columns: list[str] = field(default_factory=list)
    merged_coord_column: str | None = None
    lat_col: str = "latitude"
    lon_col: str = "longitude"
    numeric_columns: list[str] = field(default_factory=list)
    enum_aliases: dict[str, dict[str, str]] = field(default_factory=dict)
    collection_columns: dict[str, tuple[dict[str, str], str]] = field(
        default_factory=dict
    )  # col -> (alias_map, delimiter)
    titlecase_columns: list[str] = field(default_factory=list)
    validate_coordinates: bool = False
    id_source_columns: list[str] = field(default_factory=list)
    drop_all_null_subset: list[str] = field(default_factory=list)
    dedup_columns: list[str] | None = None


class EntityProcessor:
    """Base processor; subclass + override `config` (and optionally the
    pre_process/post_process hooks) per entity family."""

    _registry: dict[str, type["EntityProcessor"]] = {}
    config = EntityProcessorConfig()

    # ------------------------------------------------------------ registry
    @classmethod
    def register(cls, name: str):
        def deco(sub: type["EntityProcessor"]) -> type["EntityProcessor"]:
            cls._registry[name] = sub
            return sub

        return deco

    @classmethod
    def for_entity(cls, name: str) -> "EntityProcessor":
        if name not in cls._registry:
            raise KeyError(
                f"no EntityProcessor registered for {name!r}; "
                f"known: {sorted(cls._registry)}"
            )
        return cls._registry[name]()

    # --------------------------------------------------------------- hooks
    def pre_process(self, df: DataFrame) -> DataFrame:
        return df

    def post_process(self, df: DataFrame) -> DataFrame:
        return df

    # ------------------------------------------------------------ pipeline
    def process(self, df: DataFrame) -> DataFrame:
        cfg = self.config
        out = self.pre_process(df)
        if cfg.rename_map:
            for old, new in cfg.rename_map.items():
                if old in out.columns:
                    out = out.withColumnRenamed(old, new)
        if cfg.lowercase_column_names:
            out = out.toDF(*[c.lower() for c in out.columns])
        for c in cfg.nfkc_columns:
            out = out.withColumn(c, nfkc_strip(F.col(c)))
        for c in cfg.string_columns:
            out = out.withColumn(c, spark_col(clean_string_sql(quote_ident(c))))
        if cfg.merged_coord_column:
            out = repair_merged_coords(
                out, cfg.merged_coord_column, cfg.lat_col, cfg.lon_col
            )
        for c in cfg.numeric_columns:
            out = out.withColumn(c, F.col(c).try_cast("double"))
        for c, aliases in cfg.enum_aliases.items():
            sql = normalize_enum_sql(quote_ident(c), aliases)
            out = out.withColumn(c, spark_col(sql))
        for c, (aliases, delim) in cfg.collection_columns.items():
            sql = normalize_enum_collection_sql(quote_ident(c), aliases, delim)
            out = out.withColumn(c, spark_col(sql))
        for c in cfg.titlecase_columns:
            out = out.withColumn(c, titlecase_admin_expr(quote_ident(c)))
        if cfg.validate_coordinates:
            out = validate_coords(out, cfg.lat_col, cfg.lon_col)
        if cfg.id_source_columns:
            out = with_entity_id(out, cfg.id_source_columns)
        if cfg.drop_all_null_subset:
            out = out.dropna(how="all", subset=cfg.drop_all_null_subset)
        if cfg.dedup_columns is not None:
            out = out.dropDuplicates(cfg.dedup_columns)
        return self.post_process(out)

    def __call__(self, df: DataFrame) -> DataFrame:
        return self.process(df)


def entity_table_from_file(
    spark,
    path: str,
    processor: "str | EntityProcessor",
    constraints: dict | None = None,
):
    """EntityTable.from_file flow (reference core/schemas/entity.py:
    from_file + clean=True): format-dispatch read → registered processor →
    optional constraint validation. With constraints, returns
    (valid, quarantine); without, the processed frame."""
    from .entity import validate
    from .sources.readers import read_dataset

    df = read_dataset(spark, path)
    proc = (
        EntityProcessor.for_entity(processor)
        if isinstance(processor, str)
        else processor
    )
    out = proc(df)
    if constraints:
        return validate(out, constraints)
    return out
