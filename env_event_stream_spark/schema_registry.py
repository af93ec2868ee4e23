"""Schema registry: JSON-Schema validation at ingest (SURVEY.md T9/U3/F6).

Reference parity (src/schema.ts):
- per-event-type, versioned schemas (src/schema.ts:27-45);
- events with no registered schema pass (src/schema.ts:50-53);
- version mismatch is ADVISORY — warn but validate against the
  registered version (src/schema.ts:56-61);
- supported JSON types: string, number, integer, boolean, array,
  object, null (src/schema.ts:144-165); required properties;
  recursive ``properties``/``items`` (src/schema.ts:106-137).

Spark-first design: the JSON-Schema is translated once (driver-side)
to a StructType; validation is ``from_json`` + null/required checks —
a Catalyst expression evaluated per row in codegen, NOT a Python
validator per event. Invalid rows are routed (to the DLQ table), not
thrown: at 100 TB a poison message must never kill the ingest query.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

log = logging.getLogger(__name__)

__all__ = ["json_schema_to_struct", "SchemaRegistry"]


def json_schema_to_struct(schema: dict) -> T.DataType:
    """Deterministic JSON-Schema → Spark type translation.

    integer→long, number→double, string→string, boolean→boolean,
    object→struct(properties), array→array(items), null→string(null).
    Unknown/absent type → string (permissive, like the reference's
    pass-through for unconstrained payloads)."""
    jtype = schema.get("type")
    if jtype == "object" or (jtype is None and "properties" in schema):
        props = schema.get("properties", {})
        fields = []
        required = set(schema.get("required", []))
        for name, sub in props.items():
            fields.append(
                T.StructField(name, json_schema_to_struct(sub), name not in required)
            )
        if not fields:
            return T.MapType(T.StringType(), T.StringType())
        return T.StructType(fields)
    if jtype == "array":
        return T.ArrayType(json_schema_to_struct(schema.get("items", {})))
    return {
        "string": T.StringType(),
        "number": T.DoubleType(),
        "integer": T.LongType(),
        "boolean": T.BooleanType(),
        "null": T.StringType(),
        None: T.StringType(),
    }.get(jtype, T.StringType())


@dataclass
class _Entry:
    schema: dict
    struct: T.DataType
    version: str


@dataclass
class SchemaRegistry:
    """Versioned per-event-type schema catalog.

    ``validity_expr`` compiles the registered schema into one boolean
    Catalyst expression over a JSON payload column; ``split`` routes a
    DataFrame into (valid, invalid) halves — the invalid half carries
    a ``validation_error`` column for the DLQ."""

    _schemas: dict[str, dict[str, _Entry]] = field(default_factory=dict)

    def register(self, event_type: str, schema: dict, version: str = "1.0") -> None:
        self._schemas.setdefault(event_type, {})[version] = _Entry(
            schema=schema, struct=json_schema_to_struct(schema), version=version
        )

    def get(self, event_type: str, version: str | None = None) -> _Entry | None:
        versions = self._schemas.get(event_type)
        if not versions:
            return None
        if version is not None:
            if version in versions:
                return versions[version]
            # advisory mismatch (reference src/schema.ts:56-61): warn,
            # validate against the latest registered version.
            log.warning(
                "schema version %s not registered for %s; validating against latest",
                version,
                event_type,
            )
        latest = sorted(versions)[-1]
        return versions[latest]

    def _required_checks(self, parsed: Column, schema: dict) -> Column:
        cond = F.lit(True)
        for name in schema.get("required", []):
            cond = cond & parsed.getField(name).isNotNull()
        # one level of nested required (recursive objects): checked on
        # the nested struct when its parent is present
        for name, sub in schema.get("properties", {}).items():
            if sub.get("type") == "object" and sub.get("required"):
                nested = self._required_checks(parsed.getField(name), sub)
                cond = cond & (parsed.getField(name).isNull() | nested)
        return cond

    def validity_expr(
        self, type_col: Column, payload_col: Column
    ) -> Column:
        """True iff the payload parses under the registered schema for
        its type (types with no schema always pass — reference
        src/schema.ts:50-53). from_json yields null on malformed JSON
        and null fields on type mismatch with FAILFAST off; required
        fields must be non-null."""
        expr = F.lit(True)
        for event_type, versions in self._schemas.items():
            entry = versions[sorted(versions)[-1]]
            if not isinstance(entry.struct, T.StructType):
                continue
            parsed = F.from_json(payload_col, entry.struct)
            ok = (
                payload_col.isNotNull()
                & parsed.isNotNull()
                & self._required_checks(parsed, entry.schema)
            )
            expr = F.when(type_col == event_type, ok).otherwise(expr)
        return expr

    def split(
        self, df: DataFrame, type_col: str = "type", payload_col: str = "payload"
    ) -> tuple[DataFrame, DataFrame]:
        """Route rows: (valid, invalid+validation_error). One scan,
        two filters — Catalyst shares the parse subtree."""
        valid_expr = self.validity_expr(F.col(type_col), F.col(payload_col))
        marked = df.withColumn("_valid", valid_expr)
        valid = marked.where(F.col("_valid")).drop("_valid")
        invalid = (
            marked.where(~F.col("_valid"))
            .drop("_valid")
            .withColumn(
                "validation_error",
                F.concat(
                    F.lit("schema validation failed for type '"),
                    F.col(type_col),
                    F.lit("'"),
                ),
            )
        )
        return valid, invalid
