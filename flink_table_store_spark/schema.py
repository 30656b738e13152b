"""Table schema: id-based fields, versioned JSON files, evolution.

Mirrors the reference schema system (paimon-core SchemaManager.java:104
``schema/schema-<id>`` files; paimon-api SchemaChange.java:84-163 for
the evolution ops; paimon-api DataField.java for stable field ids).
Types are stored as Spark SQL DDL strings — the §1.2 type mapping in
SURVEY.md is applied by the caller; Catalyst's cast matrix replaces the
reference's ~30 hand-written cast rules (paimon-common casting/).
"""

from __future__ import annotations

import copy
import functools
import os
from dataclasses import dataclass, field
from datetime import date, datetime
from decimal import Decimal
from typing import Any

from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_table_store_spark.fileio import read_json, write_json_atomic_new

# Reserved system fields (paimon-api SpecialFields.java:79-94).
SEQUENCE_NUMBER = "_SEQUENCE_NUMBER"
VALUE_KIND = "_VALUE_KIND"
# stable row id materialized by compaction rewrites of row-tracking
# tables (SpecialFields.java:79-94 _ROW_ID)
ROW_ID_COL = "_ROW_ID"
LEVEL = "_LEVEL"
ROW_KIND = "_row_kind"
SYSTEM_FIELDS = (SEQUENCE_NUMBER, VALUE_KIND, LEVEL)

# Row kinds (paimon-api RowKind.java:35-56).
KIND_INSERT = "+I"
KIND_UPDATE_BEFORE = "-U"
KIND_UPDATE_AFTER = "+U"
KIND_DELETE = "-D"


@dataclass
class DataField:
    """A top-level column. ``subs`` carries NESTED FIELD IDS for struct
    types (reference paimon-api DataField.java keeps ids recursively in
    the type tree): ``{subname: {"id": int, "subs": {...}?}}``, one
    entry per struct subfield at every depth. Ids are stable across
    rename/retype, so evolution reads match struct leaves BY ID — a
    renamed leaf still reads old-generation files. Schemas written
    before subs existed load with ``subs=None`` and fall back to
    name-matched nested evolution."""

    id: int
    name: str
    type: str  # Spark DDL type string, e.g. "bigint", "decimal(15,2)"
    nullable: bool = True
    subs: dict[str, Any] | None = None
    # column DEFAULT (reference DataField.java defaultValue; docs
    # spark/default-value.md): a SQL expression string substituted for
    # NULL at WRITE time
    default_value: str | None = None

    def to_dict(self) -> dict[str, Any]:
        d = {"id": self.id, "name": self.name, "type": self.type, "nullable": self.nullable}
        if self.subs:
            d["subFields"] = self.subs
        if self.default_value is not None:
            d["defaultValue"] = self.default_value
        return d

    @staticmethod
    def from_dict(d: dict[str, Any]) -> "DataField":
        return DataField(
            d["id"], d["name"], d["type"], d.get("nullable", True), d.get("subFields"),
            d.get("defaultValue")
        )


@dataclass
class TableSchema:
    id: int
    fields: list[DataField]
    partition_keys: list[str] = field(default_factory=list)
    primary_keys: list[str] = field(default_factory=list)
    options: dict[str, str] = field(default_factory=dict)
    highest_field_id: int = 0
    comment: str = ""

    def field_names(self) -> list[str]:
        return [f.name for f in self.fields]

    def field(self, name: str) -> DataField:
        for f in self.fields:
            if f.name == name:
                return f
        raise KeyError(name)

    def spark_schema(self) -> T.StructType:
        return T.StructType(
            [T.StructField(f.name, parse_type(f.type), f.nullable) for f in self.fields]
        )

    def trimmed_primary_keys(self) -> list[str]:
        """PK minus partition keys — the key actually hashed to buckets
        (reference: trimmed-PK BinaryRow, DefaultBucketFunction.java:30)."""
        return [k for k in self.primary_keys if k not in self.partition_keys] or list(self.primary_keys)

    def num_buckets(self) -> int:
        return int(self.options.get("bucket", "4" if self.primary_keys else "-1"))

    def file_format(self) -> str:
        """Data file format (`file.format`, default parquet —
        CoreOptions.java:258). parquet and orc use Spark's native
        vectorized readers; avro requires the spark-avro connector and
        raises if it is not on the classpath; lance (paimon-lance
        LanceFileFormat.java) requires the Spark-Lance connector
        ("lance" DataSource) + the lance python package and raises a
        clear error when either is absent (this build environment has
        neither — the S9 gap is the connector, not the engine plumbing:
        data files already carry their format in the name suffix and
        every read groups by (schema generation, format))."""
        fmt = self.options.get("file.format", "parquet").lower()
        if fmt == "lance":
            try:
                import lance  # noqa: F401
            except ImportError as exc:
                raise NotImplementedError(
                    "file.format=lance needs the 'lance' python package and "
                    "the Spark-Lance connector on the classpath; neither is "
                    "installed here — use parquet/orc/avro"
                ) from exc
            return fmt
        if fmt not in ("parquet", "orc", "avro"):
            raise ValueError(f"unsupported file.format: {fmt}")
        return fmt

    def to_dict(self) -> dict[str, Any]:
        return {
            "id": self.id,
            "fields": [f.to_dict() for f in self.fields],
            "partitionKeys": self.partition_keys,
            "primaryKeys": self.primary_keys,
            "options": self.options,
            "highestFieldId": self.highest_field_id,
            "comment": self.comment,
        }

    @staticmethod
    def from_dict(d: dict[str, Any]) -> "TableSchema":
        return TableSchema(
            id=d["id"],
            fields=[DataField.from_dict(f) for f in d["fields"]],
            partition_keys=d.get("partitionKeys", []),
            primary_keys=d.get("primaryKeys", []),
            options=d.get("options", {}),
            highest_field_id=d.get("highestFieldId", 0),
            comment=d.get("comment", ""),
        )


@functools.lru_cache(maxsize=1024)
def _parse_type_memo(ddl: str) -> T.DataType:
    return T._parse_datatype_string(ddl)


def parse_type(ddl: str) -> T.DataType:
    """The Spark type of a DDL type string. The parser runs in the JVM
    and every read and write parses each field's type, so results are
    memoised per string. Struct, array and map types are mutable
    (``StructType.add``) and come back as a fresh copy on every call;
    atomic types are shared. The memo assumes ``spark.sql.timestampType``
    (the one setting that changes what ``timestamp`` parses to) keeps
    its value for the life of the process."""
    dt = _parse_type_memo(ddl)
    return dt if isinstance(dt, T.AtomicType) else copy.deepcopy(dt)


def quote_ident(name: str) -> str:
    """A column name as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def select_exprs(df, exprs: list[str]):
    """``df.selectExpr(*exprs)`` in a constant number of JVM calls: each
    PySpark ``Column`` or list element costs one or more py4j
    round-trips, so the projection is one ``struct(...)`` SQL string
    unpacked by a star. Every expression needs an output name
    (``expr AS `name``` or a quoted column). The optimizer collapses the
    struct and its unpacking, so the physical plan is the plain
    projection."""
    return df.select(F.expr(f"struct({', '.join(exprs)}) AS __o")).select("__o.*")


def typed_partition(raw: str | None, ddl: str):
    """A partition value as stored in a manifest entry (a string) back
    to the Python value of its DDL type; unknown types stay strings.
    Manifests store the default partition (``__HIVE_DEFAULT_PARTITION__``,
    a NULL or an empty value on write) as ``''``: it reads as NULL for
    every type, as Spark's ``partitionBy`` read of the directory does."""
    if raw is None or raw == "":
        return None
    t = ddl.lower()
    if t in ("tinyint", "smallint", "int", "integer", "bigint", "long"):
        return int(raw)
    if t in ("float", "double"):
        return float(raw)
    if t.startswith("decimal"):
        return Decimal(raw)
    if t == "boolean":
        return raw in ("true", "True", "1")
    if t == "date":
        return date.fromisoformat(raw)
    if t.startswith("timestamp"):
        return datetime.fromisoformat(raw)
    return raw


def _copy_subs(subs: dict | None) -> dict | None:
    if subs is None:
        return None
    return {
        k: {"id": v["id"], **({"subs": _copy_subs(v["subs"])} if v.get("subs") else {})}
        for k, v in subs.items()
    }


def _build_subs(dt: T.DataType, next_id: int) -> tuple[dict | None, int]:
    """Recursive nested-id assignment for struct subfields (reference
    DataField.java keeps ids at every depth). Non-struct types carry no
    sub-ids; structs inside arrays/maps are not id-tracked (their
    evolution stays name-matched, like the reference's row-in-array
    caveats)."""
    if not isinstance(dt, T.StructType):
        return None, next_id
    subs: dict[str, Any] = {}
    for f in dt.fields:
        sid = next_id
        next_id += 1
        child, next_id = _build_subs(f.dataType, next_id)
        subs[f.name] = {"id": sid, "subs": child} if child else {"id": sid}
    return subs, next_id


def from_spark_schema(
    schema: T.StructType,
    partition_keys: list[str] | None = None,
    primary_keys: list[str] | None = None,
    options: dict[str, str] | None = None,
) -> TableSchema:
    # top-level fields take ids 0..n-1 (the reference's layout); nested
    # struct subfields continue from n so every leaf has a stable id
    fields = [
        DataField(i, f.name, f.dataType.simpleString(), f.nullable)
        for i, f in enumerate(schema.fields)
    ]
    hid = len(fields) - 1
    for f, sf in zip(fields, schema.fields):
        subs, nxt = _build_subs(sf.dataType, hid + 1)
        if subs:
            f.subs = subs
            hid = nxt - 1
    # column defaults declared as table properties — the reference's
    # `fields.<name>.default-value` spelling (docs flink/sql-ddl.md:211)
    for f in fields:
        dv = (options or {}).get(f"fields.{f.name}.default-value")
        if dv is not None:
            f.default_value = dv
    return TableSchema(
        id=0,
        fields=fields,
        partition_keys=partition_keys or [],
        primary_keys=primary_keys or [],
        options=options or {},
        highest_field_id=hid,
    )


class SchemaManager:
    """Versioned schema files under ``<table>/schema/``."""

    def __init__(self, table_path: str):
        self.dir = os.path.join(table_path, "schema")

    def _path(self, schema_id: int) -> str:
        return os.path.join(self.dir, f"schema-{schema_id}")

    def latest_id(self) -> int | None:
        if not os.path.isdir(self.dir):
            return None
        ids = [
            int(n.split("-", 1)[1])
            for n in os.listdir(self.dir)
            if n.startswith("schema-") and n.split("-", 1)[1].isdigit()
        ]
        return max(ids) if ids else None

    def latest(self) -> TableSchema | None:
        i = self.latest_id()
        return None if i is None else self.load(i)

    def load(self, schema_id: int) -> TableSchema:
        return TableSchema.from_dict(read_json(self._path(schema_id)))

    def commit(self, schema: TableSchema) -> None:
        from flink_table_store_spark.operators.merge_engines import check_sketch_fields

        check_sketch_fields(schema)
        os.makedirs(self.dir, exist_ok=True)
        if not write_json_atomic_new(self._path(schema.id), schema.to_dict()):
            raise RuntimeError(f"schema-{schema.id} already exists (concurrent DDL)")

    # --- evolution ops (SchemaChange.java:84-163) ---

    def _field_lacks_ids_anywhere(self, latest: TableSchema, field_id: int) -> bool:
        """True if ANY persisted generation up to ``latest`` carries the
        top-level field ``field_id`` without subfield ids (such files
        can only name-match nested leaves — nested rename is unsafe)."""
        for sid in range(latest.id + 1):
            try:
                gen = self.load(sid)
            except FileNotFoundError:
                continue
            for f in gen.fields:
                if f.id == field_id:
                    if f.subs is None:
                        return True
                    break
        return False

    def evolve(self, changes: list[dict[str, Any]]) -> TableSchema:
        """Apply a list of changes and commit a new schema version.

        Change dicts: {"action": "add_column", "name", "type"} |
        {"action": "rename_column", "name", "new_name"} |
        {"action": "drop_column", "name"} |
        {"action": "update_column_type", "name", "type"} |
        {"action": "set_option"/"remove_option", "key", ["value"]}
        """
        cur = self.latest()
        if cur is None:
            raise RuntimeError("no schema to evolve")
        fields = [
            DataField(
                f.id, f.name, f.type, f.nullable, _copy_subs(f.subs),
                f.default_value,
            )
            for f in cur.fields
        ]
        options = dict(cur.options)
        hid = cur.highest_field_id

        def alloc() -> int:
            nonlocal hid
            hid += 1
            return hid

        def subs_for(dt: T.DataType) -> dict | None:
            if not isinstance(dt, T.StructType):
                return None
            out: dict[str, Any] = {}
            for x in dt.fields:
                sid = alloc()
                child = subs_for(x.dataType)
                out[x.name] = {"id": sid, "subs": child} if child else {"id": sid}
            return out

        def _reconcile(old_subs: dict | None, new_dt: T.DataType) -> dict | None:
            """Retype to a (possibly different) struct: same-named
            leaves KEEP their ids (their data is the same logical
            column), new leaves get fresh ids."""
            if not isinstance(new_dt, T.StructType):
                return None
            old_subs = old_subs or {}
            out: dict[str, Any] = {}
            for x in new_dt.fields:
                prev = old_subs.get(x.name)
                sid = prev["id"] if prev else alloc()
                child = _reconcile(prev.get("subs") if prev else None, x.dataType)
                out[x.name] = {"id": sid, "subs": child} if child else {"id": sid}
            return out

        def _apply_nested(dt, subs, parts, action, typ=None, new_name=None):
            """Descend ``parts`` through struct DDL + subs tree in
            lockstep (SchemaChange.java:84-163 nested column ops at ANY
            depth — ids make rename/retype stable across generations);
            returns the rebuilt StructType; ``subs`` mutates in place."""
            if not isinstance(dt, T.StructType):
                raise ValueError("nested change addresses a non-struct type")
            leaf = parts[0]
            if len(parts) > 1:
                if leaf not in dt.names:
                    raise KeyError(leaf)
                entry = subs.setdefault(leaf, {"id": alloc()})
                child_subs = entry.setdefault("subs", {})
                inner = _apply_nested(
                    dt[leaf].dataType, child_subs, parts[1:], action, typ, new_name
                )
                if not child_subs:
                    entry.pop("subs", None)
                return T.StructType(
                    [
                        T.StructField(x.name, inner if x.name == leaf else x.dataType, x.nullable)
                        for x in dt.fields
                    ]
                )
            if action == "add":
                if leaf in dt.names:
                    raise ValueError(f"subfield {leaf} exists")
                ndt = parse_type(typ)
                sid = alloc()
                child = subs_for(ndt)
                subs[leaf] = {"id": sid, "subs": child} if child else {"id": sid}
                return T.StructType(list(dt.fields) + [T.StructField(leaf, ndt)])
            if leaf not in dt.names:
                raise KeyError(leaf)
            if action == "drop":
                subs.pop(leaf, None)
                return T.StructType([x for x in dt.fields if x.name != leaf])
            if action == "retype":
                ndt = parse_type(typ)
                entry = subs.setdefault(leaf, {"id": alloc()})
                child = _reconcile(entry.get("subs"), ndt)
                if child:
                    entry["subs"] = child
                else:
                    entry.pop("subs", None)
                return T.StructType(
                    [
                        T.StructField(x.name, ndt if x.name == leaf else x.dataType, x.nullable)
                        for x in dt.fields
                    ]
                )
            if action == "rename":
                if new_name in dt.names:
                    raise ValueError(f"subfield {new_name} exists")
                subs[new_name] = subs.pop(leaf)
                return T.StructType(
                    [
                        T.StructField(new_name if x.name == leaf else x.name, x.dataType, x.nullable)
                        for x in dt.fields
                    ]
                )
            raise ValueError(action)

        def _nested(name: str, action, typ=None, new_name=None) -> bool:
            if "." not in name:
                return False
            root, rest = name.split(".", 1)
            for f in fields:
                if f.name == root:
                    dt = parse_type(f.type)
                    if not isinstance(dt, T.StructType):
                        raise ValueError(f"{root} is not a struct")
                    if action == "rename" and self._field_lacks_ids_anywhere(cur, f.id):
                        # SOME persisted generation carries this struct
                        # without subfield ids (created before nested
                        # ids existed, or ids materialized later by an
                        # add/drop/retype) — files of that generation
                        # can only name-match, so a rename would
                        # silently null the column on them
                        raise ValueError(
                            "nested rename needs nested field ids on every schema "
                            "generation; an older generation of this table has "
                            "none — unsupported"
                        )
                    if f.subs is None:
                        f.subs = subs_for(dt)
                    f.type = _apply_nested(
                        dt, f.subs, rest.split("."), action, typ, new_name
                    ).simpleString()
                    return True
            raise KeyError(root)

        for ch in changes:
            a = ch["action"]
            if a == "add_column":
                if _nested(ch["name"], "add", typ=ch["type"]):
                    continue
                nid = alloc()
                ndt = parse_type(ch["type"])
                fields.append(
                    DataField(nid, ch["name"], ch["type"], ch.get("nullable", True), subs_for(ndt))
                )
            elif a == "rename_column":
                if _nested(ch["name"], "rename", new_name=ch["new_name"]):
                    continue
                for f in fields:
                    if f.name == ch["name"]:
                        f.name = ch["new_name"]
                        break
                else:
                    raise KeyError(ch["name"])
            elif a == "drop_column":
                if "." in ch["name"]:
                    _nested(ch["name"], "drop")
                    continue
                fields = [f for f in fields if f.name != ch["name"]]
            elif a == "update_column_type":
                if _nested(ch["name"], "retype", typ=ch["type"]):
                    continue
                for f in fields:
                    if f.name == ch["name"]:
                        f.type = ch["type"]
                        f.subs = _reconcile(f.subs, parse_type(ch["type"]))
                        break
                else:
                    raise KeyError(ch["name"])
            elif a == "update_column_default":
                # SchemaChange.updateColumnDefaultValue (SchemaChange
                # .java:159); value None clears the default
                for f in fields:
                    if f.name == ch["name"]:
                        f.default_value = ch.get("value")
                        break
                else:
                    raise KeyError(ch["name"])
            elif a == "set_option":
                options[ch["key"]] = str(ch["value"])
            elif a == "remove_option":
                options.pop(ch["key"], None)
            else:
                raise ValueError(f"unknown schema change {a}")
        new = TableSchema(
            id=cur.id + 1,
            fields=fields,
            partition_keys=cur.partition_keys,
            primary_keys=cur.primary_keys,
            options=options,
            highest_field_id=hid,
            comment=cur.comment,
        )
        self.commit(new)
        return new


def scan_type(dt: T.DataType, nullable: bool) -> T.DataType:
    """``dt`` as Spark's file sources read it: CHAR/VARCHAR as STRING
    and, with ``nullable``, every field, element and value nullable
    (``StructType.asNullable``)."""
    if isinstance(dt, (T.CharType, T.VarcharType)):
        return T.StringType()
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(
                    f.name, scan_type(f.dataType, nullable), nullable or f.nullable, f.metadata
                )
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(scan_type(dt.elementType, nullable), nullable or dt.containsNull)
    if isinstance(dt, T.MapType):
        return T.MapType(
            scan_type(dt.keyType, nullable),
            scan_type(dt.valueType, nullable),
            nullable or dt.valueContainsNull,
        )
    return dt
