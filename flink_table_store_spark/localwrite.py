"""Local (no-Spark) write path: Arrow / pandas → bucketed files → commit.

Mirrors pypaimon's write surface (paimon-python pypaimon/write/
batch_table_write.py write_arrow/write_pandas + batch_table_commit.py):
ingestion jobs that produce a pyarrow Table or pandas DataFrame should
not need a SparkSession to land it in a table. This is the native
format surface's writer (sources/datasource.py FtssWriter) run in
process: outside Spark, TaskContext resolves to task 0 and the whole
batch writes as one task. FtssWriter adds the sequence, value-kind and
bucket columns with ``write.system_columns``, the function that builds
them for ``Table.write``'s driver-local frames. The bucket comes from
the writers' numpy kernel (``write.bucket_column``: Spark's xxhash64
over whole Arrow columns; a 200k-row ``write_arrow`` into a two-key PK
table takes about 0.15 s, where a per-row Python hash made it 1.7 s).
write.py's Arrow sink writes the files, the same sink that writes
``Table.write``'s driver-local frames and driver compactions: the same
codec (the table's ``file.compression``, else the session's, else
``session.PARQUET_CODEC``), dictionary choice, INT96 timestamps,
partition directory spelling and footer stats. The commit is the
ordinary two-phase CAS commit.

One snapshot per call; ``overwrite=True`` is dynamic-partition
overwrite (INSERT OVERWRITE semantics). Refused at plan time, with the
same errors as the format surface: dynamic-bucket and non-parquet
tables, upsert-key tables (unless ``overwrite``), a codec pyarrow does
not write as Spark does (such as lz4), partition keys of any type but
integral, string, date and boolean (Arrow would spell their directories
unlike Spark, so the rows would land beside ``Table.write``'s), and
bucket keys of types the kernel does not hash (such as decimal). Data
is cast to the table's exact Arrow schema first, so a pandas int32
column cannot silently write narrow parquet into a bigint table.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pragma: no cover
    from flink_table_store_spark.table import Table


def write_arrow(
    table: "Table", data, overwrite: bool = False, commit_identifier: str = ""
) -> None:
    """Write one batch (pyarrow Table / RecordBatch / pandas DataFrame)
    and commit one snapshot. ``commit_identifier`` gives the commit the
    same exactly-once replay check as ``Table.write`` — a replayed
    identifier is a no-op (used by the index-maintenance paths that
    fold tiny aggregate deltas without paying a Spark job)."""
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql import types as T

    from flink_table_store_spark.localread import _table_arrow_schema
    from flink_table_store_spark.sources.datasource import FtssWriter

    chain_target = table._chain_write_target()
    if chain_target is not None:
        # same delegation as Table.write: a chain main-view commit
        # would be invisible to chain reads (silent data loss)
        return write_arrow(chain_target, data, overwrite, commit_identifier)
    if table.schema.options.get("upsert-key") and not overwrite:
        # upsert semantics need the merge join (table.py _upsert_write);
        # a plain local append would silently duplicate keys
        raise NotImplementedError(
            "local no-Spark write to an upsert-key table is not "
            "supported — write via Spark (table.write), or use "
            "overwrite=True for INSERT OVERWRITE semantics"
        )
    if isinstance(data, pd.DataFrame):
        data = pa.Table.from_pandas(data, preserve_index=False)
    elif isinstance(data, pa.RecordBatch):
        data = pa.Table.from_batches([data])
    if not isinstance(data, pa.Table):
        raise TypeError(
            f"write_arrow takes a pyarrow Table/RecordBatch or pandas "
            f"DataFrame, got {type(data).__name__}"
        )
    names = table.schema.field_names()
    if sorted(data.column_names) != sorted(names):
        raise ValueError(
            f"input columns {sorted(data.column_names)} must match table "
            f"columns {sorted(names)}"
        )
    data = data.select(names).cast(_table_arrow_schema(table.schema))
    defaults = [
        (f.name, f.default_value)
        for f in table.schema.fields
        if getattr(f, "default_value", None) is not None
    ]
    if defaults:
        import pyarrow.compute as pc

        from flink_table_store_spark.write import parse_default_literal

        eng = table.schema.options.get("merge-engine", "deduplicate")
        if table.schema.primary_keys and eng in ("partial-update", "aggregation"):
            raise ValueError(
                f"column defaults are not supported with merge-engine={eng}"
            )
        for name, dv in defaults:
            ok, val = parse_default_literal(dv)
            if not ok:
                raise ValueError(
                    f"default for {name} ({dv!r}) is not a plain literal — "
                    "the no-Spark writer cannot evaluate SQL expressions; "
                    "use table.write()"
                )
            if val is None:
                continue
            i = data.column_names.index(name)
            col = data.column(i)
            filled = pc.fill_null(col, pa.scalar(val).cast(col.type))
            data = data.set_column(i, name, filled)
    # FtssWriter reads only field NAMES from the Spark schema at plan
    # time — a NullType shim avoids any JVM-backed DDL parsing
    shim = T.StructType([T.StructField(n, T.NullType()) for n in names])
    opts = {"path": table.path}
    if commit_identifier:
        opts["commit-identifier"] = commit_identifier
    if table.branch_name:
        opts["branch"] = table.branch_name
    w = FtssWriter(opts, shim, overwrite)
    msg = None
    try:
        msg = w.write(iter(data.to_batches()))
        w.commit([msg])
    except Exception:
        w.abort([msg])
        raise


def write_pandas(table: "Table", pdf, overwrite: bool = False) -> None:
    write_arrow(table, pdf, overwrite)
