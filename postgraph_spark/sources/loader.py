"""Bulk graph loader: CSV / JSON / Parquet -> vertex and edge labels.

The reference's old AGE loader (old/regress/age_load.out;
load_labels_from_file / load_edges_from_file) bulk-creates a label from
a file whose rows carry a user id column; edge files then reference
endpoints by those user ids. This is the Spark-native re-design:

- Any DataFrame (or file readable by ``spark.read``) becomes a vertex
  label: each row's columns are packed into its VARIANT properties
  document, graphids are assigned with the same distributed
  per-partition scheme as CREATE (plans/writes.py with_rowid — no
  single-partition window, no collect of data), and the rows commit
  through Graph.commit, as every write does: the label's declared kind
  and unique constraints are enforced, the property-type catalog is
  extended with the loaded rows' types, and a durable graph appends
  only the new rows.
- The user id column is kept as the ``__id`` property (AGE convention),
  so edge loads resolve endpoints with two equi-joins on
  ``pv.__id`` — shuffle on the join key, broadcast when a side
  is small, never a driver-side lookup table.

At 100 TB the load is: scan (parallel) -> one pinning job (properties
built, rows pinned) -> one count-per-partition job over the pinned rows
-> map-side id packing -> append. Edge loads add two shuffles (endpoint
resolution) that AQE sizes; a skewed hub vertex id is handled by the
skew-join config already on in the session defaults.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from postgraph_spark.functions.gtype import variant_object
from postgraph_spark.graph import Graph
from postgraph_spark.plans.writes import rowid_graphid, with_rowid


#: date_format patterns of the JSON text temporal columns load as
_TEXT_FORMATS = {
    T.DateType: "yyyy-MM-dd",
    T.TimestampType: "yyyy-MM-dd'T'HH:mm:ss.SSSXXX",
    T.TimestampNTZType: "yyyy-MM-dd'T'HH:mm:ss.SSS",
}


def _as_loaded(df: DataFrame, c: str) -> F.Column:
    """A source column as its property value: the value itself, except
    that a date or timestamp loads as its JSON text (a string property)
    and a float as the double of its shortest decimal text."""
    dt = type(df.schema[c].dataType)
    if dt in _TEXT_FORMATS:
        return F.date_format(c, _TEXT_FORMATS[dt])
    return F.col(c).cast("string").cast("double") if dt is T.FloatType else F.col(c)


def _props_pv(df: DataFrame, cols: list[str], id_col: str | None) -> F.Column:
    """Pack the given columns into the VARIANT properties document; a
    null value stores no key. The user id column (when present) is
    duplicated as ``__id`` — the AGE loader keeps it queryable and the
    edge loader joins on it."""
    struct_cols = [_as_loaded(df, c).alias(c) for c in cols]
    if id_col is not None:
        struct_cols.append(_as_loaded(df, id_col).alias("__id"))
    if not struct_cols:
        return variant_object({})
    doc = F.variant_get(F.to_variant_object(F.struct(*struct_cols)), "$", "map<string,variant>")
    return F.to_variant_object(F.map_filter(doc, lambda _k, v: ~F.is_variant_null(v)))


def load_vertices(
    graph: Graph,
    label: str,
    df: DataFrame,
    id_col: str | None = None,
    props_cols: list[str] | None = None,
) -> int:
    """Append df's rows as vertices of `label`. Returns the row count.

    id_col: the user's natural key (kept as property ``__id``);
    props_cols: which columns become properties (default: all).
    """
    cols = props_cols if props_cols is not None else list(df.columns)
    body, n = with_rowid(df.select(_props_pv(df, cols, id_col).alias("pv")))
    gid = rowid_graphid(*graph.alloc_entry_ids(label, n, "vertex"))
    new_rows = body.select(gid.alias("id"), F.lit(label).alias("label"), "pv")
    graph.commit(added={"vertices": new_rows})
    return n


def _gid_by_user_id(graph: Graph, label: str) -> DataFrame:
    """(user __id, graphid) lookup for a vertex label — a projection of
    the label scan, compared as text (CSV sources arrive as text)."""
    return (
        graph.vertices_with_label(label)
        .select(
            F.try_variant_get("pv", "$.__id", "string").alias("__key"),
            F.col("id").alias("__gid"),
        )
    )


def load_edges(
    graph: Graph,
    label: str,
    df: DataFrame,
    start_id_col: str,
    end_id_col: str,
    start_label: str,
    end_label: str,
    props_cols: list[str] | None = None,
) -> int:
    """Append df's rows as edges of `label`, resolving endpoints by the
    ``__id`` property of previously loaded vertex labels. Rows whose
    endpoints do not resolve are DROPPED (the AGE loader errors row-wise;
    a bulk pipeline wants the load to proceed — the returned count lets
    the caller compare against df.count() and decide). Returns the
    number of edges created."""
    cols = props_cols if props_cols is not None else [
        c for c in df.columns if c not in (start_id_col, end_id_col)
    ]
    src = _gid_by_user_id(graph, start_label).withColumnRenamed("__gid", "__src")
    dst = _gid_by_user_id(graph, end_label).withColumnRenamed("__gid", "__dst")
    resolved = (
        df.join(src, df[start_id_col].cast("string") == src["__key"]).drop("__key")
        .join(dst, df[end_id_col].cast("string") == dst["__key"]).drop("__key")
    )
    body, n = with_rowid(
        resolved.select(
            F.col("__src").alias("start_id"),
            F.col("__dst").alias("end_id"),
            _props_pv(resolved, cols, None).alias("pv"),
        )
    )
    gid = rowid_graphid(*graph.alloc_entry_ids(label, n, "edge"))
    new_rows = body.select(
        gid.alias("id"), "start_id", "end_id", F.lit(label).alias("label"), "pv"
    )
    graph.commit(added={"edges": new_rows})
    return n


def _read(spark: SparkSession, path: str, fmt: str, **options) -> DataFrame:
    reader = spark.read
    if fmt == "csv":
        opts = {"header": "true", "inferSchema": "true"}
        opts.update({k: str(v) for k, v in options.items()})
        return reader.options(**opts).csv(path)
    if fmt == "json":
        return reader.options(**{k: str(v) for k, v in options.items()}).json(path)
    if fmt == "parquet":
        return reader.parquet(path)
    raise ValueError(f"unsupported loader format {fmt!r}")


def load_vertices_file(
    graph: Graph, label: str, path: str, fmt: str = "csv",
    id_col: str | None = "id", **options,
) -> int:
    df = _read(graph.vertices.sparkSession, path, fmt, **options)
    if id_col is not None and id_col not in df.columns:
        id_col = None
    return load_vertices(graph, label, df, id_col=id_col)


def load_edges_file(
    graph: Graph, label: str, path: str,
    start_label: str, end_label: str, fmt: str = "csv",
    start_id_col: str = "start_id", end_id_col: str = "end_id", **options,
) -> int:
    df = _read(graph.edges.sparkSession, path, fmt, **options)
    return load_edges(
        graph, label, df, start_id_col, end_id_col, start_label, end_label
    )
