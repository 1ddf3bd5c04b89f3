"""Property-graph data model.

Reference layout: one heap table per label — vertices ``(id graphid,
properties gtype)``, edges ``(id, start_id, end_id, properties)`` — with
Postgres table inheritance making the parent table a scan of all labels
(src/backend/commands/label_commands.c:651-712,
src/backend/commands/graph_commands.c:81-96).

Spark layout: ONE ``vertices`` and ONE ``edges`` DataFrame/parquet table
per graph, with a ``label`` column (partition column on disk). An
unlabeled scan (``MATCH (n)``) is then a plain scan; a labeled scan prunes
partitions — the columnar analog of inheritance + per-label tables.

graphid: 64-bit, 16-bit label id (high) + 48-bit entry id (low), exactly
the reference's packing (src/include/utils/graphid.h:31-64).
Properties: ONE stored document per row, ``pv``, a VARIANT object (the
gtype document model, src/include/utils/gtype.h; the analog of the
reference's binary ``properties gtype`` heap column,
label_commands.c:690-712). It is built from typed values — never parsed
from text — so a float stays a DOUBLE, and like gtype it keeps object keys
sorted. Stored tables, in memory and on disk, have the shape (id, label,
pv), edges adding start_id/end_id, and the Cypher compiler binds each
vertex or edge as that row. The document's JSON text is never stored:
it is rendered from pv where an entity leaves the engine — a Cypher
RETURN column, path or list (plans/compiler.py ``render``) — and
``Graph.vertices``/``Graph.edges`` expose each table with
``properties`` (``rendered``, as ``to_json(pv)``) for SQL views.
catalog.json names the storage ``layout``; a directory in another layout
fails the open.
"""

from __future__ import annotations

import json
import os
import shutil
from functools import reduce
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from postgraph_spark.functions import gtype as G

ENTRY_ID_BITS = 48
ENTRY_ID_MASK = (1 << ENTRY_ID_BITS) - 1
LABEL_ID_MAX = 0xFFFF

_PV_FIELD = T.StructField("pv", T.VariantType(), True)

#: the stored columns of each table
VERTEX_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("label", T.StringType(), False),
        _PV_FIELD,
    ]
)

EDGE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("start_id", T.LongType(), False),
        T.StructField("end_id", T.LongType(), False),
        T.StructField("label", T.StringType(), False),
        _PV_FIELD,
    ]
)

#: catalog.json's storage-layout marker: tables hold (id, label, pv) and
#: (id, start_id, end_id, label, pv). Directories without it store a
#: properties JSON text column and cannot be opened.
LAYOUT = "pv-variant"


def rendered(rows: DataFrame) -> DataFrame:
    """Stored rows as a Graph exposes them: with ``properties``, the
    document's JSON text — the one place that text is made. Keys come
    out sorted (a VARIANT object's order, as in gtype)."""
    return rows.withColumn("properties", F.to_json("pv"))


def stored(rows: DataFrame, kind: str) -> DataFrame:
    """The stored columns of a table's rows (drops the rendering)."""
    return rows.select(*(VERTEX_SCHEMA if kind == "vertices" else EDGE_SCHEMA).fieldNames())


def _spark_atom(dt) -> str | None:
    """Spark column type -> property-catalog atom (None = untypable)."""
    if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return "long"
    if isinstance(dt, (T.DoubleType, T.FloatType, T.DecimalType)):
        return "double"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "timestamp"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.ArrayType):
        return "array"
    if isinstance(dt, (T.StructType, T.MapType)):
        return "object"
    return None


#: a table's entity kind (label_kinds' values), and back
_KIND = {"vertices": "vertex", "edges": "edge"}
_TABLE = {v: k for k, v in _KIND.items()}


def _scan(spark: SparkSession, snapshot_dir: str, kind: str) -> DataFrame:
    """A stored table read lazily from a snapshot's files."""
    schema = VERTEX_SCHEMA if kind == "vertices" else EDGE_SCHEMA
    return spark.read.schema(schema).parquet(os.path.join(snapshot_dir, kind))


def make_graphid(label_id: int, entry_id: int) -> int:
    """Pack (label_id, entry_id) -> graphid (graphid.c:195-217)."""
    if not 0 <= label_id <= LABEL_ID_MAX:
        raise ValueError(f"label_id out of range: {label_id}")
    if not 0 <= entry_id <= ENTRY_ID_MASK:
        raise ValueError(f"entry_id out of range: {entry_id}")
    return (label_id << ENTRY_ID_BITS) | entry_id


def graphid_entry_id(col: F.Column) -> F.Column:
    """GET_ENTRY_ID: low 48 bits (graphid.h:52)."""
    return col.bitwiseAND(F.lit(ENTRY_ID_MASK))


class Graph:
    """A graph = a vertices DataFrame + an edges DataFrame + a label map.

    ``label_ids`` mirrors the ag_label catalog (src/include/catalog/
    ag_label.h:47-68): label name -> 16-bit id used in graphid packing.
    """

    def __init__(
        self,
        name: str,
        vertices: DataFrame,
        edges: DataFrame,
        label_ids: dict[str, int] | None = None,
        label_kinds: dict[str, str] | None = None,
        constraints: list[dict] | None = None,
    ):
        self.name = name
        self.vertices = rendered(vertices)
        self.edges = rendered(edges)
        self.label_ids = dict(label_ids or {})
        #: label-id high-water mark: ids are NEVER reused after DROP
        #: LABEL (graphids pack label_id<<48 | entry_id and each new
        #: label's entry sequence restarts at 1 — reusing a dropped id
        #: would collide two labels' graphids). Persisted in the catalog
        #: so reloads after drops stay safe.
        self._label_id_hwm = max(self.label_ids.values(), default=0)
        #: label -> "vertex" | "edge" (explicit DDL or first write interns
        #: it; the analog of LABEL_TYPE_VERTEX/EDGE in ag_label)
        self.label_kinds = dict(label_kinds or {})
        #: unique constraints: {"label": str, "property": str | None}
        #: (property None = UNIQUE on the whole properties document,
        #: create_unique_properties_constraint; a name = unique property
        #: index, create_property_index is_unique=true —
        #: label_commands.c:271-350, 425-520)
        self.constraints = list(constraints or [])
        #: non-unique property indexes: metadata only — the scan-side
        #: analogs (label-partition pruning, id clustering + bloom,
        #: Z-order layout) do the work a btree would
        self.property_indexes: list[dict] = []
        #: IVFFlat vector indexes (create_ivfflat_{l2,ip}_ops_index,
        #: sql/postgraph.sql.in + ivfflathandler): the TRAINED coarse
        #: quantizer persists here ({label, property, metric, lists,
        #: centroids}); list assignment is recomputed at scan time as a
        #: pure projection against the stored centroids — the layout
        #: philosophy's answer to storing an assignment column
        self.vector_indexes: list[dict] = []
        #: when set, every committed write persists here (the analog of
        #: the reference's heap-table durability): each statement stages a
        #: fresh snapshot directory ``snap-N+1`` and publishes it with one
        #: catalog.json rename (Graph._publish)
        self.durable_path: str | None = None
        #: current snapshot subdirectory (``snap-N``) under durable_path
        self._snapshot: str | None = None
        #: the tables still read lazily from the live snapshot's files (no
        #: write has replaced them since the open)
        self._scanned: set[str] = set()
        #: property-type catalog (round-12, guide §2.3 narrower types):
        #: label -> {property -> frozenset of gtype atoms ("long",
        #: "double", "string", "bool", "timestamp", "date", "array",
        #: "object"; None = present but untyped)}. A cataloged label
        #: lists EVERY property its rows can hold, so an unlisted
        #: property is a constant null. None = nothing known (a graph
        #: built from bare tables, or a durable graph stored without a
        #: catalog); a dict also covers labels that do not exist yet.
        #: Builders that see every row fill it (tpch_graph from the
        #: native column types, from_rows from its documents);
        #: every write extends it to a SUPERSET of the stored atoms
        #: before either table changes (extend_prop_types), so it never
        #: has to be dropped.
        self.prop_types: dict[str, dict[str, frozenset | None]] | None = None

    def prop_atoms(self, label: str | None, prop: str) -> frozenset | None:
        """Catalog lookup: the atom set property `prop` of label `label`
        can hold, frozenset() when the label is cataloged and the
        property never occurs, None when unknown (no narrowing)."""
        cat = self.prop_types.get(label) if self.prop_types is not None else None
        if cat is None:
            return None
        return cat.get(prop, frozenset())

    def extend_prop_types(self, rows: DataFrame) -> list[str]:
        """Fold the atoms of rows about to be committed — (label, pv)
        pairs — into the catalog, and return their distinct labels. A row
        without a document (pv null) stands for a removed row: it only
        names its label, as deleting rows teaches nothing (a superset
        stays sound). ONE aggregation job: (label, key) -> the set of
        schema_of_variant texts over variant_explode_outer(pv). A JSON
        null adds no atom; a type from_variant does not dispatch pins the
        key untyped. A label absent from a catalog that covers the whole
        graph is new and gets cataloged from these rows alone; without a
        catalog nothing is learned."""
        found = (
            rows.select("label", "pv")
            .lateralJoin(rows.sparkSession.tvf.variant_explode_outer(F.col("pv").outer()))
            .groupBy("label", "key")
            .agg(
                F.collect_set(F.schema_of_variant("value")).alias("schemas"),
                F.max(F.col("pv").isNotNull()).alias("documented"),
            )
            .collect()
        )
        for r in found:
            if self.prop_types is None or not r["documented"]:
                continue
            cat = self.prop_types.setdefault(r["label"], {})
            if r["key"] is None:  # an empty document
                continue
            atoms = {G.variant_atom(sch) for sch in r["schemas"] if sch != "VOID"}
            cur = cat.get(r["key"], frozenset())
            cat[r["key"]] = None if cur is None or None in atoms else cur | atoms
        return sorted({r["label"] for r in found})

    def vertices_with_label(self, label: str | None) -> DataFrame:
        """Label scan. With a known label id this is a graphid high-bits
        filter (filter_vertices_on_label_id, cypher_clause.c:105) that
        Catalyst turns into partition pruning on the label column."""
        if label is None:
            return self.vertices
        return self.vertices.filter(F.col("label") == label)

    def edges_with_label(self, label: str | None) -> DataFrame:
        if label is None:
            return self.edges
        return self.edges.filter(F.col("label") == label)

    def cache(self) -> "Graph":
        """Materialize both tables in executor memory, SPREAD to cluster
        parallelism first. A small-SF graph arrives as one input
        partition per parquet file and a union keeps per-table
        partitions, so without the spread every scan of a cached label
        runs on ONE core (each label = one partition of the union) —
        observed as a single-straggler stage under every Cypher bench
        row. Decided from file metadata only (no plan-to-RDD probe, see
        operators/dedup._spread); a production graph read from
        thousands of files is already wide -> no-op."""
        par = self.vertices.sparkSession.sparkContext.defaultParallelism
        for attr in ("vertices", "edges"):
            df = stored(getattr(self, attr), attr)
            try:
                nfiles = len(df.inputFiles())
            except Exception:
                nfiles = par
            if 0 < nfiles < par:
                # RANGE partition by (label, id) instead of round-robin:
                # every cached batch then holds ONE label's contiguous id
                # range, so the in-memory columnar batch statistics
                # (inMemoryColumnarStorage.partitionPruning, on by
                # default) let each `label == x` scan SKIP the other
                # labels' batches entirely — a label scan of the cached
                # union reads |label| rows, not |V| (round-11: every
                # graph/Cypher bench row scans labels 2-5x per query).
                # Parallelism is preserved (big labels span many ranges),
                # and id-predicate scans get min/max pruning for free —
                # the id-cluster layout philosophy applied to the cache.
                df = df.repartitionByRange(par, F.col("label"), F.col("id"))
            setattr(self, attr, rendered(df.cache()))
        return self

    # -- construction helpers -------------------------------------------

    @classmethod
    def from_rows(
        cls,
        spark: SparkSession,
        name: str,
        vertex_rows: list[tuple[str, dict]],
        edge_rows: list[tuple[str, int, int, dict]],
    ) -> "Graph":
        """Build a small fixture graph from python rows.

        vertex_rows: (label, properties) — entry ids assigned sequentially
        per label (per-label sequences, label_commands.c:563-583); the
        vertex's graphid is returned positionally: edge_rows reference
        vertices by their index in vertex_rows.
        edge_rows: (label, src_index, dst_index, properties).
        """
        label_ids: dict[str, int] = {}
        next_entry: dict[str, int] = {}

        def intern(label: str) -> int:
            if label not in label_ids:
                label_ids[label] = max(label_ids.values(), default=0) + 1
            return label_ids[label]

        vids: list[int] = []
        vrows = []
        for label, props in vertex_rows:
            lid = intern(label)
            eid = next_entry.get(label, 0) + 1
            next_entry[label] = eid
            gid = make_graphid(lid, eid)
            vids.append(gid)
            vrows.append((gid, label, {k: G.py_gval(v) for k, v in props.items()}))
        erows = []
        for label, src, dst, props in edge_rows:
            lid = intern(label)
            eid = next_entry.get(label, 0) + 1
            next_entry[label] = eid
            doc = {k: G.py_gval(v) for k, v in props.items()}
            erows.append((make_graphid(lid, eid), vids[src], vids[dst], label, doc))

        def table(rows, schema: T.StructType) -> DataFrame:
            if not rows:
                return spark.createDataFrame([], schema)
            # each document is a map of gvals, made a variant on the JVM
            cols = [f"{f.name} {f.dataType.simpleString()}" for f in schema.fields[:-1]]
            df = spark.createDataFrame(rows, ", ".join([*cols, f"doc map<string,{G.GVAL_DDL}>"]))
            pv = F.to_variant_object(
                F.transform_values("doc", lambda _k, v: G.to_variant(G.gv_ref(v)))
            )
            return df.select(*schema.fieldNames()[:-1], pv.alias("pv"))

        g = cls(name, table(vrows, VERTEX_SCHEMA), table(erows, EDGE_SCHEMA), label_ids)
        # every row is seen, so every label is cataloged completely
        g.prop_types = {}
        if vrows or erows:
            docs = [t.select("label", "pv") for t in (g.vertices, g.edges)]
            g.extend_prop_types(docs[0].unionByName(docs[1]))
        return g

    @classmethod
    def read(cls, spark: SparkSession, path: str, name: str | None = None) -> "Graph":
        """Open a durable graph. catalog.json is the single commit point:
        its ``snapshot`` field names the live ``snap-N`` directory, so a
        reader always sees one fully-consistent (vertices, edges) pair.
        Every commit publishes a whole new snapshot with that one rename,
        so a crash at any step leaves either the old or the new snapshot,
        never a torn mix. A directory in another storage layout (one with
        a properties JSON text column) fails the open, as does a missing
        table directory: an empty table is an empty directory, never an
        absent one."""
        with open(os.path.join(path, "catalog.json")) as f:
            meta = json.load(f)
        if meta.get("layout") != LAYOUT:
            raise ValueError(
                f"{path}: stored in the {meta.get('layout', 'properties-text')!r} layout;"
                f" only the {LAYOUT!r} layout (id, label, pv) can be opened: rebuild the graph"
            )
        snapshot = meta["snapshot"]
        vertices, edges = (_scan(spark, os.path.join(path, snapshot), kind) for kind in _KIND)
        g = cls(
            name or os.path.basename(path), vertices, edges,
            meta.get("label_ids", {}), meta.get("label_kinds", {}),
            meta.get("constraints", []),
        )
        if meta.get("prop_types") is not None:
            g.prop_types = {
                lbl: {k: frozenset(v) if v is not None else None for k, v in cat.items()}
                for lbl, cat in meta["prop_types"].items()
            }
        g.vector_indexes = meta.get("vector_indexes", [])
        g._label_id_hwm = max(g._label_id_hwm, meta.get("label_id_hwm", 0))
        g.durable_path = path
        g._snapshot = snapshot
        g._scanned = set(_KIND)
        return g

    @staticmethod
    def _table_writer(df: DataFrame, kind: str):
        """Writer with the btree-index analogs applied (ag_label btree
        indexes on id, label_commands.c): rows CLUSTERED by graphid
        within each label partition (tight row-group min/max id stats →
        a point/range lookup on id prunes row groups, the columnar
        B-tree) plus a parquet BLOOM FILTER on id for point probes that
        fall inside a row group's range, sized to the ids each file holds
        (adaptive: a fixed 10M-id size put ~1 MB of filter in every
        file). Both are scan-side free: no extra files, no shuffle
        (sortWithinPartitions is partition-local).
        """
        return (
            stored(df, kind)
            .sortWithinPartitions("id")
            .write.option("parquet.bloom.filter.enabled#id", "true")
            .option("parquet.bloom.filter.adaptive.enabled", "true")
        )

    def _write_catalog(self, snapshot: str | None = None) -> None:
        """Atomic catalog.json update (temp file + rename). It names the
        live snapshot (`snapshot`, else the current one), so this rename
        IS the commit point of every write."""
        if not self.durable_path:
            return
        os.makedirs(self.durable_path, exist_ok=True)
        tmp = os.path.join(self.durable_path, ".catalog.json.tmp")
        meta = {"name": self.name, "layout": LAYOUT, "label_ids": self.label_ids}
        hwm = max(self._label_id_hwm, max(self.label_ids.values(), default=0))
        if hwm:
            meta["label_id_hwm"] = hwm
        if self.label_kinds:
            meta["label_kinds"] = self.label_kinds
        if self.constraints:
            meta["constraints"] = self.constraints
        if self.vector_indexes:
            meta["vector_indexes"] = self.vector_indexes
        if self.prop_types is not None:
            meta["prop_types"] = {
                lbl: {k: sorted(v) if v is not None else None for k, v in cat.items()}
                for lbl, cat in self.prop_types.items()
            }
        if snapshot or self._snapshot:
            meta["snapshot"] = snapshot or self._snapshot
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, os.path.join(self.durable_path, "catalog.json"))

    def persist(self) -> None:
        """Stage BOTH tables in full into a fresh snapshot and publish it
        (create_graph; statements commit through Graph.commit). Both are
        pinned (localCheckpoint) first: removing the files a table's
        lineage still reads would otherwise invalidate it."""
        if not self.durable_path:
            return
        pinned = {kind: stored(getattr(self, kind), kind).localCheckpoint(eager=True) for kind in _KIND}
        staged = self._staging()
        for kind, rows in pinned.items():
            self._write_rows(rows, kind, staged)
        self._publish({kind: rendered(rows) for kind, rows in pinned.items()}, staged)

    def commit(
        self,
        removed: dict[str, DataFrame] | None = None,
        added: dict[str, DataFrame] | None = None,
    ) -> None:
        """Commit one statement's changes: the only code that changes a
        table (the reference's heap insert/update/delete,
        cypher_create.c:332-540, cypher_set.c:100-188,
        cypher_delete.c:246-480). `removed` maps a table ("vertices",
        "edges") to the ids it loses, `added` to the stored rows it gains;
        an update is both. Each changed table becomes its stored rows
        minus the removed ids plus the added rows. In order:

        1. the touched labels come back from the catalog extension, one
           job over the added rows and the removed ids: a removed id's
           label id is its top 16 bits (every builder packs it), so
           nothing joins the table; an id of an unknown label fails the
           statement;
        2. the candidate tables are built and pinned, and ONE unique check
           runs over the candidate rows of the constrained touched labels:
           a violation fails the statement before either table changes
           (PG statement atomicity; allocated sequence values are consumed
           either way, like nextval under rollback);
        3. a durable graph stages a fresh snapshot of what changed — the
           added rows of a table that only gained rows (persist_append),
           each touched label of one that lost rows (persist_partitions),
           every other label hard-linked — and publishes it (_publish);
           a failure before its catalog.json rename leaves the graph as
           it was, on disk and in memory.

        Callers pass rows derived from a pinned input
        (plans.writes.with_rowid), so no step re-runs id allocation."""
        removed = {k: r for k, r in (removed or {}).items() if r is not None}
        added = {k: r for k, r in (added or {}).items() if r is not None}
        kinds = [k for k in _KIND if k in removed or k in added]
        if not kinds:
            return
        lid = F.shiftrightunsigned("id", ENTRY_ID_BITS)
        names = F.create_map(*[F.lit(x) for lbl, i in self.label_ids.items() for x in (i, lbl)])
        label = F.coalesce(F.try_element_at(names, lid), F.raise_error(
            F.concat(F.lit("graphid of an unknown label id "), lid.cast("string"))
        ))
        labels = self.extend_prop_types(reduce(DataFrame.unionByName, [
            *[rows.select("label", "pv") for rows in added.values()],
            *[ids.select(label.alias("label"), F.lit(None).cast(T.VariantType()).alias("pv"))
              for ids in removed.values()],
        ]))
        # a label of unknown kind may be in either table
        touched = {
            kind: {lbl for lbl in labels if self.label_kinds.get(lbl, _KIND[kind]) == _KIND[kind]}
            for kind in kinds
        }
        tables = {}
        for kind in kinds:
            rows = stored(getattr(self, kind), kind)
            if kind in removed:
                rows = rows.join(removed[kind].select("id"), "id", "left_anti")
            if kind in added:
                rows = rows.unionByName(stored(added[kind], kind))
            tables[kind] = rows.localCheckpoint(eager=True)
        bad = self._duplicated([
            (c, tables[k].filter(F.col("label") == c["label"]))
            for c in self.constraints for k in kinds if c["label"] in touched[k]
        ])
        if bad is not None:
            raise ValueError(
                "duplicate key value violates unique constraint on"
                f' {bad["label"]}.{bad["property"] or "properties"}'
            )
        staged = self._staging()
        for kind in _KIND if staged else ():
            if kind in removed:
                self.persist_partitions(kind, touched[kind], tables[kind], staged)
            else:  # gained rows, or untouched: only linked
                self.persist_append(kind, added.get(kind), staged)
        self._publish({kind: rendered(rows) for kind, rows in tables.items()}, staged)

    def _staging(self) -> str | None:
        """The next snapshot's directory name, ``snap-N+1``, cleared of
        what a failed commit left there; None when not durable."""
        if not self.durable_path:
            return None
        staged = f"snap-{int(self._snapshot.rsplit('-', 1)[1]) + 1 if self._snapshot else 1}"
        shutil.rmtree(os.path.join(self.durable_path, staged), ignore_errors=True)
        return staged

    def _write_rows(self, rows: DataFrame, kind: str, staged: str) -> None:
        """Write rows as new files of table `kind` in snapshot `staged`."""
        self._table_writer(rows, kind).partitionBy("label").parquet(
            os.path.join(self.durable_path, staged, kind)
        )

    def persist_append(self, kind: str, new_rows: DataFrame | None, staged: str) -> None:
        """Stage a table that only gained rows (or none): its new rows as
        new files — O(new rows) I/O, not an O(table) rewrite — and every
        stored file linked."""
        if new_rows is not None:
            self._write_rows(new_rows, kind, staged)
        self._link_labels(kind, staged)

    def persist_partitions(self, kind: str, labels: set[str], rows: DataFrame, staged: str) -> None:
        """Stage a table that lost rows (SET, DELETE, DROP LABEL): each
        touched label as ONE file of its rows in the candidate table
        `rows`, however they are spread — O(touched labels), not
        O(table) — and every other label linked. A touched label left
        without rows has no file and is not linked: it is gone."""
        if labels:
            self._write_rows(rows.filter(F.col("label").isin(labels)).repartition("label"), kind, staged)
        self._link_labels(kind, staged, skip=labels)

    def _link_labels(self, kind: str, staged: str, skip: set[str] = frozenset()) -> None:
        """Hard-link (os.link) the files of each label of the live
        snapshot's `kind` table, except the labels in `skip`, into snapshot
        `staged`: no copy, no Spark job. Label directories match on the
        UNESCAPED value (Spark percent-escapes space, ':', '/' in them)."""
        live, table = (os.path.join(self.durable_path, s, kind) for s in (self._snapshot, staged))
        os.makedirs(table, exist_ok=True)
        for entry in os.listdir(live):
            if not entry.startswith("label=") or unquote(entry[len("label="):]) in skip:
                continue
            os.makedirs(os.path.join(table, entry), exist_ok=True)
            for f in os.listdir(os.path.join(live, entry)):
                os.link(os.path.join(live, entry, f), os.path.join(table, entry, f))

    def _publish(self, tables: dict[str, DataFrame], staged: str | None) -> None:
        """Make `tables` (table -> rendered rows) the graph's. A durable
        graph first publishes snapshot `staged` by ONE catalog.json rename,
        with nothing that can fail between it and the swap; a table still
        read from the old snapshot reads `staged` (the same inodes) from
        then on. Last, every other snapshot is removed."""
        if staged:
            rescan = self._scanned - tables.keys()
            spark = next(iter(tables.values())).sparkSession
            for kind in rescan:
                tables[kind] = rendered(_scan(spark, os.path.join(self.durable_path, staged), kind))
            self._write_catalog(staged)
            self._snapshot, self._scanned = staged, rescan
        for kind, rows in tables.items():
            setattr(self, kind, rows)
        for entry in os.listdir(self.durable_path) if staged else ():  # GC
            if entry.startswith("snap-") and entry != staged:
                shutil.rmtree(os.path.join(self.durable_path, entry), ignore_errors=True)

    # -- label DDL + constraints ----------------------------------------

    def _alloc_label_id(self) -> int:
        """Next never-used label id: max(live ids, persisted high-water
        mark) + 1, so ids of dropped labels are never recycled
        (graphid = label_id<<48 | entry_id — a recycled id with a fresh
        entry sequence would collide with a surviving label's ids)."""
        self._label_id_hwm = (
            max(self._label_id_hwm, max(self.label_ids.values(), default=0)) + 1
        )
        return self._label_id_hwm

    def create_label(self, label: str, kind: str) -> None:
        """create_vlabel / create_elabel (label_commands.c:170-265):
        error if the label already exists; otherwise intern its id and
        record its kind. (Cypher CREATE still auto-creates missing
        labels, as the reference's write path does.)"""
        if label in self.label_ids:
            raise ValueError(f'label "{label}" already exists')
        self.label_ids[label] = self._alloc_label_id()
        self.label_kinds[label] = kind
        self._write_catalog()

    def drop_label(self, label: str) -> None:
        """drop_label (label_commands.c:976-1040): error if the label
        does not exist; removes the label's rows (the reference drops
        the label's heap table — dangling edges are possible there too,
        only `force` is gated and unsupported)."""
        if label not in self.label_ids:
            raise ValueError(f'label "{label}" does not exist')
        self.commit(removed={
            kind: getattr(self, kind).filter(F.col("label") == label).select("id")
            for kind in self._tables_of(label)
        })
        del self.label_ids[label]
        self.label_kinds.pop(label, None)
        if self.prop_types is not None:  # no rows left: a later label of this name is new
            self.prop_types.pop(label, None)
        self.constraints = [c for c in self.constraints if c["label"] != label]
        if hasattr(self, "_next_entry"):
            self._next_entry.pop(label, None)
        self._write_catalog()

    def _unique_key_col(self, prop: str | None) -> F.Column:
        """Equality key over a table's properties for unique
        enforcement. Whole-document constraints key on the document's
        canonical text (sorted keys, numbers through their double image) so
        {a:1,b:2} and {b:2,a:1.0} collide, matching gtype equality of
        the properties value; a named property keys on its canonical
        scalar text (null property -> SQL null, which unique ignores —
        PG btree semantics)."""
        if prop is None:
            return G.obj_canon_txt(F.variant_get(F.col("pv"), "$", "map<string,variant>"))
        v = F.try_variant_get(F.col("pv"), f"$.{prop}", "variant")
        return G.canon_key_text(G.from_variant(v))

    def add_unique_constraint(self, label: str, prop: str | None = None) -> None:
        """create_unique_properties_constraint (prop=None) /
        create_property_index(..., is_unique=true) — ALTER TABLE ADD
        CONSTRAINT builds the unique index over EXISTING rows first, so
        pre-existing duplicates fail the DDL (label_commands.c:271-350).
        """
        if label not in self.label_ids:
            raise ValueError(f'label "{label}" does not exist')
        c = {"label": label, "property": prop}
        rows = [getattr(self, kind).filter(F.col("label") == label) for kind in self._tables_of(label)]
        # the canonical-key dup plan is expensive to even COMPILE (codegen
        # over the variant canon expressions); the common DDL-then-load
        # order hits an empty label — probe that with a trivial plan first
        if self._duplicated([(c, r) for r in rows if not r.limit(1).isEmpty()]) is not None:
            what = f'property "{prop}"' if prop else "properties"
            raise ValueError(
                f'cannot add unique constraint on {label}.{what}: existing duplicate values'
            )
        self.constraints.append(c)
        self._write_catalog()

    def _duplicated(self, checks: list[tuple[dict, DataFrame]]) -> dict | None:
        """The first unique constraint whose key two of its rows share,
        of (constraint, rows of its label) pairs, else None: ONE
        partial-agg job over all of them, nothing beyond the answer
        reaching the driver. A null key never collides (PG btree
        semantics)."""
        if not checks:
            return None
        keys = reduce(DataFrame.unionByName, [
            rows.select(F.lit(i).alias("__c"), self._unique_key_col(c["property"]).alias("__k"))
            for i, (c, rows) in enumerate(checks)
        ])
        dup = (
            keys.filter(F.col("__k").isNotNull())
            .groupBy("__c", "__k").count().filter(F.col("count") > 1)
            .select("__c").limit(1).collect()
        )
        return checks[dup[0]["__c"]][0] if dup else None

    def _tables_of(self, label: str) -> tuple[str, ...]:
        """The tables a label's rows live in: both when its kind is unknown."""
        kind = self.label_kinds.get(label)
        return ("vertices", "edges") if kind is None else (_TABLE[kind],)

    def _vector_prop_col(self, prop: str) -> F.Column:
        """A vector property (a number array) as array<double>."""
        return F.try_variant_get(F.col("pv"), f"$.{prop}", "array<double>")

    def create_ivfflat_index(
        self, label: str, prop: str, metric: str = "l2", lists: int = 8, iters: int = 3
    ) -> None:
        """create_ivfflat_l2_ops_index / create_ivfflat_ip_ops_index
        (sql/postgraph.sql.in; ivfkmeans.c trains the list centroids):
        train a k-means coarse quantizer over the label's vector
        property and persist the centroids in the catalog. `metric`:
        'l2' or 'ip' (inner product; training is L2 k-means either way,
        as in ivfkmeans)."""
        from postgraph_spark.operators.clustering import kmeans

        if label not in self.label_ids:
            raise ValueError(f'label "{label}" does not exist')
        if metric not in ("l2", "ip"):
            raise ValueError(f"unknown ivfflat ops {metric!r}")
        tbl = self.vertices if self.label_kinds.get(label) != "edge" else self.edges
        vecs = (
            tbl.filter(F.col("label") == label)
            .select("id", self._vector_prop_col(prop).alias("__v"))
            .filter(F.col("__v").isNotNull())
        )
        _, centroids = kmeans(vecs, "__v", "id", k=lists, iters=iters)
        self.vector_indexes = [
            ix for ix in self.vector_indexes
            if not (ix["label"] == label and ix["property"] == prop)
        ] + [{
            "label": label, "property": prop, "metric": metric,
            "lists": lists, "centroids": centroids,
        }]
        self._write_catalog()

    def ivf_search(
        self, label: str, prop: str, query_vec: list[float], k: int = 5, nprobe: int = 1
    ) -> DataFrame:
        """Probe a trained IVFFlat index: the query's `nprobe` nearest
        lists are picked driver-side (k-means centroids are catalog
        metadata), candidate rows assign to lists by pure projection
        against the SAME centroids, and only probed-list rows are
        ranked. Returns (id, dist) ordered best-first; dist is L2 or
        negative inner product per the index metric."""
        from postgraph_spark.operators.clustering import _sq_dist, assign_clusters

        ix = next(
            (x for x in self.vector_indexes
             if x["label"] == label and x["property"] == prop),
            None,
        )
        if ix is None:
            raise ValueError(f"no ivfflat index on {label}.{prop}")
        q = [float(x) for x in query_vec]

        def sq(c):
            return sum((a - b) * (a - b) for a, b in zip(q, c))

        ranked = sorted(range(len(ix["centroids"])), key=lambda i: (sq(ix["centroids"][i]), i))
        probe = ranked[:nprobe]
        tbl = self.vertices if self.label_kinds.get(label) != "edge" else self.edges
        rows = (
            tbl.filter(F.col("label") == label)
            .select("id", self._vector_prop_col(prop).alias("__v"))
            .filter(F.col("__v").isNotNull())
        )
        rows = rows.withColumn("__list", assign_clusters(rows, "__v", ix["centroids"]))
        cand = rows.filter(F.col("__list").isin(probe))
        qc = F.array(*[F.lit(x) for x in q])
        if ix["metric"] == "l2":
            dist = F.sqrt(_sq_dist(F.col("__v"), q))
        else:  # ip: pgvector <#> is NEGATIVE inner product
            dist = -F.aggregate(
                F.zip_with(F.col("__v"), qc, lambda a, b: a * b),
                F.lit(0.0), lambda acc, x: acc + x,
            )
        return (
            cand.select("id", dist.alias("dist"))
            .orderBy(F.col("dist").asc(), F.col("id"))
            .limit(k)
        )

    def alloc_entry_ids(self, label: str, n: int, kind: str | None = None) -> tuple[int, int]:
        """Reserve n per-label sequence values -> (label_id,
        first_entry_id). Mirrors the reference's label sequences
        (label_commands.c:563-583); the high-water mark is recovered
        from the stored tables on first use per label, so a REOPENED
        durable graph never re-issues ids. A declared label kind
        (create_vlabel/create_elabel) is enforced: writing an edge into
        a vertex label is the shape mismatch the reference's per-kind
        table schemas reject."""
        if kind is not None:
            declared = self.label_kinds.get(label)
            if declared is not None and declared != kind:
                raise ValueError(f'label "{label}" is a {declared} label, not {kind}')
            self.label_kinds.setdefault(label, kind)
        lid = self.label_ids.get(label)
        if lid is None:
            lid = self.label_ids[label] = self._alloc_label_id()
        if not hasattr(self, "_next_entry"):
            self._next_entry: dict[str, int] = {}
        if label not in self._next_entry:
            mx = 0
            for tbl in (self.vertices, self.edges):
                row = (
                    tbl.filter(F.col("label") == label)
                    .agg(F.max(graphid_entry_id(F.col("id"))).alias("m"))
                    .collect()[0]
                )
                mx = max(mx, row["m"] or 0)
            self._next_entry[label] = mx
        base = self._next_entry[label] + 1
        self._next_entry[label] += n
        return lid, base


class GraphCatalog:
    """CREATE/USE/DROP GRAPH (graph_commands.c:60-96). In-memory registry
    backed by an optional root directory of parquet graphs."""

    def __init__(self, spark: SparkSession, root: str | None = None):
        self.spark = spark
        self.root = root
        self.graphs: dict[str, Graph] = {}
        self.current: str | None = None

    def create_graph(self, name: str, if_not_exists: bool = False) -> Graph:
        """create_graph / create_graph_if_not_exists
        (graph_commands.c:60-96; old/regress/catalog.out:401-411): plain
        create errors on a duplicate name; the IF NOT EXISTS form is
        idempotent and returns the existing graph untouched."""
        if name in self.graphs:
            if if_not_exists:
                return self.graphs[name]
            raise ValueError(f"graph {name!r} already exists")
        g = Graph.from_rows(self.spark, name, [], [])
        if self.root:
            g.durable_path = os.path.join(self.root, name)
            g.persist()
        self.graphs[name] = g
        if self.current is None:
            self.current = name
        return g

    def use_graph(self, name: str) -> Graph:
        if name not in self.graphs:
            if self.root and os.path.isdir(os.path.join(self.root, name)):
                self.graphs[name] = Graph.read(self.spark, os.path.join(self.root, name), name)
            else:
                raise ValueError(f"graph {name!r} does not exist")
        self.current = name
        return self.graphs[name]

    def drop_graph(self, name: str, cascade: bool = False) -> None:
        """drop_graph (graph_commands.c; old/regress/catalog.out:69-84):
        errors on a missing graph; without cascade errors because the
        label tables always depend on the graph (even a fresh graph
        carries _ag_label_vertex/_ag_label_edge); cascade drops the
        graph and, for durable graphs, removes the backing directory."""
        if name not in self.graphs:
            raise ValueError(f"graph {name!r} does not exist")
        g = self.graphs[name]
        if not cascade:
            deps = ", ".join(sorted(g.label_ids)) or "_ag_label_vertex, _ag_label_edge"
            raise ValueError(
                f"cannot drop graph {name} because other objects depend on it"
                f" (labels: {deps}); use DROP GRAPH {name} CASCADE"
            )
        self.graphs.pop(name)
        if g.durable_path and os.path.isdir(g.durable_path):
            shutil.rmtree(g.durable_path)
        if self.current == name:
            self.current = None

    def rename_graph(self, name: str, new_name: str) -> Graph:
        """alter_graph(name, 'RENAME', new) (graph_commands.c:380-430).
        Durable graphs move their backing directory with the name."""
        if name not in self.graphs:
            raise ValueError(f"graph {name!r} does not exist")
        if new_name in self.graphs:
            raise ValueError(f"graph {new_name!r} already exists")
        g = self.graphs.pop(name)
        g.name = new_name
        if g.durable_path and self.root:
            new_path = os.path.join(self.root, new_name)
            os.rename(g.durable_path, new_path)
            g.durable_path = new_path
            # reload lazily-read tables from the moved directory so
            # lineage does not point at the old path
            reloaded = Graph.read(self.spark, new_path, new_name)
            g.vertices, g.edges = reloaded.vertices, reloaded.edges
            g._snapshot, g._scanned = reloaded._snapshot, reloaded._scanned
            g._write_catalog()
        self.graphs[new_name] = g
        if self.current == name:
            self.current = new_name
        return g

    def register(self, graph: Graph) -> Graph:
        self.graphs[graph.name] = graph
        if self.current is None:
            self.current = graph.name
        return graph


# -- graph projection of the relational star schema (FIXTURES.md F8) -----

TPCH_VLABELS = {"customer": 1, "orders": 2, "part": 3, "supplier": 4, "nation": 5}
TPCH_ELABELS = {"placed": 6, "contains": 7, "from_nation": 8, "supplied_by": 9}


_GRAPH_CACHE: dict[tuple[str, str], "Graph"] = {}


def tpch_graph(spark: SparkSession, sf_dir: str, use_cache: bool = True) -> Graph:
    """Project the TPC-H-ish tables into a property graph.

    vertices: customer / orders / part / supplier / nation rows.
    edges: placed (customer->orders), contains (orders->part, lineitem
    props), from_nation (customer->nation, supplier->nation).
    All built declaratively — at 100 TB this is a column-pruned scan plus
    a narrow projection, no shuffle.

    Each row's ``pv`` VARIANT document is built directly from the native
    columns with to_variant_object — never parsed from text — and every
    property access downstream is a binary variant_get. The graph is
    memoized per (session, sf_dir) and cached: the reference stores its
    graph in heap tables; the Spark analog of "the graph exists" is a
    materialized (cached / parquet-backed) projection, not a rebuild per
    query.
    """
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    if use_cache and key in _GRAPH_CACHE:
        return _GRAPH_CACHE[key]

    # placed / from_nation carry an empty properties document
    prop_types: dict[str, dict[str, frozenset | None]] = {"placed": {}, "from_nation": {}}

    def doc(label: str, df: DataFrame, ps: F.Column) -> F.Column:
        """The document of struct ps over df; the catalog learns each
        field's atom from its Spark type."""
        fields = df.select(ps.alias("p")).schema["p"].dataType.fields
        prop_types[label] = {
            f.name: (frozenset({a}) if (a := _spark_atom(f.dataType)) else None) for f in fields
        }
        return F.to_variant_object(ps)

    def vtab(name: str, key: str, cols: list[str]) -> DataFrame:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        lid = TPCH_VLABELS[name]
        ps = F.struct(*[F.col(c) for c in cols])
        return df.select(
            (F.lit(lid).cast("long") * F.lit(1 << ENTRY_ID_BITS) + F.col(key).cast("long")).alias("id"),
            F.lit(name).alias("label"),
            doc(name, df, ps).alias("pv"),
        )

    vertices = (
        vtab("customer", "c_custkey", ["c_custkey", "c_name", "c_acctbal", "c_mktsegment"])
        .unionByName(vtab("orders", "o_orderkey", ["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority", "o_orderdate"]))
        .unionByName(vtab("part", "p_partkey", ["p_partkey", "p_name", "p_brand", "p_type", "p_size"]))
        .unionByName(vtab("supplier", "s_suppkey", ["s_suppkey", "s_name", "s_acctbal"]))
        .unionByName(vtab("nation", "n_nationkey", ["n_nationkey", "n_name"]))
    )

    def gid(label: str, key_col: F.Column, table: dict[str, int] = TPCH_VLABELS) -> F.Column:
        return F.lit(table[label]).cast("long") * F.lit(1 << ENTRY_ID_BITS) + key_col.cast("long")

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    customer = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    supplier = spark.read.parquet(os.path.join(sf_dir, "supplier.parquet"))
    lineitem = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))

    def eid(label: str, seq: F.Column) -> F.Column:
        return F.lit(TPCH_ELABELS[label]).cast("long") * F.lit(1 << ENTRY_ID_BITS) + seq

    empty_pv = G.variant_object({})  # constant-folded
    placed = orders.select(
        eid("placed", F.col("o_orderkey").cast("long")).alias("id"),
        gid("customer", F.col("o_custkey")).alias("start_id"),
        gid("orders", F.col("o_orderkey")).alias("end_id"),
        F.lit("placed").alias("label"),
        empty_pv.alias("pv"),
    )
    li_props = F.struct(
        F.col("l_quantity").alias("quantity"),
        F.col("l_extendedprice").alias("extendedprice"),
        F.col("l_discount").alias("discount"),
    )
    contains = lineitem.select(
        eid("contains", F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("id"),
        gid("orders", F.col("l_orderkey")).alias("start_id"),
        gid("part", F.col("l_partkey")).alias("end_id"),
        F.lit("contains").alias("label"),
        doc("contains", lineitem, li_props).alias("pv"),
    )
    cust_nation = customer.select(
        eid("from_nation", F.col("c_custkey").cast("long")).alias("id"),
        gid("customer", F.col("c_custkey")).alias("start_id"),
        gid("nation", F.col("c_nationkey")).alias("end_id"),
        F.lit("from_nation").alias("label"),
        empty_pv.alias("pv"),
    )
    supp_nation = supplier.select(
        eid("from_nation", F.lit(1 << 40) + F.col("s_suppkey").cast("long")).alias("id"),
        gid("supplier", F.col("s_suppkey")).alias("start_id"),
        gid("nation", F.col("s_nationkey")).alias("end_id"),
        F.lit("from_nation").alias("label"),
        empty_pv.alias("pv"),
    )
    edges = placed.unionByName(contains).unionByName(cust_nation).unionByName(supp_nation)
    label_ids = dict(TPCH_VLABELS)
    label_ids.update(TPCH_ELABELS)
    g = Graph("tpch", vertices, edges, label_ids)
    g.prop_types = prop_types
    if use_cache:
        g.cache()
        _GRAPH_CACHE[key] = g
    return g
