"""postgraph_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of PostGraphDB/postgraph.

Architecture (see SURVEY.md):
- Property-graph data model on Parquet: ``vertices(id, label, pv)`` and
  ``edges(id, start_id, end_id, label, pv)`` per graph (``pv`` = the
  properties document, one VARIANT object built from typed values; its
  JSON text is rendered on read, never stored), partitioned by label
  (reference: per-label heap tables with inheritance,
  src/backend/commands/label_commands.c:651-712).
- Cypher text -> hand-written parser -> clause IR -> DataFrame compiler
  (reference compiles clauses to nested SQL subqueries,
  src/backend/parser/cypher_clause.c; we chain lazy DataFrames and let
  Catalyst optimize).
- gtype dynamic scalar semantics (src/include/utils/gtype.h) re-expressed
  as a tagged struct column with native Spark expressions for arithmetic
  dispatch, cross-type orderability, and containment.
- Variable-length edges (src/backend/utils/path_finding/dfs.c) as an
  iterative frontier-join BFS over the edge DataFrame.
- Training-data-pipeline extensions (dedup, ANN similarity, text analysis,
  multimodal plumbing) designed shuffle-first for 100 TB scale.
"""

from postgraph_spark.session import get_spark
from postgraph_spark.graph import Graph, GraphCatalog

__version__ = "0.1.0"

__all__ = ["get_spark", "Graph", "GraphCatalog", "__version__"]
