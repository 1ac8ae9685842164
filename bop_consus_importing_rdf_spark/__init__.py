"""PySpark-native knowledge-graph construction engine.

A from-scratch rebuild of the query/data-processing capabilities of the
reference microservice ``sefeoglu/bop-consus-importing-rdf`` (a Kotlin/Vert.x
RDF catalogue splitter, see /root/reference) as an idiomatic Spark batch DAG:

- ``functions/``  scalar column expressions (N-Triples rendering, identifier
  derivation, canonical hashing) — all JVM-side, whole-stage-codegen friendly.
- ``operators/``  relational operators (cleanup filters, reachability closure,
  manifest aggregation, dedup family, similarity search, text analysis).
- ``kg/``         the north-rule KG pipeline over conversation transcripts:
  mention detection (JVM regex), entity linking (broadcast join),
  MinHash blocking, connected-components canonicalization, graph materialize.
- ``sources/``    table catalog + write/resume helpers.
- ``plans/``      per-partition lineage & metrics.
- ``streaming/``  incremental transcript ingestion (Structured Streaming).
"""

__version__ = "0.1.0"
