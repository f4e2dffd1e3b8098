"""pybiodatafuse_spark — a from-scratch PySpark-native link-graph analytics engine.

Re-expresses the query/data-processing capabilities of BioDataFuse/pyBiodatafuse
(reference at /root/reference, pandas/networkx, driver-memory bound) as an
idiomatic Spark DataFrame/SQL engine targeted at Common-Crawl-scale link graphs:

- ``sources``   : page-table scans, identifier loaders, registry lookups
- ``functions`` : column functions: link extraction and url canonicalization
                  as built-in Spark expressions, text extraction as an Arrow
                  pandas UDF, hashing, text-quality scoring
- ``operators`` : relational operators (collapse/combine/filter/join families
                  from SURVEY.md §2), dedup, similarity search, subgraph, summary
- ``plans``     : the checkpointed superstep engine and graph algorithms
                  (PageRank, connected components, label propagation, triangles)
- ``sinks``     : edge-list/TSV/JSON/RDF exports, Neo4j/Cytoscape payload
                  connectors and the run_metadata provenance table
- ``streaming`` : Structured Streaming jobs over event streams

Design notes (scale-first): all hot paths are built-in Spark expressions or
Arrow-batched pandas UDFs; iterative algorithms checkpoint state per superstep
and persist per-partition lineage + metrics; skewed hub vertices are salted.
"""

__version__ = "0.1.0"
