"""distributed_graph_database_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the query surface of the reference
graph database (Neo-Panther/Distributed-Graph-Database, five POSIX C
processes storing adjacency-matrix text files; see SURVEY.md) on the
Spark DataFrame/SQL/Catalyst/Structured Streaming stack, plus the
LLM-data-pipeline operators (dedup, similarity search, text analysis,
multimodal columns) a 100 TB training-data pipeline needs.

Design rules (SURVEY.md §7):
- DataFrame/SQL first; Catalyst + AQE do the physical planning.
- Zero row-at-a-time Python UDFs on declared query paths; Pandas UDFs
  only where built-ins can't express the semantics (multimodal decode).
- Iterative graph traversal = driver-side loop of DataFrame joins with
  localCheckpoint lineage truncation (the GraphX pattern, OSDI'14).
  The convergence loops run on one kernel, `graph.iterate.fixpoint`: a
  lazy checkpoint per round, materialized by the round's convergence
  probe (one action per round), a round bound and a named error.
"""

__version__ = "0.1.0"
