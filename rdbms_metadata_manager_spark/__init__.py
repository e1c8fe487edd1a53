"""PySpark-native analytics engine with the capabilities of
antonylucas/rdbms-metadata-manager (reference @ /root/reference/).

The reference is a single-file Python CLI that reflects a relational
catalog and applies 5 data-quality rules (reference app.py:25-107).
This engine re-expresses that surface — and a full analytics +
LLM-data-pipeline operator set — as declarative Spark DataFrame plans
so Catalyst/Tungsten pick the physical strategy and the same code
scales from a laptop to a 1000-executor cluster.

Layout:
  catalog/   metadata data model, fixtures, live catalog readers
  rules/     the 5 data-quality rules as composable DataFrame transforms
  sinks/     console / CSV sinks
  queries/   relational analytics surface (joins, aggs, windows, ...)
  llm/       dedup, similarity search, text analysis, multimodal
  streaming/ Structured Streaming over the events surface
"""

__version__ = "0.1.0"
