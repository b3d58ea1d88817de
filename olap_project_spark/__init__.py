"""olap_project_spark — the reference POS-analytics pipeline, on Spark.

A Spark-first re-expression of the reference system
``pqkkkkk/olap-project``: POS transactions stream through clean → route
into four sinks, each day is exported to a warehouse, and the ten OLAP
questions (Q0–Q9) are answered over it. The manifest-sink lakehouse
gives the export atomic commits and row-level (GDPR) deletes.

Layout
------
- ``session``     SparkSession builder (AQE, Arrow, UTC, sane shuffle sizing)
- ``schemas``     canonical schemas (raw/processed transaction, rates, ...)
- ``transforms``  clean / route / enrich — the streaming-ETL core as pure
                  batch-compatible DataFrame functions
- ``streaming``   readStream pipelines, the foreachBatch fan-out, windows
- ``export``      daily warehouse export, its scheduler, and the
                  manifest-sink lakehouse (commits, deletes, time travel)
- ``queries``     Q0–Q9 over the cleaned transaction fact
- ``sources``     exchange-rate dimension, POS simulator source, batch
                  readers
- ``functions``   the Arrow local-frame builder

Everything is DataFrame/SQL-declarative so Catalyst handles pushdown,
pruning, join strategy, and whole-stage codegen; Python row-UDFs are
banned from hot paths (see SURVEY.md §2.10, §4). The benchmark is
``perfbench/`` at the repository root.
"""

__version__ = "0.1.0"
