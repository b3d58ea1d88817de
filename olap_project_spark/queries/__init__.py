"""OLAP queries over the cleaned transaction fact: the reference's ten
questions (Q0–Q9) live in :mod:`olap_project_spark.queries.transactions`."""
