"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship quality-filter pipeline (extract -> langid ->
Gopher rules -> PII scrub -> keep/drop) over the sf0.001 documents table.
``queries``/``oracle_sql`` expose the gate battery from
language_identification_spark.registry — every entry verified against DuckDB
by tools/check_correctness.py before shipping.
"""

from language_identification_spark.queries_models import entry
from language_identification_spark.registry import oracle_sql, queries

__all__ = ["entry", "oracle_sql", "queries"]
