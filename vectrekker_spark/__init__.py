"""vectrekker_spark — a PySpark-native analytics engine.

Re-expresses the semantic surface of the reference tool (vectrekker: scan →
filter → incremental delta → tokenize → embed → vector-index → top-k cosine
search; see SURVEY.md) as Spark DataFrame / SQL workloads, extended with the
relational core and LLM-data-pipeline operators (dedup, similarity search,
chunking, text analysis) needed at 100 TB scale.

Design rules (SURVEY.md §4.2):
- declarative DataFrame/SQL plans only — let Catalyst/AQE pick physical plans
- built-in `pyspark.sql.functions` in the hot path; Arrow pandas_udf when
  Python is unavoidable; never row-at-a-time Python UDFs
- broadcast small sides, local-top-k before global top-k, no naive crossJoin
  materialization at scale
"""

from vectrekker_spark.session import get_spark
from vectrekker_spark.catalog import TABLES, load_tables, register_views

__all__ = ["get_spark", "TABLES", "load_tables", "register_views"]
__version__ = "0.1.0"
