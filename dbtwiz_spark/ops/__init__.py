"""SURVEY §2 operator corpus.

Importing this package populates ``dbtwiz_spark.ops.registry.CORPUS`` with
every implemented operator: a Spark query fn ``(spark, sf_dir) -> DataFrame``
plus (where SQL-expressible) an equivalent DuckDB oracle SQL string. The
driver contract (`__spark_entry__.py`) re-exports the corpus in
registration order, i.e. the import order below.
"""

from dbtwiz_spark.ops.registry import CORPUS, register, QuerySpec  # noqa: F401

# Import order mirrors SURVEY §2 sections; each import registers entries.
from dbtwiz_spark.ops import scans  # noqa: F401  §2.1
from dbtwiz_spark.ops import filters  # noqa: F401  §2.2
from dbtwiz_spark.ops import joins  # noqa: F401  §2.3
from dbtwiz_spark.ops import aggregates  # noqa: F401  §2.4
from dbtwiz_spark.ops import windows  # noqa: F401  §2.5
from dbtwiz_spark.ops import sorts  # noqa: F401  §2.6
from dbtwiz_spark.ops import setops  # noqa: F401  §2.7
from dbtwiz_spark.ops import functions  # noqa: F401  §2.8
from dbtwiz_spark.ops import streaming_batch  # noqa: F401  §2.9 batch forms
from dbtwiz_spark.ops import sinks  # noqa: F401  §2.1 write path
from dbtwiz_spark.ops import udfs  # noqa: F401  §2.10
from dbtwiz_spark.ops import ext_llm  # noqa: F401  §2.11
from dbtwiz_spark.ops import ext_pipeline  # noqa: F401  §2.11 family §E
from dbtwiz_spark.ops import skew  # noqa: F401  §4 skew mitigation
from dbtwiz_spark.ops import graphs  # noqa: F401  §2.11 iterative graph
