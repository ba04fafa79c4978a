"""distributed_api_etl_spark — a PySpark-native distributed API ETL engine.

A from-scratch, Spark-first rebuild of the capabilities of the reference
``zimmerj271/distributed-api-etl`` framework (config-driven row->HTTP-request
ETL into a typed bronze table), plus the large-scale training-data-pipeline
operators (dedup, similarity search, text analysis, multimodal columns) that
a 100 TB ingestion platform needs.

Design stance (see README.md):
  * All relational work (idempotency diff, batching, validation, sink) is
    declarative DataFrame code so Catalyst/AQE optimize it.
  * The genuinely custom 20% — async HTTP fan-out, middleware, token RPC —
    is self-contained worker-side Python used inside ``mapPartitions``.
  * Everything here derives from public knowledge only (Apache Spark APIs and
    the public reference repo's observable behavior).
"""

__version__ = "0.1.0"

from distributed_api_etl_spark.core.runtime import reuse_unchanged_zip_directories
from distributed_api_etl_spark.session import get_spark  # noqa: F401

# every Python worker that unpickles a library function imports this package
reuse_unchanged_zip_directories()
