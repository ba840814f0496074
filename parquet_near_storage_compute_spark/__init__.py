"""parquet_near_storage_compute_spark — a PySpark-native analytics engine.

A brand-new, Spark-first re-expression of the capabilities of the reference
repo ``LinusWeigand/parquet-near-storage-compute`` (read-only snapshot at
``/root/reference``): near-storage Parquet scan → prune → project → filter →
aggregate (v1 engine), selective byte-range accounting (v2 engine), and the
Snowset analytical SQL — plus large-scale training-data-pipeline operators
(dedup, similarity search, text analysis, multimodal columns).

Everything is declared via the DataFrame/SQL API so Catalyst performs column
pruning, predicate pushdown, row-group skipping, broadcast-join selection and
partial aggregation (see SURVEY.md §4: zero custom Catalyst rules needed for
parity).
"""

from parquet_near_storage_compute_spark.session import get_spark
from parquet_near_storage_compute_spark.tables import (
    TABLES,
    load_table,
    register_views,
    table_path,
)
from parquet_near_storage_compute_spark.workers import install_zipimport_stamps

# Here, not in a session: a Python worker imports the package when it
# unpickles engine code, and that is what installs the stamps there.
install_zipimport_stamps()

__all__ = ["get_spark", "TABLES", "load_table", "register_views", "table_path"]

__version__ = "0.1.0"
