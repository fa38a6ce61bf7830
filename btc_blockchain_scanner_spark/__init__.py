"""btc_blockchain_scanner_spark — a PySpark-native analytics / KG-construction engine.

A from-scratch re-expression of the capabilities of the reference
``keeperlink/btc-blockchain-scanner`` (a Java blockchain → MySQL → Neo4j ETL,
see SURVEY.md) as an idiomatic Apache Spark DataFrame/SQL engine:

* ``sources``    — table registry / parquet (Iceberg-ready) scans & sinks
                   (reference: src/BlockProvider.java, db/facade/* — SURVEY.md §2.1)
* ``functions``  — scalar & text functions, all JVM-side ``pyspark.sql.functions``
                   (reference: util/Utils.java, util/SigUtils.java — SURVEY.md §2.6)
* ``operators``  — relational operators (joins/aggs/filters/windows), dedup,
                   similarity search, connected components
                   (reference: db/facade/DbQuery*.java — SURVEY.md §2.2-2.5)
* ``kg``         — the knowledge-graph construction pipeline: transcript datagen,
                   triple extraction (Arrow UDFs), entity linking, canonicalization
                   (union-find / CC), graph materialization, checkpoints
                   (reference: RunFullScan / RunUpdateWallets2 / RunNeoLoader — SURVEY.md §3)
* ``plans``      — the query registry that backs ``__spark_entry__.py``

Everything is declarative DataFrame/SQL so Catalyst + AQE pick physical plans;
per-row logic lives exclusively in Arrow-vectorized pandas UDFs.
"""

__version__ = "0.1.0"

from .session import get_spark  # noqa: F401
