"""PySpark-native analytics engine with the query and data-processing
capabilities of the reference (revuedepresse/org.revue-de-presse.trends).

The reference is a Go ETL worker that assembles SQL strings executed by
PostgreSQL and fans results out to a Firebase document sink
(see SURVEY.md).  This package re-expresses the same capabilities
Spark-first:

- ``session``    — tuned SparkSession factory (AQE, UTC, dynamic overwrite)
- ``catalog``    — parquet/JDBC table loaders with explicit schemas
- ``functions``  — named column expressions (civil day, popularity cascade,
                   text analysis, hashing, vector math)
- ``operators``  — reusable dataframe-level operators (top-k, argmax,
                   anti-join, dedup, similarity search)
- ``plans``      — end-to-end pipelines (the three trends variants, the
                   driver query suite)
- ``sources``    — JDBC reader, document sink, partitioned lake sink
"""

__version__ = "0.1.0"
