"""nycitibike_data_transform_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capabilities of the reference repo
``juicero-chief-juice-officer/nycitibike-data-transform`` (a dbt/BigQuery
ELT pipeline; see SURVEY.md) as an idiomatic PySpark engine:

- ``session``     — SparkSession builder (AQE on, UTC, tuned shuffle).
- ``catalog``     — env/layer/table naming + testdata loading.
- ``sources``     — parquet/csv readers (schema-on-read and enforced).
- ``functions``   — scalar/column function library (haversine, decode,
                    text analysis, vector math) — all Catalyst-native
                    ``Column -> Column`` builders, no row UDFs.
- ``operators``   — relational/dataflow operators (conform-union,
                    dedup family, similarity search, sessionization).
- ``models``      — the reference's pipeline models re-expressed on the
                    driver's testdata (zone dim, staged rides, marts).
- ``pipeline``    — dependency-ordered materialization runner (the dbt
                    DAG analogue).
- ``plans``       — plan-inspection helpers (assert broadcast/pushdown).
- ``streaming``   — Structured Streaming surface over the events and
                    documents feeds.

Design notes (100 TB posture): every operator is expressed on the
DataFrame/SQL API so Catalyst gets predicate pushdown, column pruning
and join planning; small dimensions are broadcast explicitly; wide
aggregations rely on partial (map-side) aggregation; no operator ever
collects data to the driver.
"""

__version__ = "0.1.0"
