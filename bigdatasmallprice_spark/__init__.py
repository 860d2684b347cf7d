"""bigdatasmallprice_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the query/data-processing capabilities of
the reference platform (BDP26/BigDataSmallPrice: TimescaleDB hypertables,
continuous aggregates, SQL feature views, FastAPI serving queries) as an
idiomatic Spark engine: DataFrame/SQL logical plans optimized by Catalyst,
partition-pruned parquet storage, broadcast-able dimension joins, and
Arrow-vectorized Python only where the built-ins cannot express the
semantics.

Layout:
    session     SparkSession factory (UTC, AQE, sane shuffle defaults)
    catalog     table registry over the driver-provided parquet test tables
    registry    query registry: every operator exposed as (spark_fn, oracle_sql)
    schemas     explicit StructTypes for the reference's 13 domain tables
    functions/  scalar layers: calendar shims, tariff formulas, metrics, text
    operators/  windows, rollups, dedup/upsert, splits, top-k, similarity
    plans/      the two feature views re-expressed as Spark SQL
    sources/    parsers for the reference's raw payload formats
    streaming/  replay-safe incremental-state folds (KN, DSIR, langid, embeddings)
"""

__version__ = "0.1.0"
