"""Import side-effects populate the query registry (registry.py)."""

from bigdatasmallprice_spark.queries import (  # noqa: F401
    curationq,
    dedupq,
    layoutq,
    mlq,
    relational,
    seqq,
    sketchq,
    simq,
    textq,
    timeseries,
)
