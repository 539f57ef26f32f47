"""PySpark-native analytics engine with the query/data-processing
capabilities of the reference social-media ETL+analytics pipeline
(`harshith444/Social-Media-Data-Pipeline-Recession-Political-Sentiment`).

The reference delegates all relational work to PostgreSQL + pandas
loops; this package re-expresses every operator in SURVEY.md §2 as
idiomatic Spark: declarative DataFrame/SQL plans optimized by
Catalyst, Arrow-batched pandas UDFs only where built-ins can't
express the semantics, and Structured Streaming for the polling
micro-batch ingestion loops.

Layout:
    session     -- tuned SparkSession factory (AQE, UTC, shuffle sizing)
    catalog     -- testdata table loader / temp-view registration
    registry    -- query + DuckDB-oracle registration (driver contract)
    functions/  -- scalar expression layers (text, time, json)
    operators/  -- relational core, dedup, similarity, text analysis
    enrich/     -- sentiment / hate-speech scorers, the an_* gold table
    sources/    -- batch/streaming source adapters (csv, json, parquet)
    streaming/  -- Structured Streaming jobs (dedup, windows, sessions)
    plans/      -- medallion pipeline composition + maintenance jobs
"""

__version__ = "0.1.0"
