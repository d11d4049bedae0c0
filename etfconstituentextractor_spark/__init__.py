"""etfconstituentextractor_spark — a PySpark-native analytics engine.

A ground-up, distributed re-expression of the query / data-processing
capabilities of the reference tool ``sap215/ETFConstituentExtractor``
(a single-threaded pandas+BeautifulSoup SEC NPORT-P scraper,
``/root/reference/ETFQuarterlyHoldingsExtractor.py:1-170``), built
Spark-first: DataFrame/SQL logical plans optimized by Catalyst, Pandas
UDF / mapInPandas only where built-ins cannot express the semantics,
Structured Streaming for unbounded inputs.

Layout
------
- ``session``    — SparkSession factory (UTC, Arrow, AQE).
- ``schemas``    — explicit StructTypes for the test corpus tables.
- ``sources``    — typed corpus readers, WARC, snapshot tables, derived caches.
- ``functions``  — boundary money parsing + oracle-parity helpers.
- ``operators``  — composed operators Spark lacks natively (as-of join,
                   dedup families, similarity search, text analysis).
- ``plans``      — the named query catalog (the driver-facing surface).
- ``streaming``  — Structured Streaming replay + windowed queries.
- ``pipeline``   — the corpus-curation pipeline as one audited plan.

The engine starts from corpus tables; fetching documents over HTTP is
outside it.
"""
