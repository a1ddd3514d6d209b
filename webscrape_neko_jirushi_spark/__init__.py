"""PySpark-native crawl/analytics engine.

A from-scratch re-expression of the query and data-processing
capabilities of the reference scraping toolkit
(Jocelyn-H213/WebScrape_neko-jirushi) as idiomatic PySpark:
DataFrame/SQL logical plans optimized by Catalyst, Arrow-vectorized
pandas UDFs for the parse/probe slow path, and a snapshot-committed
epoch loop for the resumable crawl frontier.

Layout
------
- ``session``    SparkSession factory tuned for local[N] and cluster runs
- ``schemas``    fixed StructTypes for every engine table
- ``functions``  column-level scalar logic (URLs, text, media probes)
- ``operators``  relational operators (frontier, dedup, spans, cleaning,
                 similarity, reorganize)
- ``crawl``      the epoch-loop crawl engine: exact seen-set, politeness
                 scheduler, atomic snapshot store, sequential oracle
- ``fixtures``   deterministic synthetic site mirror (no network, seeded)
- ``text``       text-analysis operators (lang-id, quality, tokens,
                 fingerprints) for training-data pipelines
- ``sources``    readers/writers beyond plain parquet (binary, json state)
- ``streaming``  foreachBatch wrapper for the epoch loop
"""

__version__ = "0.1.0"
