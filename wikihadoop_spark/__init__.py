"""wikihadoop_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of whym/wikihadoop, rebuilt Spark-first.

The reference (read-only at /root/reference) is a Hadoop-1 InputFormat +
streaming-mapper pipeline over Wikipedia full-history XML dumps
(StreamWikiDumpInputFormat.java + revision_differ.py).  This package
re-expresses that fixed dataflow — scan → page-aligned split → revision
explode → lag-pairing → regex filter → metadata projection → token diff →
TSV sink → sort/dedup — as declarative DataFrame plans over a custom
Python DataSource, plus the full relational operator surface (joins, aggs,
windows, set ops, scalar functions) and large-scale training-data pipeline
operators (dedup, similarity search, text analysis) the modern engine
needs.

Layout:
  session.py    — SparkSession factory + oracle-parity session config;
                  the worker-only zip-importer hook installed below
  catalog.py    — testdata table loading (handles nanos timestamps)
  relational.py — named query catalog + DuckDB oracle SQL (driver contract)
  operators/    — pairing (lag), asof/range joins, dedup, components, similarity, topk
  sources/      — wikidump custom DataSource (page-aligned XML splitting)
  functions/    — tokenizer, Myers-style token diff, text stats, py2-repr
  plans/        — end-to-end pipelines (diffdb)
  streaming/    — structured-streaming windows/session/stateful ops
"""

from .session import install_worker_zip_cache

__version__ = "0.1.0"

install_worker_zip_cache()
