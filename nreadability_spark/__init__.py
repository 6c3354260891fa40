"""nreadability_spark: PySpark-native main-content extraction engine.

Layout:
  readability/  pure-Python single-document transcoder (parser, DOM,
                scoring pipeline, serializer) — runs inside Arrow batches
  spark/        dataset-level operators: scan → prune → salted repartition
                → mapInArrow extraction → sinks + metrics, plus
                training-data ops (dedup, similarity, text analysis)
"""

__version__ = "0.1.0"
