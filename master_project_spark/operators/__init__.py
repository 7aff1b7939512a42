"""Reusable large-scale data-pipeline operators (dedup, similarity search,
text analysis, retrieval) built Spark-first: JVM expressions where possible,
Arrow-batched pandas UDFs where not.
"""
