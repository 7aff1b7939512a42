"""master_project_spark — a PySpark-native knowledge-graph construction engine.

Re-expresses the dataflow semantics of the reference single-node entity
extractor (priyangshu-datta/master-project, read-only at /root/reference) as a
distributed, transcript-scale Spark pipeline:

    transcripts -> normalize/split/chunk -> mention & triple extraction
                -> alias linking (broadcast) -> canonicalization (MinHash-LSH
                   + union-find connected components) -> nodes/edges tables

Everything is DataFrame-first; custom text semantics live in the pure-Python
shared core (`core.py`) used identically by the single-process oracle and the
Spark pandas/Arrow UDFs, so correctness (triple P/R >= 0.95 vs the oracle) is
structural, not statistical.
"""

__version__ = "0.1.0"
