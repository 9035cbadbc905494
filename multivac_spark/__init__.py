"""multivac_spark — a PySpark-native knowledge-graph construction engine.

A from-scratch, Spark-first reimplementation of the KG-construction
capabilities of GallupGovt/multivac (reference read-only at
/root/reference): HTML→text extraction, document cleaning, sentence /
dependency parsing, SVO triple extraction, entity linking +
canonicalization (LSH blocking + connected components), and OpenKE-shape
graph materialization — plus the large-scale training-data operators a
100 TB corpus pipeline needs (dedup family, ANN search, text analysis,
multimodal plumbing).

Layout
------
- ``sources``   : corpus synthesizer, table loaders, OpenKE sink
- ``functions`` : the Arrow-batched UDF families (html→text, clean,
                  parse, svo, normalize, textops)
- ``operators`` : canonicalization, dedup, ann, analytics, materialize
- ``plans``     : end-to-end pipeline orchestration, versioned tables
                  (``snapshots``) and stage resume (``lineage``)
- ``streaming`` : incremental (Trigger.AvailableNow) ingest

Everything here is public-knowledge PySpark; no code is copied from the
reference — file:line citations in docstrings point at the *behavior*
being matched.
"""

__version__ = "0.1.0"
