"""kgkit — a PySpark-native knowledge-graph construction engine.

Re-expresses the query/data-processing semantics of flxst/nerblackbox
(mention detection = NER span extraction) as stage 1 of a distributed
KG pipeline: pages -> mentions -> entity linking -> canonicalization ->
(subj, pred, obj) triples.

Design stance (SURVEY.md §7.0):
  * DataFrame API + Arrow-batched Python UDFs only (stage 1 is one
    ``mapInArrow`` row-to-records loop, kgkit.functions.records); no
    per-row Python UDFs, no RDD maps.
  * All within-document sequence algebra (subtoken merges, char-offset
    restoration, entity merges) lives in the pure-Python ``kgkit.ner_core``
    package, used identically inside Spark UDFs and in plain pytest.
  * Everything cross-document (joins, connected components, metrics,
    dedup, similarity search) is native Spark SQL so Catalyst can
    optimize it.
"""

__version__ = "0.1.0"
