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

# Settings that every session the program builds applies; operators set
# no conf.  Spark keeps generated classes in one JVM cache, 100 by
# default.  A warm stream micro-batch runs about 60 distinct generated
# classes and each read 8 more, so the default evicts them between
# batches and every batch recompiled 80-100 of them; 1,000 keeps the
# stream's and a build's working set for the session.  The cache size is
# a static conf, read once at session start: only a session builder can
# set it.  The cache is keyed by source, and a whole-stage class is
# named after its codegen stage id, which adaptive execution assigns in
# the order it creates stages, so the same plan can number a stage 3 in
# one run and 4 in the next; unnumbered names let both hit one entry.
SESSION_CONF = {
    "spark.sql.codegen.cache.maxEntries": "1000",
    "spark.sql.codegen.useIdInClassName": "false",
}
