"""ir_spark — a PySpark-native inverted-index build + BM25 top-k query
engine (from-scratch rebuild of the capabilities of
siddhantsahu/ir-search-engine; see SURVEY.md).

Layout (SURVEY §7.3 + driver package contract):
  text.py      frozen tokenizer spec (pure)
  oracle.py    single-process executable spec / golden generator (pure)
  codec.py     delta + varbyte posting-list codec (numpy)
  schema.py    Spark StructTypes for pages/postings/docinfo/segments
  session.py   SparkSession factory with scale-aware defaults
  fixtures.py  deterministic synthetic pages corpus
  functions/   vectorized Arrow/pandas UDF kernels (tokenize, textstats,
               similarity)
  operators/   build (E1/E2), query (E3), dedup, ann, topk
  sources/     pages reader, bucketed segment storage, checkpoints
  plans/       plan-inspection helpers (explain audits)
  streaming/   incremental index ingest (Structured Streaming)
  zipguard.py  stops Python workers re-reading unchanged zips per task
"""

from . import zipguard

zipguard.install()

__version__ = "0.1.0"
