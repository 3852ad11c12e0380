"""mashspark — a from-scratch PySpark-native near-duplicate detection and
clustering engine with the query semantics of marbl/Mash (bottom-k MinHash
sketching, Mash distance, containment screening), applied to web text.

Layering (SURVEY.md §7):

* numpy core, no Spark:  ``hashing`` ``minhash`` ``compare`` (``dna`` is
  golden-test-only DNA support)
* Spark DataFrame layer: ``sketch`` (one mapInArrow generator), ``lsh``
  (banded candidate join + skew salting), ``verify`` (Mash-exact pair
  verification), ``cc`` (large/small-star connected components),
  ``screen`` (containment), ``pipeline`` (end-to-end dedup),
  ``io`` (checkpoint/resume manifest)
* training-data extras: ``textstats`` ``simhash`` ``ann`` ``multimodal``
  ``urls`` ``extract`` ``repetition`` ``decontam`` ``packing``
  ``sampling`` ``pii`` ``lm`` ``backoff`` ``keywords`` ``classify``
  ``bloom`` ``dsir`` ``bpe`` ``normalize`` ``profile`` ``streaming``
"""

import sys as _sys

from .params import SketchParams, LSHParams, PipelineConfig

# A Spark Python worker imports mashspark while it unpickles its first
# mashspark UDF, mid-task. Only there (pyspark already loaded and a task
# context set; never the driver), and only on the CPython versions whose
# zipimporter re-reads its archive eagerly, stop every later task from
# re-parsing pyspark.zip (see _zipcache).
if (_sys.implementation.name == "cpython"
        and (3, 10) <= _sys.version_info[:2] < (3, 12)
        and "pyspark" in _sys.modules):
    from pyspark import TaskContext as _TaskContext

    if _TaskContext.get() is not None:
        from . import _zipcache

        _zipcache.install()

__all__ = ["SketchParams", "LSHParams", "PipelineConfig"]
__version__ = "0.1.0"
