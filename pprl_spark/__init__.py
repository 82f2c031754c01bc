"""pprl_spark — PySpark-native privacy-preserving record linkage + sketch
analytics engine.

A from-scratch Spark-first re-expression of the capabilities of
ul-mds/pprl (reference at /root/reference): transform → mask (Bloom
encodings) → LSH-blocked Dice matching, plus a mergeable-sketch UDAF
library (HLL / count-min / KLL / t-digest / Bloom), web-scale dedup and
text-analysis operators, and a checkpointed, resumable staged pipeline.
"""

__version__ = "0.1.0"

from . import _zipcache

_zipcache.install()
