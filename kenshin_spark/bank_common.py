"""Leaf helpers shared across staged query banks.

Bank modules import ``kenshin_spark.queries`` (for QuerySpec), and
``queries.py`` imports every promoted bank at its bottom — so a bank
importing a sibling bank deadlocks on EXECUTORS: an unpickled kernel
re-imports its defining bank, which re-enters ``queries.py``, which
imports a LATER bank that needs a name the first bank hasn't bound yet
(the hazard the ``bloom_oracle`` split fixed in round 9, re-hit by the
round-11 promotion surgery). Shared bank helpers therefore live here,
in a module that imports nothing from the registry chain.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kenshin_spark.io import load_table


def _doc_ids(spark, sf_dir, modulo=50):
    return load_table(spark, sf_dir, "documents").select("doc_id").where(
        F.col("doc_id") % modulo == 0
    )
