"""Large-scale training-data pipeline operators (beyond the reference's
surface, per BASELINE.json's north star): deduplication, similarity
search, text analysis, sampling.

Design rule: everything that can be a native Catalyst expression IS one
(whole-stage-codegen, no Python in the hot path); Python appears only in
Arrow-batched pandas UDFs for genuinely non-SQL kernels (minhash
signatures, simhash, hyperplane LSH)."""

from geomesa_hive_spark.pipeline import (
    dedup,
    sampling,
    similarity,
    text,
)

__all__ = ["dedup", "sampling", "similarity", "text"]
