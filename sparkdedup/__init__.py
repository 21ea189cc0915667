"""sparkdedup — a PySpark-native near-duplicate detection & clustering engine.

A from-scratch, DataFrame-first re-expression of the capabilities of the
reference repo ``wheynelau/text-dedup-rs`` (see SURVEY.md): MinHash-LSH,
SimHash, exact-hash, Bloom-style, ccnet line-level, and exact-substring
(suffix-array-semantics) deduplication — plus training-data-pipeline
operators (text stats, language id, embedding ANN / near-dup).

Design rules (SURVEY.md §7):
  * Declarative DataFrame plans; Catalyst/AQE do the physical planning.
  * Python only inside Arrow-batched pandas UDFs (never per-row).
  * Explicit skew handling for LSH band keys (pre-aggregated group-min +
    AQE skew join; no collect_list mega-groups).
  * Our own hook-and-compress connected components, on the driver or
    in checkpointed DataFrame rounds (no GraphFrames).
"""

__version__ = "0.1.0"

from sparkdedup.config import (  # noqa: F401
    CCNetConfig,
    ExactHashConfig,
    MinHashConfig,
    SimHashConfig,
    SubstringConfig,
)
