"""PySpark-native point-in-time feature-engineering engine.

A from-scratch re-expression of the capabilities of the DANE
visual-feature-extraction worker (reference: beeldengeluid/
dane-visual-feature-extraction-worker) as a distributed Spark engine:

- as-of joins / interval joins on (entity, timestamp) with zero temporal
  leakage (reference: data_handling.py:121-129 interval lookup),
- windowed features (lag/lead, rolling, backfill, sessionize) (reference
  precedent: misc/spectrogram_example2/get_sepectogram.py:22-55 anchored
  windows),
- a D=32 feature kernel: a JVM-only window plan (zero Python),
  bit-identical to a vectorized numpy oracle (reference:
  feature_extraction.py:17-32 apply_model),
- checkpointed, resumable execution with per-partition lineage/metrics
  (reference: provenance.py, worker.py:84-89),
- training-data-pipeline operators: dedup (exact/minhash/simhash/jaccard),
  similarity search (brute-force/BLAS/sign-LSH/IVF), text quality,
  multimodal column plumbing,
- Structured Streaming twins (session/tumbling windows) and a custom
  stateful operator (applyInPandasWithState).

Design: DataFrame/Catalyst everywhere; pandas UDFs (Arrow) only where
built-ins cannot express the semantics. No RDDs, no per-row Python UDFs
in any hot path.
"""

__version__ = "0.1.0"

from dane_visual_feature_extraction_worker_spark.config import EngineConfig
from dane_visual_feature_extraction_worker_spark.session import get_spark

__all__ = ["EngineConfig", "get_spark", "__version__"]
