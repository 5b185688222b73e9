"""watermark_detector_spark — a from-scratch PySpark-native streaming
watermark/boilerplate detection engine.

Re-expresses the computational semantics of reedless/watermark-detector
(a single-node Detectron2 computer-vision pipeline, see SURVEY.md) as an
idiomatic PySpark Structured Streaming engine over Common-Crawl-style
web pages:

- ``functions.extract``  — HTML → text extraction (the analog of image
  decode, generate_dataset.py:184).
- ``functions.core``     — signature matching with span-merge + confidence
  scoring (the analog of the Mask R-CNN detector head,
  train_watermarks.py:311-320).
- ``plans.flagship``     — read → extract+detect (one fused
  ``mapInPandas`` pass) → filter(score>=0.5) → windowed per-domain
  aggregation (the analog of train/test evaluation loops,
  train_watermarks.py:302-330).
- ``streaming``          — watermarks, session windows, stateful
  processing, exactly-once sink with commit lineage (the analog of
  best-model checkpointing, train_watermarks.py:161-163).
- ``fixtures``           — deterministic golden-by-construction dataset
  generator (the analog of generate_dataset.py, with seeded hashes
  replacing its unseeded ``random.*``).

Everything is DataFrame-first; Python appears only inside Arrow-batched
stages (``mapInPandas``, pandas UDFs, grouped-pandas state functions).
"""

__version__ = "0.1.0"
