"""pipeline_mf_etl_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference pipeline ``TomData/pipeline_mf_ETL`` (see /root/repo/SURVEY.md),
re-expressed Spark-first: DataFrame/SQL plans optimized by Catalyst, window
functions instead of per-file Python loops, in-plan array folds for the
sequential per-series kernels (EWM smoothing, trade simulation, HMM
decode), pandas islands only for the codec and corpus steps, plus first-class large-scale training-data operators
(deduplication, similarity search, text analysis, multimodal plumbing).
"""

__version__ = "0.1.0"
