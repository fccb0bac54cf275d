"""peskas_malawi_data_pipeline_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference pipeline (WorldFishCenter/peskas.malawi.data.pipeline, an R/tidyverse
batch ETL for Malawi small-scale-fisheries survey data), re-expressed
Spark-first:

- every dataflow operator of the reference (SURVEY.md §2) as a composable
  DataFrame transformation (lazy, Catalyst-optimizable, shuffle-aware);
- the six pipeline stages (ingest → preprocess → validate → merge → export ×2)
  as one fused lazy plan per stage over Parquet/Delta-style storage;
- the grouped robust-outlier kernel (median/MAD "LocScaleB" bounds) as a
  two-pass DataFrame aggregation — no UDF in the hot path;
- large-scale training-data extensions: dedup (exact / MinHash-LSH candidates
  verified by n-gram Jaccard / exact substrings), similarity search
  (integer-L2 IVF-PQ ANN with an exact brute-force L2 baseline), text
  analysis (lang-id, quality, tokens, fingerprints), multimodal binary
  columns.

Everything is built on the public Apache Spark DataFrame/SQL API.
"""

__version__ = "0.1.0"
