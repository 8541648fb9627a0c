"""Operator library — pure DataFrame -> DataFrame transforms.

One module per domain:

* relational: text, agg, join, sort, window, setops, skew, reshape,
  subqueries, sqlbreadth, semistruct, tpch_more, tpch_wide, tpch_final
* iterative / graph: graph, clustering, skyline
* analytics: stats, timeseries, mining, profile, sketches, sampling,
  layout
* curation: dedup, similarity, contamination, spanremoval, textstats,
  quality, retrieval, multimodal, pipeline, pipeline_audit
* llmops2 … llmops9: LLM-curation analytics still grouped by build
  round, not yet by domain

Each module also registers its named queries (with DuckDB oracles) in
``plans.registry``; the shared DuckDB oracle chains for MinHash-LSH
candidates, connected components and capped-shingle overlap live in
``dedup`` beside the Spark kernels they mirror.
"""
