"""Driver-facing query registry: one domain module per query family.

Each ``@query`` in a ``qNN_*`` module registers name → builder plus its
DuckDB oracle in ``_registry``.  Importing this package imports the
domain modules in order, so the public order of ``QUERIES``/``ORACLES``
(and of ``__spark_entry__.queries()``) is plain registration order.
Import helpers and query functions from their defining module.
"""

from ._registry import ORACLES, QUERIES
from . import (  # noqa: F401  (imported to register their queries)
    q01_warehouse, q02_pipeline_parity, q03_dedup_lsh, q04_retrieval_text,
    q05_sketch_graph, q06_stats_dimred, q07_resampling_tokenizer, q08_graph_ivm,
    q09_quality_cdc, q10_text_drift, q11_calibration_survival,
    q12_seasonal_incremental, q13_substring_fertility, q14_coreset_mixture,
    q15_stats_sampling, q16_entropy_zipf, q17_calibration_series,
    q18_power_analysis, q19_lcs_contamination, q20_source_readability,
    q21_noise_mass, q22_influence_url_xlingual, q23_kmeans_prf_templates,
    q24_kmv_quota,
)
