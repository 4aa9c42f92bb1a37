from .extract import extract_text
from .geotag import centroid_df, geotag_pages
from .pipeline import (
    PAGE_ATTRIBUTES,
    build_page_forest,
    cell_stats_from_root_partials,
    eventize_pages,
    exact_cell_sub_counts,
    fused_match_pages,
    match_pages,
    root_subscription_map,
    run_pipeline,
    salted_cell_stats,
    standing_page_subscriptions,
)
from .synth import synth_batch, synth_page, synth_pages_df

__all__ = [
    "PAGE_ATTRIBUTES",
    "build_page_forest",
    "cell_stats_from_root_partials",
    "centroid_df",
    "eventize_pages",
    "exact_cell_sub_counts",
    "fused_match_pages",
    "root_subscription_map",
    "extract_text",
    "geotag_pages",
    "match_pages",
    "run_pipeline",
    "salted_cell_stats",
    "standing_page_subscriptions",
    "synth_batch",
    "synth_page",
    "synth_pages_df",
]
