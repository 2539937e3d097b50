"""Query engine: planner, block-max WAND scorer, filters, aggs."""
