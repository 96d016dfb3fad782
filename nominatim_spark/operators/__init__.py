"""Engine operators: spatial joins on grid-cell keys (cover,
within-distance, kNN)."""
