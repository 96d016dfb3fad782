"""Engine operators: spatial joins on grid-cell keys (cover, within-distance,
kNN) and standalone salting helpers for skewed keys (``skew``)."""
