"""Side indexes: token-bloom (bloom.py) and stream-value (streams.py)
file pruning, both applied by ``bloom.read_pruned``."""
