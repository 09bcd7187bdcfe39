"""Family modules of the statistical-modeling operators registered by
``operators/stats_ops.py``: one module per op-name prefix (``agg`` in
two, descriptive and inference), the eight single-prefix ops in their
nearest family, and ``common`` for constants two families share.
``tests/test_registry.py`` caps every package module's length: a
process that compiles from source peaks in memory with its largest one.
"""
