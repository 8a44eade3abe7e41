"""Standalone benchmark for the trends engine: ``python3 perfbench/run.py``.

See ``perfbench/README.md`` for the workloads, metrics and command lines.
"""
