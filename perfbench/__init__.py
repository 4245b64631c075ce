"""Layered benchmark for the extraction, evaluation and curation pipelines
(see run.py)."""
