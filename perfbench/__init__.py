"""Seeded benchmark of the coastsat_spark engine; see run.py."""
