"""Crawl benchmark package; see run.py."""
