"""Crawl-frontier benchmark (see README.md)."""
