"""Crawl engine: epoch loop, exact seen-set, politeness, snapshots, oracle."""
