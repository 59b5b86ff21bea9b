"""Closed-loop benchmark of the text-search engine (see README.md)."""
