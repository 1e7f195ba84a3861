"""Trace-link benchmark (see README.md)."""
