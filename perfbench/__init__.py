"""Closed-loop benchmark of the suite engine (see README.md)."""
