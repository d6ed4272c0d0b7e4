"""Dataflow-level benchmark of the engine (see README.md)."""
