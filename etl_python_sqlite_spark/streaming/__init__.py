"""Structured Streaming mirror of the batch ETL pipeline."""
