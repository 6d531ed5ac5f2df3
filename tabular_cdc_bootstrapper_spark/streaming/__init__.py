"""Streaming CDC data plane: changelog ingest, mirror storage (snapshot
and bucketed layouts under one snapshot-log commit protocol), change
feeds and maintained views. Import each name from its defining module;
``pipeline.py`` lists them."""
