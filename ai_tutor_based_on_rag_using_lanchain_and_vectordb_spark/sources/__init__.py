"""Sources: binary-file document loaders (S1-S3), the batch ingest
pipeline (S8), WARC/WET web archives, media decoders and multimodal
column plumbing. Parquet is the canonical store (S4-S7 are plain
reads/writes over it)."""
