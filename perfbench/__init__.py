"""End-to-end and per-layer benchmark of the word2doc_spark engine."""
