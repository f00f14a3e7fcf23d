"""Pure-Python per-document functions (no Spark imports): the extraction
core, adaptive-routing gate, chunker, language ID, and text statistics."""
