"""Spark operators: extraction, mentions, linking, canonicalization,
dedup, similarity, text stats, binary-payload plumbing (MP4/MP3
container metadata), skew helpers."""
