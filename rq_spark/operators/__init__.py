"""Reusable DataFrame operators for the extension layer:
deduplication, similarity search, text analysis, multimodal columns.

Everything is expression-first (JVM/codegen); Python appears only as
Arrow-batched pandas UDFs where a matmul genuinely beats a fold
(`similarity.band_bucket_udf`) or the logic is bit-twiddling over
variable-length token lists (`dedup.simhash64_udf`).
"""
