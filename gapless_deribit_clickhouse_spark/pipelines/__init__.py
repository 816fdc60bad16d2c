"""Large-scale training-data pipeline operators.

Beyond the reference's own surface (per the build brief): exact and
near deduplication (MinHash-LSH, SimHash, n-gram Jaccard, embedding
cosine) and approximate nearest-neighbor search. All designed for
100 TB: shuffle-on-bucket (never all-pairs), broadcast query sides,
Arrow batches for anything vectorized.
"""
