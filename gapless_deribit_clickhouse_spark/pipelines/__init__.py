"""Large-scale training-data pipeline operators.

Beyond the reference's own surface: exact and near deduplication of a
text corpus (MinHash-LSH, SimHash, n-gram Jaccard, containment), one
call for the whole corpus and one for a new batch against it. All
designed for 100 TB: shuffle-on-bucket (never all-pairs), broadcast
small sides.
"""
