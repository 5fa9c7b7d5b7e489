"""Training-data pipeline operations over document corpora.

Beyond the reference's extraction DAG, a 100 TB training-data pipeline needs
corpus-level operators: deduplication (exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine), approximate similarity search, text analysis
(language ID, quality scoring, token counting, fingerprinting), curation and
small language models. Everything here is native-Column PySpark (whole-stage
codegen, no Python UDFs) except where vectorized Pandas UDFs are explicitly
the right tool (dense vector dot products, SRP band hashing, zlib
compression ratio, BPE word encoding).

All hash-based operators use md5 (identical across engines) so every query
has an exact cross-engine SQL oracle.
"""
