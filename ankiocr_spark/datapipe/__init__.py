"""Training-data pipeline operators over document/embedding tables.

Beyond the reference's own surface (SURVEY.md §2), these are the operations
a web-scale training-data pipeline needs as first-class components:
deduplication (exact, MinHash-LSH, SimHash, n-gram Jaccard,
embedding-cosine), similarity search (brute-force + LSH-bucketed ANN) and
text analysis (language-ID, quality scoring, token counting,
fingerprinting).

Everything is declarative DataFrame/SQL (JVM-side, codegen-friendly). Hash
functions are md5-derived so DuckDB oracles can reproduce them bit-exactly.
"""

from . import dedup, similarity, textstats  # noqa: F401
