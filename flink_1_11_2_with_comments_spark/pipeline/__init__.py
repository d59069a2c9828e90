"""Training-data pipeline operators (beyond the reference's surface).

Mandated by BASELINE.json: deduplication (exact, MinHash+LSH, SimHash,
n-gram Jaccard, embedding cosine), similarity search (brute-force +
LSH-bucketed ANN), text analysis (language-ID, quality, tokens,
fingerprints), multimodal binary columns.

Design rule: every operator is pure DataFrame expressions (JVM-side,
whole-stage codegen) unless the math genuinely needs Python — then
Arrow-batched pandas. All hashing is md5-derived so an independent
SQL engine (the DuckDB oracle) can replay it bit-for-bit: engine
hash() builtins are not portable, md5 is.
"""

from .text import (fingerprint, language_id, quality_features,  # noqa: F401
                   token_stats, tokens)
from .dedup import (exact_dedup, md5_int, minhash_lsh_bands,  # noqa: F401
                    shingles, simhash32)
from .similarity import cosine_pairs, cosine_topk  # noqa: F401
