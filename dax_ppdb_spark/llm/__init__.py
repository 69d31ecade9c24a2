"""Large-scale training-data operators (beyond the reference surface).

Dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding),
similarity search over embedding columns, text analysis, and
multimodal binary-column plumbing — all designed for 100 TB scale:
built-in JVM expressions in the hot path, LSH prefilters instead of
quadratic self-joins, broadcast-able small sides, and Pandas-UDF
(Arrow) batches only where Python is unavoidable.
"""

from .dedup import (  # noqa: F401
    banded_axis_planes,
    banded_minhash_keys,
    contaminated_docs,
    embedding_neardup_pairs,
    exact_dedup,
    incremental_neardup_pairs,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    shingles,
    simhash,
    verified_neardup_pairs,
)
from .sampling import (  # noqa: F401
    chunk_documents,
    hash_split,
    pack_shards,
    stratified_sample,
)
from .similarity import (  # noqa: F401
    cosine_similarity,
    kmeans_centroids,
    knn_label_agreement,
    topk_bruteforce,
    topk_bucketed,
    topk_kmeans,
    topk_multiprobe,
)
from .text import (  # noqa: F401
    bpe_token_count,
    redact_pii,
    repetition_ratio,
    unigram_logprob_score,
    bpe_tokens,
    doc_fingerprint,
    language_id,
    md5_long,
    md5_wide_long,
    quality_metrics,
    token_count,
    tokens,
)
