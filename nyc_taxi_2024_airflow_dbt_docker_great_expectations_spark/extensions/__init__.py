"""Large-scale training-data-pipeline operators (beyond the reference surface).

- ``dedup``: exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine
- ``similarity``: brute-force cosine top-k; LSH-bucketed ANN
- ``text``: language-ID, quality scoring, token counting, fingerprinting
- ``multimodal``: opaque binary columns + Pandas-UDF decode plumbing
- ``packing``: sequence packing + deterministic global shuffle (distributed
  prefix sum)
- ``entity``: fuzzy entity matching (symmetric-delete blocking)
- ``analytics``: cohort retention
- ``sampling`` / ``contamination`` / ``sketches`` / ``graph``: deterministic
  samples, benchmark decontamination, KMV sketch, connected components
"""

from .dedup import (  # noqa: F401
    build_gram_profile,
    duplicated_ngram_stats,
    exact_dedup_keys,
    minhash_hot_bands,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
    simhash_table,
    stats_from_gram_profile,
)
from .similarity import (  # noqa: F401
    cosine_topk,
    hyperplane_lsh_buckets,
    ivf_params,
    ivf_topk,
    lsh_topk,
    neardup_pairs,
    semantic_dedup_pairs,
)
from .text import (  # noqa: F401
    bigram_novelty,
    bpe_encode,
    bpe_train,
    build_vocab,
    chunk_documents,
    filter_funnel,
    fingerprints,
    lang_id,
    quality_scores,
    text_stats,
    token_count,
    winnowing_fingerprints,
)
from .analytics import cohort_retention, groupwise_ols  # noqa: F401
from .graph import pagerank_fixed  # noqa: F401
from .search import bm25_topk  # noqa: F401
from .entity import fuzzy_match_pairs  # noqa: F401
from .packing import (  # noqa: F401
    global_shuffle,
    pack_sequences,
    write_training_shards,
)
