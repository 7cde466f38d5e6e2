from .joins import broadcast_map_join, nearest_join, nearest_join_gridded, zip_join  # noqa: F401
from .reshape import (  # noqa: F401
    flatten_londonair_payload,
    onehot_pivot,
    sessionize_by_marker,
    unpivot_yesno,
)
from .dedup import (  # noqa: F401
    dedup_by_fingerprint,
    minhash_signatures,
    lsh_candidate_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash64,
)
from .similarity import ann_topk_bruteforce, ann_topk_lsh  # noqa: F401
