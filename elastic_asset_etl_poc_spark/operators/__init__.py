from .filters import time_window, term, terms, exists_all, exists_any  # noqa: F401
from .project import project_rename, wildcard_select, array_head  # noqa: F401
from .dedup import dedup_latest, collapse_top1  # noqa: F401
from .joins import semi_join_in_list  # noqa: F401
from .graph import group_collect_edges, hits, pagerank, triangle_count  # noqa: F401
from .neardup import (  # noqa: F401
    dedup_exact,
    dedup_survivors,
    jaccard_pairs,
    minhash_lsh_pairs,
    shingles,
    simhash,
    simhash_neardup,
)
from .bpe import bpe_segment, bpe_train, word_symbol_counts  # noqa: F401
from .diff import apply_cdc, incremental_rollup, snapshot_diff  # noqa: F401
from .linkage import blocked_fuzzy_join  # noqa: F401
from .profile import profile_columns, seasonal_anomalies, winsorize  # noqa: F401
from .text import (  # noqa: F401
    doc_fingerprint,
    fix_mojibake,
    kl_novelty,
    lang_id,
    linear_classifier_score,
    normalize_text,
    text_quality,
    token_count,
    train_linear_classifier,
)
from .similarity import (  # noqa: F401
    cosine_pairs,
    cosine_pairs_lsh,
    cosine_topk,
    ivf_topk,
    lsh_topk,
    pq_topk,
    sq8_encode,
    sq8_topk,
    sq8_train,
)
from .skew import salted_join  # noqa: F401
from .stats import (  # noqa: F401
    chi2_independence,
    kaplan_meier,
    welch_ttest,
)
from .sampling import (  # noqa: F401
    deterministic_split,
    hash_sample,
    stratified_hash_sample,
    stratified_weighted_topk,
    temperature_fractions,
    weighted_topk,
)
from .temporal import (  # noqa: F401
    asof_join,
    band_join,
    interval_join,
    rolling_ewma,
    rollup_gapfill,
)
