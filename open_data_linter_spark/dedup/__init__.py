from open_data_linter_spark.dedup.exact import exact_duplicates  # noqa: F401
from open_data_linter_spark.dedup.minhash import minhash_near_duplicates  # noqa: F401
from open_data_linter_spark.dedup.simhash import simhash_near_duplicates  # noqa: F401
from open_data_linter_spark.dedup.jaccard import ngram_jaccard_pairs  # noqa: F401
from open_data_linter_spark.dedup.cluster import (  # noqa: F401
    cluster_sizes,
    connected_components,
    deduplicate,
)
from open_data_linter_spark.dedup.contamination import (  # noqa: F401
    decontaminate,
    ngram_contamination,
)
from open_data_linter_spark.dedup.apss import apss_jaccard_pairs  # noqa: F401
from open_data_linter_spark.dedup.spans import (  # noqa: F401
    duplicate_span_stats,
    remove_duplicate_spans,
)
