from searchengine_spark.functions.lemmatize import (  # noqa: F401
    lemmatize_text,
    lemmatize_token,
    lemma_counts,
    query_lemmas,
    lemma_counts_udf,
)
from searchengine_spark.functions.links import (  # noqa: F401
    extract_frontier,
    link_candidates,
    site_link_patterns,
)
from searchengine_spark.functions.codec import (  # noqa: F401
    varint_encode,
    varint_decode,
    delta_encode,
    delta_decode,
)
