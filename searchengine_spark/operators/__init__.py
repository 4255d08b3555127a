from searchengine_spark.operators.doc_ids import assign_doc_ids  # noqa: F401
from searchengine_spark.operators.postings import (  # noqa: F401
    lemmatize_transcripts,
    flat_postings,
    term_stats,
    encode_posting_blocks,
)
