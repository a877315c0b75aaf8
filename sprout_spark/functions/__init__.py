"""Column-function library: text analysis for training-data pipelines."""

from .pii import (
    PII_PATTERNS,
    pii_stats,
    quarantine_high_pii,
    redact_pii,
)
from .text import (
    bpe_ish_token_count,
    document_fingerprints,
    document_fingerprints_portable,
    language_id,
    quality_score,
    with_text_stats,
    ws_grams,
    ws_token_count,
    ws_tokens,
)
