"""Training-data pipeline operators over document / embedding tables.

Most operators are built from JVM-side `pyspark.sql.functions` (incl.
higher-order array lambdas), so their plans stay inside whole-stage
codegen.  Work no JVM expression can do — DOM parses, charset decodes,
md5 over a document's shingles — runs as a row-wise Python kernel on
the one Arrow row runner, ``engine/rows.map_rows`` (charset, content,
dedup, metadata, multimodal, quality and structure).  Every operator
has a DuckDB twin: the ``@query`` oracle SQL beside its suite query in
``suite.py``, built on the same md5-based deterministic hashing, which
is how correctness is checked end-to-end.
"""

from .clean import (
    boilerplate_lines,
    c4_line_filter,
    para_dedup,
    pii_redact,
    repetition_stats,
    top_tokens,
    with_page,
)
from .charset import decode_html, encoding_health, sniff_charset
from .dedup import (
    containment_pairs,
    exact_dup_groups,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_groups,
    simhash_hamming_pairs,
    verified_near_dups,
    with_simhash,
)
from .index import bm25_index
from .mix import (
    bpe_merge_pairs,
    corpus_mix_report,
    ngram_lm_counts,
    quality_buckets,
    temperature_mix,
)
from .quality import (
    doc_fingerprints,
    langid,
    length_distribution,
    quality_scores,
    sentence_stats,
    token_stats,
    winnow_fingerprints,
)
from .similarity import (
    cosine_topk,
    embedding_dup_pairs,
    embedding_verified_pairs,
    rhp_candidate_pairs,
    rhp_lsh_topk,
    rhp_multiprobe_topk,
    rhp_signatures,
)

__all__ = [
    "bm25_index",
    "boilerplate_lines",
    "bpe_merge_pairs",
    "corpus_mix_report",
    "ngram_lm_counts",
    "quality_buckets",
    "temperature_mix",
    "containment_pairs",
    "winnow_fingerprints",
    "decode_html",
    "encoding_health",
    "length_distribution",
    "sniff_charset",
    "c4_line_filter",
    "para_dedup",
    "pii_redact",
    "repetition_stats",
    "top_tokens",
    "with_page",
    "exact_dup_groups",
    "lsh_candidate_pairs",
    "minhash_signatures",
    "ngram_jaccard_pairs",
    "simhash_groups",
    "simhash_hamming_pairs",
    "verified_near_dups",
    "with_simhash",
    "doc_fingerprints",
    "langid",
    "quality_scores",
    "sentence_stats",
    "token_stats",
    "cosine_topk",
    "embedding_dup_pairs",
    "embedding_verified_pairs",
    "rhp_candidate_pairs",
    "rhp_lsh_topk",
    "rhp_multiprobe_topk",
    "rhp_signatures",
]
