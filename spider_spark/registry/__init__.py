"""Driver-contract query registry: every operator claimed in SURVEY.md §2
(plus the training-data-pipeline tier) as a (Spark callable, DuckDB oracle
SQL) pair over the driver's parquet tables.

Contract (README / __spark_entry__.py): each Spark query and its oracle
produce identical row counts, schemas (column names), and order-insensitive
value hashes at sf0.01. Conventions that make cross-engine hashes match:

- every computed column aliased identically on both sides;
- money aggregates summed as DECIMAL (exact, order-independent) and cast to
  DOUBLE at the end;
- doubles from windowed float sums rounded to 6-9 places (segment-tree vs
  sequential summation differ in the last ulp);
- ratios derived only from exact integers (bit-identical division);
- all hashing via the shared md5-prefix hash60 (textops.hash60 /
  textops.hash60_sql);
- timestamps rendered with date_format/strftime to sidestep type gaps.

Queries whose semantics SQL cannot express (the iterative crawl, approximate
LSH ANN) return None oracles → the driver records rows-only checks — except
crawl_docs, whose BFS fixpoint IS expressible as a recursive CTE, giving the
crawl engine itself a full value-level oracle.
"""

from __future__ import annotations

from spider_spark.registry._base import ORACLES, QUERIES, T, q  # noqa: F401

# One import per tier, in the original monolith's section order — the
# @q decorators register on import, so THIS list is the enumeration
# order the rotation below rearranges.
from spider_spark.registry import (  # noqa: E402,F401
    relational,
    frontier,
    pool,
    kline,
    parse,
    text,
    dedup,
    vector,
    media,
    crawl,
    webindex,
    curation,
    corpus_stats,
    tokenize,
    vector_pq,
    feeds,
    joins,
    crawl_sched,
)

from spider_spark.registry.crawl import flagship_entry  # noqa: F401

_MODULES = [relational, frontier, pool, kline, parse, text, dedup, vector, media, crawl, webindex, curation, corpus_stats, tokenize, vector_pq, feeds, joins, crawl_sched]


# =====================================================================
# Driver-verification window rotation
# =====================================================================
# The correctness driver verifies the FIRST 50 registry entries per round,
# so the rotation puts failing rows, then rows without a check, then the
# stalest green records first; names listed but not registered are skipped
# and the remaining slots fall to the rest in topical order.
_VERIFY_FIRST: list[str] = [
    "corpus_export_manifest", "media_jpeg_decode", "lang_id", "quality_scores",
    "doc_fingerprints", "dedup_exact", "dedup_ngram_jaccard",
    "dedup_minhash_lsh", "dedup_simhash", "dedup_embedding_cosine", "ann_topk",
    "media_meta", "pagerank_ranks", "crawl_docs", "warc_roundtrip",
    "warc_dedup_roundtrip", "main_content_extract", "anchor_text_agg",
    "ts_convert", "relative_date_norm", "json_projection", "weibo_field_map",
    "pinyin_city_urls", "sql_ddl_roundtrip", "zhihu_user_items", "md5_ids",
    "regex_extract_scan", "qcc_xpath_fields", "css_select_fields",
    "string_cleanup", "url_normalize", "robots_filter",
    "robots_wildcard_match", "robots_policy_parse", "sitemap_seeds",
    "pagination_explode", "retry_budget", "coalesce_best_of", "orderbook_pick",
    "list_projection", "token_counts", "bm25_topk", "tfidf_top_terms",
    "hll_distinct_tokens", "token_budget_mix", "dup_passage_removed",
    "dup_passage_spans",
]


def _rotate_registry() -> None:
    front = [n for n in _VERIFY_FIRST if n in QUERIES]
    rest = [n for n in QUERIES if n not in set(front)]
    order = front + rest
    for d in (QUERIES, ORACLES):
        snap = {k: d[k] for k in order if k in d}
        d.clear()
        d.update(snap)


_rotate_registry()
