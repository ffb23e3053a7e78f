"""Deduplication suite (training-data tier) — registry tier split out of the former
monolithic queries.py (round 4). Conventions live in
spider_spark/registry/__init__.py; enumeration order is preserved by
the import order there."""

from __future__ import annotations

import tempfile
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from spider_spark import dedup, graph, parse, textops
from spider_spark.registry._base import T, q
from spider_spark.registry.text import _LANG_CASE, _SQL_TOKENS, _lang_score_sql, _sql_shingles


# =====================================================================
# Deduplication suite (training-data tier) over documents/embeddings
# =====================================================================

_DOCS_DOUBLED = """
  (SELECT doc_id, text FROM documents
   UNION ALL SELECT doc_id + 100000, text FROM documents)
"""

@q(
    "dedup_exact",
    f"""
    WITH d AS (SELECT doc_id, md5(text) AS text_md5 FROM {_DOCS_DOUBLED} dd),
    g AS (SELECT text_md5, min(doc_id) AS survivor_id, count(*) AS n FROM d GROUP BY text_md5)
    SELECT d.doc_id, g.survivor_id, d.text_md5
    FROM d JOIN g USING (text_md5) WHERE g.n > 1
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup via hash-groupBy; input doubled so dup groups exist at
    every sf (sf0.01 documents are all distinct)."""
    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = d.unionByName(d.select((F.col("doc_id") + 100000).alias("doc_id"), "text"))
    return dedup.exact_dupes(doubled)


_SQL_JACCARD = f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS w FROM documents),
    g AS (SELECT doc_id, unnest({_sql_shingles(3)}) AS shingle FROM t),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM g GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
      FROM g a JOIN g b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT a_id, b_id,
           inter::DOUBLE / (sa.n_sh + sb.n_sh - inter)::DOUBLE AS jaccard
    FROM inter JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
    WHERE inter::DOUBLE / (sa.n_sh + sb.n_sh - inter)::DOUBLE >= {{thr}}
"""

@q("dedup_ngram_jaccard", _SQL_JACCARD.format(thr=0.8))
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact word-3-gram Jaccard ≥ 0.8 pairs (shingle self-join — only docs
    sharing a shingle ever pair up). max_df=256 bounds per-shingle join
    fan-out at 256² on boilerplate-heavy web text; it never binds on the
    fixture (max shingle df is 25 at sf0.1), so the uncapped SQL oracle is
    unchanged — the capped-vs-uncapped divergence on a planted hot shingle
    is pinned by test_pipeline_ops."""
    return dedup.jaccard_pairs(T(spark, sf_dir, "documents"), 0.8, 3,
                               max_df=256)


@q("dedup_minhash_lsh", _SQL_JACCARD.format(thr=0.9))
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash(128) → 32-band LSH → candidate join → exact-Jaccard verify at
    0.9. Verified output ≡ exact answer (band-miss probability ≈ 1.5e-15 at
    the threshold), so the oracle is the exact-Jaccard query."""
    return dedup.minhash_lsh_pairs(T(spark, sf_dir, "documents"), threshold=0.9)


_SIMHASH_BITS_SQL = ", ".join(
    f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s{i}"
    for i in range(textops.SIMHASH_BITS)
)
_SIMHASH_FOLD_SQL = " + ".join(
    f"CASE WHEN s{i} >= 0 THEN {1 << i}::BIGINT ELSE 0 END" for i in range(textops.SIMHASH_BITS)
)

@q(
    "dedup_simhash",
    f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest({_SQL_TOKENS}) AS tok
      FROM documents),
    th AS (SELECT doc_id, {textops.hash60_sql('tok')} AS h FROM toks),
    sums AS (SELECT doc_id, {_SIMHASH_BITS_SQL} FROM th GROUP BY doc_id),
    sh AS (SELECT doc_id, ({_SIMHASH_FOLD_SQL}) AS simhash FROM sums)
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def dedup_simhash(spark, sf_dir):
    """60-bit SimHash near-dup pairs (hamming ≤ 3) with pigeonhole chunk
    blocking; oracle recomputes the identical sketch quadratically."""
    return dedup.simhash_pairs(T(spark, sf_dir, "documents"), max_hamming=3)


@q(
    "dedup_embedding_cosine",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS a_id, b.vec_id AS b_id
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.v, b.v) >= 0.47
    """,
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs; threshold 0.47 sits in a measured gap
    of the corpus (0.467 / 0.472 neighbors) so float noise can't flip rows."""
    return dedup.embedding_dup_pairs(T(spark, sf_dir, "embeddings"), 0.47)


@q(
    "dedup_clusters",
    """
    SELECT doc_id, doc_id - doc_id % 5 AS survivor_id FROM documents
    """,
)
def dedup_clusters(spark, sf_dir):
    """Cluster resolution over dup pairs: connected components with
    min-id survivors (graph.connected_components — alternating
    large-star/small-star contraction). The pair fixture is a chain
    topology that FORCES transitivity (a~b, b~c, never (a,c)): consecutive
    ids chained within quintets plus a skip link at each decade, so one
    min-join over the pairs is not enough. The oracle is the independent
    closed form of that topology (survivor = id - id%5)."""
    did = F.col("doc_id")
    d = T(spark, sf_dir, "documents").select("doc_id")
    n = d.count()
    e1 = d.where((did % 5 != 4) & (did + 1 < n)).select(
        did.alias("a_id"), (did + 1).alias("b_id")
    )
    e2 = d.where((did % 10 == 0) & (did + 2 < n)).select(
        did.alias("a_id"), (did + 2).alias("b_id")
    )
    cc = graph.connected_components(e1.unionByName(e2), src="a_id", dst="b_id")
    return cc.select(F.col("node").alias("doc_id"), F.col("rep").alias("survivor_id"))


@q(
    "cc_star_contraction",
    """
    SELECT doc_id AS node, doc_id - doc_id % 100 AS rep FROM documents
    """,
)
def cc_star_contraction(spark, sf_dir):
    """Diameter-independent connected components (graph.connected_components,
    alternating large-star/small-star — Kiveris et al. SoCC'14). The fixture
    is 5 chains of 100 consecutive ids (diameter 99): label propagation
    needs 99 rounds to converge here, star contraction gets max_iters=10
    and must still land the closed-form answer (rep = id - id%100) — the
    query proves the O(log²) round bound, not just the labels."""
    did = F.col("doc_id")
    d = T(spark, sf_dir, "documents").select("doc_id")
    n = d.count()
    edges = d.where((did % 100 != 99) & (did + 1 < n)).select(
        did.alias("src"), (did + 1).alias("dst")
    )
    cc = graph.connected_components(edges, max_iters=10)
    # total over documents: a doc count of 1 mod 100 isolates the last doc
    # (no in- or out-edge) — it must still get rep = itself, exactly the
    # isolated-node coalesce dedup_cluster_reps applies
    return d.join(cc, d.doc_id == cc.node, "left").select(
        F.col("doc_id").alias("node"),
        F.coalesce(F.col("rep"), F.col("doc_id")).alias("rep"),
    )


@q(
    "dedup_survivor_flags",
    f"""
    WITH RECURSIVE t AS (SELECT doc_id, {_SQL_TOKENS} AS w FROM documents),
    g AS (SELECT doc_id, unnest({_sql_shingles(3)}) AS shingle FROM t),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM g GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
      FROM g a JOIN g b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    pairs AS (
      SELECT a_id, b_id
      FROM inter JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
      WHERE inter::DOUBLE / (sa.n_sh + sb.n_sh - inter)::DOUBLE >= 0.8),
    edges AS (
      SELECT a_id AS u, b_id AS v FROM pairs
      UNION SELECT b_id, a_id FROM pairs),
    reach(node, r) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.v, r.r FROM reach r JOIN edges e ON e.u = r.node),
    lab AS (SELECT node, min(r) AS rep FROM reach GROUP BY node)
    SELECT d.doc_id, coalesce(l.rep, d.doc_id) AS rep,
           coalesce(l.rep, d.doc_id) = d.doc_id AS is_survivor
    FROM documents d LEFT JOIN lab l ON l.node = d.doc_id
    """,
)
def dedup_survivor_flags(spark, sf_dir):
    """The full pairs→clusters→keep-one pipeline: exact 3-gram Jaccard ≥0.8
    pairs feed star-contraction CC, and every document gets (rep,
    is_survivor) — the keep-one-copy filter a curation run applies. Oracle
    is a genuine transitive closure (recursive CTE) over the same pairs, so
    transitivity (a~b, b~c ⇒ same rep, (a,c) never emitted) is value-checked
    end-to-end."""
    docs = T(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(docs, 0.8, 3).select("a_id", "b_id")
    return graph.dedup_cluster_reps(docs, pairs)


@q(
    "dedup_embedding_bucketed",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS a_id, b.vec_id AS b_id
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.v, b.v) >= 0.47
    """,
)
def dedup_embedding_bucketed(spark, sf_dir):
    """Same exact semantics as dedup_embedding_cosine but via the fully
    distributed block-pair GEMM (no driver collect anywhere — VERDICT r01
    item 2): rows replicate into block-pair groups, one numpy GEMM per
    group. Identical oracle ⇒ the distributed path must reproduce the
    broadcast path bit-for-bit."""
    return dedup.embedding_dup_pairs_blocked(
        T(spark, sf_dir, "embeddings"), 0.47, n_blocks=8
    )


@q(
    "decontaminate_overlap",
    f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKENS} AS w FROM documents),
    g AS (SELECT doc_id, unnest({_sql_shingles(5)}) AS shingle FROM tok),
    bench AS (SELECT DISTINCT shingle FROM g WHERE doc_id % 7 = 0)
    SELECT g.doc_id, count(*)::BIGINT AS n_overlap
    FROM g JOIN bench USING(shingle)
    WHERE g.doc_id % 7 != 0
    GROUP BY g.doc_id
    """,
)
def decontaminate_overlap(spark, sf_dir):
    """Train/eval decontamination (standard webtext-pipeline step): corpus
    docs sharing any word 5-gram with the benchmark split (doc_id % 7 == 0
    plays the eval set). Benchmark shingles broadcast; corpus streams —
    no corpus shuffle, no pairwise blowup."""
    d = T(spark, sf_dir, "documents")
    return dedup.contamination_overlap(
        d.where(F.col("doc_id") % 7 != 0), d.where(F.col("doc_id") % 7 == 0), n=5
    )


@q(
    "repetition_scores",
    f"""
    WITH tok AS (SELECT doc_id, {_SQL_TOKENS} AS w FROM documents),
    g AS (SELECT doc_id, w,
                 list_transform(generate_series(1, greatest(len(w) - 1, 0)),
                                i -> w[i] || ' ' || w[i+1]) AS grams
          FROM tok),
    base AS (SELECT doc_id, len(grams)::INT AS n_2grams,
                    len(list_distinct(grams))::INT AS n_distinct_2grams, w
             FROM g),
    u AS (SELECT doc_id, unnest(w) AS tokn FROM tok),
    cnt AS (SELECT doc_id, tokn, count(*) AS c FROM u GROUP BY 1, 2),
    topf AS (SELECT doc_id, max(c)::DOUBLE / sum(c) AS tf FROM cnt GROUP BY 1)
    SELECT b.doc_id, n_2grams, n_distinct_2grams,
           round(CASE WHEN n_2grams = 0 THEN 0
                      ELSE 1 - n_distinct_2grams::DOUBLE / n_2grams END, 6)
             AS dup_2gram_frac,
           round(coalesce(tf, 0), 6) AS top_unigram_frac
    FROM base b LEFT JOIN topf USING(doc_id)
    """,
)
def repetition_scores(spark, sf_dir):
    """Gopher-style within-doc repetition signals (quality filtering for
    training data): duplicate-2-gram fraction (within-row HOFs, map-only)
    and top-unigram frequency fraction (explode → two-level agg, map-side
    combine). Both quality gates the standard webtext pipelines cut on."""
    d = T(spark, sf_dir, "documents")
    toks = d.select("doc_id", textops.tokens_col(F.col("text")).alias("w"))
    grams = toks.select(
        "doc_id", "w", textops.grams_all_col(F.col("w"), 2).alias("grams")
    )
    base = grams.select(
        "doc_id",
        "w",
        F.size("grams").alias("n_2grams"),
        F.size(F.array_distinct("grams")).alias("n_distinct_2grams"),
    )
    cnt = (
        toks.select("doc_id", F.explode("w").alias("tokn"))
        .groupBy("doc_id", "tokn")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    topf = cnt.groupBy("doc_id").agg(
        (F.max("c").cast("double") / F.sum("c")).alias("tf")
    )
    return (
        base.join(topf, "doc_id", "left")
        .select(
            "doc_id",
            "n_2grams",
            "n_distinct_2grams",
            F.round(
                F.when(F.col("n_2grams") == 0, F.lit(0.0)).otherwise(
                    1 - F.col("n_distinct_2grams").cast("double") / F.col("n_2grams")
                ),
                6,
            ).alias("dup_2gram_frac"),
            F.round(F.coalesce(F.col("tf"), F.lit(0.0)), 6).alias("top_unigram_frac"),
        )
    )


_SAMPLE_HASH_SQL = textops.hash60_sql("'sample:' || doc_id::VARCHAR")


@q(
    "sample_hash_10pct",
    f"""
    SELECT doc_id, lang FROM documents
    WHERE ({_SAMPLE_HASH_SQL}) % 1000000 < 100000
    """,
)
def sample_hash_10pct(spark, sf_dir):
    """Deterministic 10% Bernoulli sample (shared-md5 threshold): a
    map-only pushdown-able filter whose membership is identical on every
    run, engine, and cluster size — what DataFrame.sample cannot promise."""
    from spider_spark import sampling

    return sampling.hash_sample(
        T(spark, sf_dir, "documents"), 0.10, "doc_id"
    ).select("doc_id", "lang")


@q(
    "sample_stratified_lang",
    f"""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY ({_SAMPLE_HASH_SQL}), doc_id) AS rn
      FROM documents)
    WHERE rn <= 25
    """,
)
def sample_stratified_lang(spark, sf_dir):
    """Exact 25-per-language stratified sample by hash rank — balanced
    curation quotas over a skewed language mix; each stratum ranks inside
    its own window partition."""
    from spider_spark import sampling

    return sampling.stratified_sample(
        T(spark, sf_dir, "documents"), "lang", 25, "doc_id"
    ).select("doc_id", "lang")


@q(
    "pii_redact",
    """
    WITH s AS (
      SELECT doc_id,
             substr(text, 1, 40) || ' contact user' || doc_id::VARCHAR
               || '@mail.example.com or 10.0.' || (doc_id % 256)::VARCHAR
               || '.7 tel 555-867-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
               AS raw
      FROM documents)
    SELECT doc_id,
           len(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))::BIGINT AS n_email,
           len(regexp_extract_all(raw, '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b'))::BIGINT AS n_ip,
           len(regexp_extract_all(raw, '\\b\\d{3}-\\d{3}-\\d{4}\\b'))::BIGINT AS n_phone,
           regexp_replace(regexp_replace(regexp_replace(raw,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g'),
               '\\b\\d{3}-\\d{3}-\\d{4}\\b', '<PHONE>', 'g') AS clean_text
    FROM s
    """,
)
def pii_redact(spark, sf_dir):
    """PII scrub (standard webtext-pipeline privacy pass): per-row
    synthesized email/IP/phone (the corpus is PII-free by construction, so
    the fixture plants one of each, keyed to doc_id) → typed placeholders,
    with pre-redaction hit counts. Whole pass is chained JVM regex — one
    codegen'd map, no shuffle."""
    d = T(spark, sf_dir, "documents")
    raw = F.concat_ws(
        "",
        F.substring("text", 1, 40),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 tel 555-867-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    s = d.select("doc_id", raw.alias("raw"))
    counts = textops.pii_count_cols(F.col("raw"))
    return s.select(
        "doc_id",
        *[c.alias(n) for n, c in counts.items()],
        textops.redact_pii_col(F.col("raw")).alias("clean_text"),
    )


_SQL_LINES = """
    tok AS (SELECT doc_id, source, {toks} AS w FROM documents),
    chunked AS (SELECT doc_id, source,
        list_transform(generate_series(1, cast(ceil(len(w) / 6.0) AS INT)),
                       i -> array_to_string(w[(i-1)*6+1 : (i-1)*6+6], ' ')) AS chunks
      FROM tok),
    l AS (SELECT doc_id,
        list_concat(list_concat(['accept cookies to continue'], chunks),
                    ['copyright ' || source]) AS ls
      FROM chunked),
    lines AS (SELECT doc_id, unnest(generate_series(1, len(ls))) - 1 AS pos,
                     unnest(ls) AS line FROM l)
"""


def _doc_lines(spark, sf_dir):
    """The line-dedup fixture: token chunks of 6 as 'lines', plus planted
    boilerplate (a global cookie banner + a per-source copyright footer) —
    exactly what cross-doc line dedup exists to strip."""
    d = T(spark, sf_dir, "documents")
    toks = d.select("doc_id", "source", textops.tokens_col(F.col("text")).alias("w"))
    chunks = F.transform(
        F.sequence(F.lit(1), F.ceil(F.size("w") / F.lit(6)).cast("int")),
        lambda i: F.concat_ws(" ", F.slice(F.col("w"), (i - 1) * 6 + 1, F.lit(6))),
    )
    ls = F.concat(
        F.array(F.lit("accept cookies to continue")),
        chunks,
        F.array(F.concat(F.lit("copyright "), F.col("source"))),
    )
    return toks.select("doc_id", F.posexplode(ls).alias("pos", "line"))


@q(
    "line_dedup_boilerplate",
    f"""
    WITH {_SQL_LINES.format(toks=_SQL_TOKENS)},
    bad AS (SELECT line FROM lines GROUP BY line HAVING count(DISTINCT doc_id) >= 2),
    kept AS (SELECT lines.* FROM lines ANTI JOIN bad USING (line)),
    rebuilt AS (SELECT doc_id, string_agg(line, ' | ' ORDER BY pos) AS text,
                       count(*) AS n_kept FROM kept GROUP BY doc_id),
    n_all AS (SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY doc_id)
    SELECT doc_id, coalesce(text, '') AS text,
           coalesce(n_kept, 0)::BIGINT AS n_kept,
           (n_lines - coalesce(n_kept, 0))::BIGINT AS n_dropped
    FROM n_all LEFT JOIN rebuilt USING (doc_id)
    """,
)
def line_dedup_boilerplate(spark, sf_dir):
    """RefinedWeb/C4-style cross-doc line dedup: lines occurring in ≥2
    distinct docs (the planted cookie banner + per-source footers, and any
    natural 6-gram chunk collisions) are stripped; each doc reassembles in
    position order. One count-distinct shuffle on the line text + one
    anti-join + one per-doc agg — linear, no pairwise step."""
    return dedup.dedup_lines(_doc_lines(spark, sf_dir), min_docs=2)


_SPLIT_HASH_SQL = textops.hash60_sql("'split:' || doc_id::VARCHAR")


@q(
    "split_assign",
    f"""
    SELECT doc_id, lang,
           CASE WHEN ({_SPLIT_HASH_SQL}) % 1000000 < 900000 THEN 'train'
                WHEN ({_SPLIT_HASH_SQL}) % 1000000 < 950000 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def split_assign(spark, sf_dir):
    """Deterministic train/val/test assignment by hash bucket: map-only,
    stable under corpus growth (membership is a pure function of the row
    key), identical at any cluster size — the property DataFrame.sample /
    randomSplit cannot give a reproducible data pipeline."""
    from spider_spark import sampling

    d = T(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        "lang",
        sampling.split_col(
            F.col("doc_id"), {"train": 0.90, "val": 0.05, "test": 0.05}
        ).alias("split"),
    )


@q(
    "nfc_normalize",
    """
    WITH s AS (SELECT doc_id, substr(text, 1, 30) || ' café naïve' AS raw
               FROM documents)
    SELECT doc_id, length(raw)::BIGINT AS n_cp_raw,
           nfc_normalize(raw) AS norm_text,
           length(nfc_normalize(raw))::BIGINT AS n_cp_norm
    FROM s
    """,
)
def nfc_normalize(spark, sf_dir):
    """Unicode NFC normalization (crawled text mixes composed/decomposed
    graphemes; dedup hashes disagree until this runs): Arrow-batched pandas
    UDF (Series.str.normalize) — the fixture plants decomposed 'cafe'+U+0301
    / 'nai'+U+0308've', which NFC folds to single codepoints (codepoint
    counts drop by 2)."""
    d = T(spark, sf_dir, "documents")
    nfc = textops.nfc_normalize_udf()
    s = d.select(
        "doc_id",
        F.concat(F.substring("text", 1, 30), F.lit(" café naïve")).alias("raw"),
    )
    return s.select(
        "doc_id",
        F.length("raw").cast("long").alias("n_cp_raw"),
        nfc(F.col("raw")).alias("norm_text"),
        F.length(nfc(F.col("raw"))).cast("long").alias("n_cp_norm"),
    )


@q(
    "domain_mix",
    """
    WITH agg AS (SELECT source, count(*)::BIGINT AS n_docs,
                        sum(n_chars)::BIGINT AS n_chars
                 FROM documents GROUP BY source),
    sh AS (SELECT *, n_docs::DOUBLE / sum(n_docs) OVER () AS share,
                  sum(n_docs) OVER (ORDER BY n_docs DESC, source
                                    ROWS UNBOUNDED PRECEDING)::DOUBLE
                    / sum(n_docs) OVER () AS cum
           FROM agg)
    SELECT source, n_docs, n_chars, round(share, 6) AS share,
           round(cum, 6) AS cum_share,
           CASE WHEN cum <= 0.5 THEN 'head' WHEN cum <= 0.9 THEN 'mid'
                ELSE 'tail' END AS bucket
    FROM sh
    """,
)
def domain_mix(spark, sf_dir):
    """Domain-mix report (Dolma/CC-style curation planning): per-source doc
    and char volume, corpus share, cumulative share in descending-volume
    order, head/mid/tail bucket. The groupBy reduces before any window —
    the windows run over the tiny per-domain aggregate, not the corpus."""
    d = T(spark, sf_dir, "documents")
    agg = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars"),
    )
    w_all = Window.partitionBy()
    share = F.col("n_docs").cast("double") / F.sum("n_docs").over(w_all)
    w_cum = (
        Window.partitionBy()
        .orderBy(F.col("n_docs").desc(), "source")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sh = agg.select(
        "source", "n_docs", "n_chars", share.alias("share"),
        (F.sum("n_docs").over(w_cum).cast("double") / F.sum("n_docs").over(w_all)).alias("cum"),
    )
    return sh.select(
        "source",
        "n_docs",
        "n_chars",
        F.round("share", 6).alias("share"),
        F.round("cum", 6).alias("cum_share"),
        F.when(F.col("cum") <= 0.5, "head")
        .when(F.col("cum") <= 0.9, "mid")
        .otherwise("tail")
        .alias("bucket"),
    )


@q(
    "curate_corpus",
    f"""
    WITH t AS (SELECT doc_id, text, {_SQL_TOKENS} AS w, ' ' || text || ' ' AS p
               FROM documents WHERE doc_id % 7 != 0),
    q0 AS (SELECT doc_id, text, w,
             len(w)::BIGINT AS n_tokens,
             length(text)::BIGINT AS n_chars,
             (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::BIGINT AS n_punct,
             CASE WHEN len(w) > 0
                  THEN len(list_filter(w, x -> x IN ('the','a','and','of','to')))::DOUBLE / len(w)::DOUBLE
                  ELSE 0.0 END AS stopword_ratio,
             {" , ".join(f"{_lang_score_sql(l)} AS s_{l}" for l in sorted(textops.LANG_MARKERS))}
           FROM t),
    m AS (SELECT *, greatest({', '.join('s_' + l for l in sorted(textops.LANG_MARKERS))}) AS m FROM q0),
    gate AS (SELECT doc_id, text, w, n_tokens, ({_LANG_CASE}) AS lang FROM m
             WHERE n_tokens >= 12 AND n_punct * 5 <= n_chars
               AND ({_LANG_CASE}) IN ('en', 'zh') AND stopword_ratio * 100 >= 2),
    rep AS (SELECT *, list_transform(generate_series(1, greatest(len(w) - 1, 0)),
                                     i -> w[i] || ' ' || w[i+1]) AS g2 FROM gate),
    repok AS (SELECT doc_id, text, w, n_tokens, lang FROM rep
              WHERE CASE WHEN len(g2) = 0 THEN 0
                         ELSE 1 - len(list_distinct(g2))::DOUBLE / len(g2) END <= 0.5),
    surv AS (SELECT * FROM (
               SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
               FROM repok) WHERE rn = 1),
    bw AS (SELECT {_SQL_TOKENS} AS w FROM documents WHERE doc_id % 7 = 0),
    bg AS (SELECT DISTINCT unnest({_sql_shingles(5)}) AS shingle FROM bw),
    sg AS (SELECT doc_id, unnest({_sql_shingles(5)}) AS shingle FROM surv),
    cont AS (SELECT DISTINCT sg.doc_id FROM sg JOIN bg USING (shingle)),
    clean AS (SELECT surv.* FROM surv ANTI JOIN cont USING (doc_id))
    SELECT doc_id, lang, n_tokens,
           CASE WHEN ({_SPLIT_HASH_SQL}) % 1000000 < 900000 THEN 'train'
                WHEN ({_SPLIT_HASH_SQL}) % 1000000 < 950000 THEN 'val'
                ELSE 'test' END AS split
    FROM clean
    """,
)
def curate_corpus(spark, sf_dir):
    """THE composed webtext pipeline (quality gate → repetition gate →
    exact dedup → decontamination → split), one declarative chain through
    spider_spark.curation.curate — two shuffles total at any scale; the
    eval set is the doc_id%7==0 slice. Proves the pipeline operators
    compose, value-identically to the single-CTE relational spec."""
    from spider_spark import curation

    d = T(spark, sf_dir, "documents")
    return curation.curate(
        d.where(F.col("doc_id") % 7 != 0), d.where(F.col("doc_id") % 7 == 0)
    )


@q(
    "warc_roundtrip",
    """
    SELECT 'https://corpus.example/doc/' || doc_id::VARCHAR AS url,
           '2026-02-01 00:00:00' AS warc_ts,
           strlen(text)::BIGINT AS n_payload_bytes,
           md5(text) AS payload_md5
    FROM documents
    """,
)
def warc_roundtrip(spark, sf_dir):
    """WARC sink→source roundtrip (the Common-Crawl ingest format): docs
    serialize to per-record-gzip-member .warc.gz files (one per partition,
    written ON the executors), read back through the binaryFile +
    mapInPandas source, and must reproduce every byte — the oracle derives
    the same rows straight from the documents table, so any drift in
    serializer, record framing, or parser shows up as a value mismatch."""
    from spider_spark import warc as warcmod

    d = T(spark, sf_dir, "documents")
    src = d.select(
        F.concat(F.lit("https://corpus.example/doc/"), F.col("doc_id").cast("string")).alias("url"),
        F.lit("2026-02-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.col("text").alias("payload"),
    ).repartition(8, "url")
    out_dir = tempfile.mkdtemp(prefix="warc_rt_")
    warcmod.write_warc(src, out_dir)
    back = warcmod.read_warc(spark, f"{out_dir}/*.warc.gz")
    return back.select(
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss").alias("warc_ts"),
        "n_payload_bytes",
        F.md5(F.encode("payload", "UTF-8")).alias("payload_md5"),
    )


@q(
    "main_content_extract",
    """
    SELECT doc_id,
           text || ' Published under the corpus license.' AS main_text,
           (length(text) + 36)::BIGINT AS n_main_chars
    FROM documents
    """,
)
def main_content_extract(spark, sf_dir):
    """Boilerplate removal (readability-lite over the from-scratch DOM):
    pages synthesized with real chrome — nav + link-farm menu div + aside
    + entity-laden footer — around an article div holding the document
    text; the extractor must return exactly the article (link-density
    scoring kills the menu, NOISE tags kill the rest). The oracle
    reconstructs the planted article from the raw column, so any
    over/under-extraction is a value mismatch."""
    d = T(spark, sf_dir, "documents")
    html = F.concat(
        F.lit(
            '<Html><head><title>Doc</title></head><BODY>'
            '<NAV><a href="/">Home</a> <a href="/x">More &amp; More</a></nav>'
            '<div class="menu"><a href="/1">one two three</a> '
            '<a href="/2">four five six seven</a></div>'
            '<DIV id="main" class="content"><p>'
        ),
        F.col("text"),
        F.lit(
            "</p>\n<p>Published under the corpus license.</p></div>"
            '<aside><a href="/r">related</a> sidebar words that must not leak</aside>'
            "<footer>&copy; 2026 corpus &amp; co</footer></body></html>"
        ),
    )
    ex = parse.main_text_udf()
    s = d.select("doc_id", html.alias("_html"))
    return s.select(
        "doc_id",
        ex(F.col("_html")).alias("main_text"),
        F.length(ex(F.col("_html"))).cast("long").alias("n_main_chars"),
    )


@q(
    "lm_perplexity_scores",
    f"""
    WITH ref AS (SELECT unnest({_SQL_TOKENS}) AS w FROM documents WHERE doc_id % 7 = 0),
    cnt AS (SELECT w, count(*)::BIGINT AS c FROM ref GROUP BY w),
    tot AS (SELECT sum(c)::BIGINT AS t, count(*)::BIGINT AS v FROM cnt),
    tok AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS w FROM documents WHERE doc_id % 7 != 0),
    sc AS (SELECT doc_id, -log2((coalesce(c, 0) + 1)::DOUBLE / (t + v)::DOUBLE) AS b
           FROM tok LEFT JOIN cnt USING (w) CROSS JOIN tot)
    SELECT doc_id, count(*)::BIGINT AS n_tokens, round(avg(b), 6) AS bits_per_token
    FROM sc GROUP BY doc_id
    """,
)
def lm_perplexity_scores(spark, sf_dir):
    """CCNet-style perplexity filtering signal: add-one unigram LM fit on
    the reference slice (doc_id%7==0 plays the trusted corpus), every
    other doc scored as mean -log2 P(w). Vocabulary broadcast; one
    per-doc shuffle. round(6) absorbs double-summation order across
    engines and partitionings."""
    from spider_spark import curation

    d = T(spark, sf_dir, "documents")
    return curation.unigram_lm_scores(
        d.where(F.col("doc_id") % 7 != 0), d.where(F.col("doc_id") % 7 == 0)
    )


