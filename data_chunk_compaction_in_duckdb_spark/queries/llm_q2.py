"""Training-data pipeline, round-2 additions: benchmark decontamination,
corpus n-gram statistics, embedding quantization, document-frequency/IDF,
and a chunk→dedup composition — each oracle-checked in DuckDB.

These extend the LLM-pipeline surface (llm_q.py) with the remaining
stages a 100 TB corpus build runs: train/test contamination checks
before training, global vocabulary statistics for filter design, int8
embedding compression for the ANN index, and chunk-level dedup (near-dup
at document granularity misses boilerplate repeated across documents —
chunk-level catches it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_chunk_compaction_in_duckdb_spark.catalog import load_table, table_rows
from data_chunk_compaction_in_duckdb_spark.queries.llm_q import (
    _components_doubling_sql,
)
from data_chunk_compaction_in_duckdb_spark.queries.registry import query

# Shared DuckDB fragment: distinct word 5-grams per document (matches
# pipeline.text.word_ngrams semantics: short docs yield one whole-text
# gram).
_GRAMS5 = """
    w AS (SELECT doc_id, source,
                 string_split_regex(trim(text), '\\s+') AS words
          FROM documents),
    g AS (SELECT doc_id, source,
                 list_distinct(list_transform(
                   generate_series(1, GREATEST(len(words) - 4, 1)),
                   i -> array_to_string(list_slice(words, i, i + 4), ' ')))
                 AS grams
          FROM w)
"""


@query(
    "contamination_ngram_overlap",
    oracle=f"""
    WITH {_GRAMS5},
    bench AS (SELECT DISTINCT UNNEST(grams) AS gram FROM g
              WHERE source = 'src0'),
    cand AS (SELECT doc_id, UNNEST(grams) AS gram FROM g
             WHERE source <> 'src0')
    SELECT c.doc_id,
           COUNT(*) AS n_grams,
           COUNT(b.gram) AS n_hit,
           ROUND(CAST(COUNT(b.gram) AS DOUBLE) / COUNT(*), 6)
             AS contamination
    FROM cand c LEFT JOIN bench b ON c.gram = b.gram
    GROUP BY c.doc_id
    """,
)
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination: fraction of each candidate document's
    distinct word 5-grams that appear anywhere in the benchmark set
    (source 'src0' stands in for the eval suite).  The benchmark gram set
    is DISTINCT-reduced and broadcast (eval sets are bounded); candidates
    stream through one equi-join + one groupBy — no all-pairs work, so
    the shape holds when the candidate side is 100 TB."""
    from data_chunk_compaction_in_duckdb_spark.pipeline.text import (
        ngram_contamination,
    )

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("source") == "src0")
    cand = docs.filter(F.col("source") != "src0")
    return ngram_contamination(cand, bench, "doc_id", "text", n=5)


@query(
    "text_top_ngrams",
    oracle="""
    WITH w AS (SELECT string_split_regex(trim(text), '\\s+') AS words
               FROM documents),
    g AS (SELECT UNNEST(list_transform(
                   generate_series(1, GREATEST(len(words) - 2, 1)),
                   i -> array_to_string(list_slice(words, i, i + 2), ' ')))
                 AS gram
          FROM w)
    SELECT gram, COUNT(*) AS cnt
    FROM g GROUP BY gram
    ORDER BY cnt DESC, gram LIMIT 20
    """,
)
def text_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-20 word trigrams by occurrence (non-distinct) — the
    vocabulary/boilerplate statistic that seeds stopword and filter
    lists.  Partial aggregation happens map-side; only (gram, count)
    pairs shuffle, and the final top-k is a TakeOrdered, not a full
    sort."""
    from data_chunk_compaction_in_duckdb_spark.pipeline.text import word_ngrams

    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        F.explode(word_ngrams("text", 3, distinct=False)).alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "gram")
        .limit(20)
    )


@query(
    "embed_quantize_int8",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    s AS (SELECT vec_id, v,
                 GREATEST(list_max(list_transform(v, x -> abs(x))), 1e-12)
                   / 127.0 AS scale
          FROM e),
    q AS (SELECT vec_id, scale,
                 list_transform(v, x -> CAST(floor(x / scale + 0.5)
                                             AS BIGINT)) AS qv
          FROM s)
    SELECT vec_id, ROUND(scale, 8) AS scale8,
           CAST(list_sum(qv) AS BIGINT) AS qsum,
           CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS qdot
    FROM q
    """,
)
def embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization summary (scale, sum, dot of
    the quantized ints).  Rounding is floor(x+0.5) — exact IEEE ops that
    replay bit-identically in DuckDB, unlike decimal ROUND half-cases.
    Narrow projection, zero shuffles."""
    from data_chunk_compaction_in_duckdb_spark.pipeline.similarity import (
        quantize_embeddings_int8,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    out = quantize_embeddings_int8(emb, "vec_id", "embedding")
    return out.select(
        "vec_id", F.round("scale", 8).alias("scale8"), "qsum", "qdot"
    )


@query(
    "text_doc_frequency_idf",
    oracle="""
    WITH d AS (SELECT doc_id, lower(trim(text)) AS t FROM documents),
    wds AS (SELECT doc_id,
                   UNNEST(list_distinct(string_split_regex(t, '\\s+')))
                     AS word
            FROM d),
    dfreq AS (SELECT word, COUNT(*) AS df FROM wds GROUP BY word),
    n AS (SELECT COUNT(*) AS n FROM d)
    SELECT word, df,
           ROUND(ln((CAST(n AS DOUBLE) + 1.0) / (CAST(df AS DOUBLE) + 1.0)),
                 6) AS idf
    FROM dfreq, n
    ORDER BY df DESC, word LIMIT 30
    """,
)
def text_doc_frequency_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document frequency + smoothed IDF for the 30 most common words —
    corpus-driven stopword extraction.  The corpus size is a 1-row
    aggregate broadcast into the expression (no driver-side collect);
    ln over exact integer ratios is the same double in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(
            F.array_distinct(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
        ).alias("word")
    )
    dfreq = words.groupBy("word").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n"))
    return (
        dfreq.crossJoin(F.broadcast(n))
        .select(
            "word",
            "df",
            F.round(
                F.log(
                    (F.col("n").cast("double") + 1.0)
                    / (F.col("df").cast("double") + 1.0)
                ),
                6,
            ).alias("idf"),
        )
        .orderBy(F.col("df").desc(), "word")
        .limit(30)
    )


@query(
    "pipeline_chunk_dedup_tokens",
    oracle=r"""
    WITH w AS (
      SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS words
      FROM documents WHERE doc_id < 100
    ),
    e AS (
      SELECT doc_id, source, words,
             unnest(range(greatest(1, (len(words) - 8 + 23) // 24)))
               AS chunk_idx
      FROM w
    ),
    c AS (
      SELECT doc_id, source, CAST(chunk_idx AS INT) AS chunk_idx,
             array_to_string(
               words[CAST(chunk_idx * 24 + 1 AS BIGINT)
                     : CAST(chunk_idx * 24 + 32 AS BIGINT)], ' ')
               AS chunk_text,
             len(words[CAST(chunk_idx * 24 + 1 AS BIGINT)
                       : CAST(chunk_idx * 24 + 32 AS BIGINT)]) AS n_words
      FROM e
    ),
    r AS (
      SELECT source, n_words,
             ROW_NUMBER() OVER (PARTITION BY md5(chunk_text)
                                ORDER BY doc_id, chunk_idx) AS rn
      FROM c
    )
    SELECT source,
           COUNT(*) AS n_chunks,
           COUNT(CASE WHEN rn = 1 THEN 1 END) AS n_unique,
           CAST(SUM(CASE WHEN rn = 1 THEN n_words ELSE 0 END) AS BIGINT)
             AS surviving_words
    FROM r GROUP BY source
    """,
)
def pipeline_chunk_dedup_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level dedup composition: context-window chunking (32-word
    windows, 8 overlap) → exact md5 dedup over CHUNKS (catches boilerplate
    repeated across distinct documents) → per-source surviving-token
    accounting.  One window over the chunk hash + one groupBy; chunking
    itself is shuffle-free."""
    from data_chunk_compaction_in_duckdb_spark.pipeline import chunk_documents

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    ch = chunk_documents(docs, "doc_id", "text", chunk_words=32, overlap_words=8)
    ch = ch.join(docs.select("doc_id", "source"), "doc_id")
    wr = Window.partitionBy(F.md5("chunk_text")).orderBy("doc_id", "chunk_idx")
    r = ch.withColumn("rn", F.row_number().over(wr))
    return r.groupBy("source").agg(
        F.count("*").alias("n_chunks"),
        F.count(F.when(F.col("rn") == 1, 1)).alias("n_unique"),
        F.sum(F.when(F.col("rn") == 1, F.col("n_words")).otherwise(0))
        .cast("long")
        .alias("surviving_words"),
    )


@query(
    "text_repetition_ratio",
    oracle="""
    WITH w AS (SELECT doc_id,
                      string_split_regex(trim(text), '\\s+') AS words
               FROM documents),
    g AS (SELECT doc_id,
                 list_transform(
                   generate_series(1, GREATEST(len(words) - 2, 1)),
                   i -> array_to_string(list_slice(words, i, i + 2), ' '))
                 AS grams
          FROM w)
    SELECT doc_id,
           len(grams) AS n_grams,
           len(list_distinct(grams)) AS n_distinct,
           ROUND(1 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6)
             AS repetition
    FROM g
    """,
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetitious-text gate: per-document duplicate word-trigram
    fraction (Gopher-style repetition rule).  Narrow projection, zero
    shuffles; short docs yield one whole-text gram (repetition 0) per
    the word_ngrams convention."""
    from data_chunk_compaction_in_duckdb_spark.pipeline.text import (
        repetition_ratio,
    )

    docs = load_table(spark, sf_dir, "documents")
    return repetition_ratio(docs, "doc_id", "text", n=3)


@query(
    "text_unigram_logprob",
    oracle="""
    WITH words AS (
      SELECT doc_id, UNNEST(string_split_regex(trim(text), '\\s+')) AS word
      FROM documents
    ),
    freq AS (SELECT word, COUNT(*) AS cnt FROM words GROUP BY word),
    tot AS (SELECT SUM(cnt) AS total FROM freq)
    SELECT doc_id,
           COUNT(*) AS n_words,
           ROUND(-SUM(ln(CAST(cnt AS DOUBLE) / total)) / COUNT(*), 6)
             AS mean_neg_logprob
    FROM words JOIN freq USING (word), tot
    GROUP BY doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score from a corpus-trained unigram LM:
    mean -ln p(word) per document.  The LM "training" is one word-count
    aggregation (vocabulary-bounded at any corpus size); scoring is an
    equi-join on the word plus a per-document mean.  ln on identical
    doubles may differ in the last ulp across engine libms, so the mean
    is rounded to 6 decimals on both sides (the repo's ratio-rounding
    convention)."""
    from data_chunk_compaction_in_duckdb_spark.pipeline.text import (
        unigram_logprob,
    )

    docs = load_table(spark, sf_dir, "documents")
    return unigram_logprob(docs, "doc_id", "text")


@query(
    "sample_stratified_per_source",
    oracle="""
    SELECT source, doc_id
    FROM (
      SELECT source, doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    ) t
    WHERE rn <= 50
    """,
)
def sample_stratified_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling: exactly N documents per source, chosen by
    deterministic hash order (md5 of the id) so the sample is stable
    across runs and engines — the per-domain quota step of a corpus
    build.  The window partitions on source (source-bounded fan-in);
    nothing global orders, so the plan scales with the widest single
    source, not the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select("source", "doc_id", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 50)
        .select("source", "doc_id")
    )


@query(
    "curriculum_quality_tiers",
    oracle="""
    SELECT source, tier, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS tier_chars
    FROM (
      SELECT source, n_chars,
             NTILE(4) OVER (PARTITION BY source ORDER BY n_chars, doc_id)
               AS tier
      FROM documents
    ) t
    GROUP BY source, tier
    """,
)
def curriculum_quality_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering: each source's documents split into 4
    difficulty tiers by a quality proxy (length here; any scored column
    works), with per-tier token mass — the schedule a curriculum-
    training data loader consumes.  NTILE runs per source (partitioned
    window, deterministic tie-break on doc_id), then one small groupBy."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    return (
        docs.select("source", "n_chars", F.ntile(4).over(w).alias("tier"))
        .groupBy("source", "tier")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("tier_chars"),
        )
    )


def _ivf_oracle_sql(dim: int = 64, n_assign: int = 2) -> str:
    """Render the DuckDB replay of semantic_ivf_neardup_pairs with the
    SAME adaptive cell count as the Spark side (GREATEST(8, n // 250),
    SCALE.md's one-cell-per-~250-vectors rule): the centroids are
    re-derived IN SQL from the md5 scheme (hex fold validated
    bit-identical to pipeline.similarity._centroid), the assignment is
    the same (-dot, idx) ascending rank, then exact cosine over
    cell-bucketed candidates.  Because the cell count now tracks n on
    both engines, the oracle stays (n * n_assign)^2 / cells = O(n)
    candidate pairs at EVERY scale factor — the round-6 static-8-cell
    version had no sf1 oracle at all (cell counts diverged) and a
    quadratic pair blowup if forced."""
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    params AS (SELECT GREATEST(8, COUNT(*) // 250) AS nc FROM e),
    cent AS (
      SELECT idx,
             list_transform(generate_series(0, {dim - 1}), i ->
               list_reduce(list_transform(generate_series(1, 8),
                   k -> strpos('0123456789abcdef',
                               substr(md5('ivf:' || idx || ':' || i), k, 1)) - 1),
                 (a, b) -> a * 16 + b) / 2147483648.0 - 1.0) AS c
      FROM (SELECT unnest(generate_series(0, nc - 1)) AS idx FROM params)
    ),
    scored AS (
      SELECT e.vec_id, cent.idx, -list_dot_product(e.v, cent.c) AS negdot
      FROM e CROSS JOIN cent
    ),
    cells AS (
      SELECT vec_id, idx AS cell FROM (
        SELECT vec_id, idx,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY negdot, idx) AS rn
        FROM scored) t
      WHERE rn <= {n_assign}
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id)
    SELECT id_a, id_b,
           ROUND(list_cosine_similarity(ea.v, eb.v), 4) AS cosine
    FROM cand
    JOIN e ea ON ea.vec_id = id_a
    JOIN e eb ON eb.vec_id = id_b
    WHERE list_cosine_similarity(ea.v, eb.v) >= 0.25
    """


@query("dedup_semantic_ivf_pairs", oracle=_ivf_oracle_sql())
def dedup_semantic_ivf_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup via IVF cell bucketing — the scale path for
    dedup_embedding_cosine_pairs (per-cell candidates ~(n/k)^2 instead
    of the n^2 cross join), and the one approximate-index operator whose
    bucketing is compact enough to replay bit-for-bit in SQL: the oracle
    recomputes the md5 centroids, the multi-assignment, and the exact
    cosine re-rank (threshold calibrated to the synthetic data like the
    brute-force twin).

    Cell count follows SCALE.md's measured rule — one cell per ~250
    vectors (hold n/cells constant, floor 8), since per-cell candidate
    volume grows as (n*n_assign)^2/cells: at sf1 the fixed 8-cell
    setting degraded to 35x the sf0.1 time (round-4 bench) while the
    rule keeps scaling linear.  The oracle applies the SAME rule in SQL
    (GREATEST(8, COUNT(*) // 250)) and re-derives the md5 centroids
    in-query, so the value check holds at every SF, sf1 included."""
    from data_chunk_compaction_in_duckdb_spark.pipeline import (
        semantic_ivf_neardup_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    n_clusters = max(8, table_rows(spark, sf_dir, "embeddings") // 250)
    out = semantic_ivf_neardup_pairs(
        emb, "vec_id", "embedding", dim=64, n_clusters=n_clusters,
        n_assign=2, threshold=0.25,
    )
    return out.select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))


@query(
    "fts_bm25_search",
    oracle="""
    WITH tok AS (
      SELECT doc_id AS doc, unnest(string_split_regex(lower(text), '\\s+'))
               AS term
      FROM documents
    ),
    tok2 AS (SELECT doc, term FROM tok WHERE term <> ''),
    doclen AS (SELECT doc, COUNT(*) AS dl FROM tok2 GROUP BY doc),
    stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                     CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
              FROM doclen),
    tf AS (SELECT doc, term, COUNT(*) AS tf FROM tok2
           WHERE term IN ('data', 'query', 'stream')
           GROUP BY doc, term),
    dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term)
    SELECT doc,
           ROUND(SUM(
             ln(1 + (n_docs - df + 0.5) / (df + 0.5))
             * tf * (1.2 + 1)
             / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
           ), 4) AS score
    FROM tf
    JOIN dft USING (term)
    JOIN doclen USING (doc)
    CROSS JOIN stats
    GROUP BY doc
    """,
)
def fts_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-text BM25 search (the reference's FTS extension:
    create_fts_index + match_bm25, extension/fts, test/sql/fts) over the
    documents table for the query 'data query stream'.  The oracle
    replays the identical Okapi/Lucene-IDF formula in plain SQL —
    DuckDB's own fts extension is not loadable offline, and replaying
    the math keeps the check exact rather than approximating another
    engine's stemmer."""
    from data_chunk_compaction_in_duckdb_spark.pipeline import bm25_scores

    docs = load_table(spark, sf_dir, "documents")
    out = bm25_scores(docs, "doc_id", "text", ["data", "query", "stream"])
    return out.select("doc", F.round("score", 4).alias("score"))


_FTS_BM25_ORACLE = """
    WITH tok AS (
      SELECT doc_id AS doc, unnest(string_split_regex(lower(text), '\\s+'))
               AS term
      FROM documents
    ),
    tok2 AS (SELECT doc, term FROM tok WHERE term <> ''),
    doclen AS (SELECT doc, COUNT(*) AS dl FROM tok2 GROUP BY doc),
    stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                     CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
              FROM doclen),
    tf AS (SELECT doc, term, COUNT(*) AS tf FROM tok2
           WHERE term IN ('data', 'query', 'stream')
           GROUP BY doc, term),
    dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term)
    SELECT doc,
           ROUND(SUM(
             ln(1 + (n_docs - df + 0.5) / (df + 0.5))
             * tf * (1.2 + 1)
             / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
           ), 4) AS score
    FROM tf
    JOIN dft USING (term)
    JOIN doclen USING (doc)
    CROSS JOIN stats
    GROUP BY doc
    """


@query("fts_bm25_index_search", oracle=_FTS_BM25_ORACLE)
def fts_bm25_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """match_bm25 through the MATERIALIZED inverted index
    (pipeline/fts.py FTSIndex; reference PRAGMA create_fts_index
    persists the index table set, extension/fts/fts_indexing.cpp):
    tokenize ONCE into versioned postings/doclen tables, then answer
    from STORED relations — zero tokenization on the query path.
    Shares fts_bm25_search's oracle verbatim: the index changes where
    the postings come from, never a score bit."""
    from data_chunk_compaction_in_duckdb_spark.pipeline import FTSIndex
    from data_chunk_compaction_in_duckdb_spark.queries.registry import (
        retained_tmpdir,
    )

    docs = load_table(spark, sf_dir, "documents")
    root = retained_tmpdir("ftsix_q_")
    idx = FTSIndex.build(spark, root + "/ix", docs, "doc_id", "text")
    out = idx.search(["data", "query", "stream"])
    return out.select("doc", F.round("score", 4).alias("score"))


@query("fts_bm25_index_append_search", oracle=_FTS_BM25_ORACLE)
def fts_bm25_index_append_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental inverted-index maintenance parity (FTSIndex.append;
    reference analog ART::Insert, art.cpp:370): build postings/doclen
    over two-thirds of the corpus, append the remaining third
    delta-only (existing files move by manifest reference), then
    search.  tf and dl are per-document local and the BM25 corpus
    stats (N, avgdl, df) are computed at query time from the stored
    relations, so append ∘ build ≡ build-on-union bit-exactly — the
    full-corpus oracle is shared verbatim."""
    from data_chunk_compaction_in_duckdb_spark.pipeline import FTSIndex
    from data_chunk_compaction_in_duckdb_spark.queries.registry import (
        retained_tmpdir,
    )

    docs = load_table(spark, sf_dir, "documents")
    root = retained_tmpdir("ftsixa_q_")
    idx = FTSIndex.build(
        spark, root + "/ix", docs.filter(F.col("doc_id") % 3 != 0),
        "doc_id", "text",
    )
    idx.append(docs.filter(F.col("doc_id") % 3 == 0))
    out = idx.search(["data", "query", "stream"])
    return out.select("doc", F.round("score", 4).alias("score"))


@query(
    "pipeline_pack_windows",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                  x -> x <> '')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - n_tokens AS BIGINT) AS before
      FROM t
    )
    SELECT doc_id, n_tokens,
           CAST(before // 2048 AS BIGINT) AS window_id,
           CAST(before % 2048 AS BIGINT) AS offset_in_window,
           (before % 2048 + n_tokens) > 2048 AS crosses_boundary
    FROM c
    """,
)
def pipeline_pack_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: lay the corpus out at global
    token offsets in doc_id order and assign each document its
    2048-token training window, offset, and boundary-crossing flag.
    The oracle is a single-node window cumsum; the Spark plan is the
    distributed prefix-sum (range partition + local cumsum + broadcast
    offsets) — no single-task window at any scale."""
    from data_chunk_compaction_in_duckdb_spark.pipeline import (
        pack_training_windows,
    )
    from data_chunk_compaction_in_duckdb_spark.pipeline.fts import tokenize

    docs = load_table(spark, sf_dir, "documents")
    return pack_training_windows(
        docs, "doc_id", F.size(tokenize("text")).cast("long"), capacity=2048
    )


# Shared DuckDB fragment: word 6-gram spans WITH multiplicity (matches
# pipeline.text.word_ngrams(distinct=False): short docs yield one
# whole-text gram).
_SPANS6 = """
    sw AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words
           FROM documents),
    sg AS (SELECT doc_id,
                  UNNEST(list_transform(
                    generate_series(1, GREATEST(len(words) - 5, 1)),
                    i -> array_to_string(list_slice(words, i, i + 5), ' ')))
                  AS gram
           FROM sw)
"""


@query(
    "dedup_repeated_ngram_spans",
    oracle=f"""
    WITH {_SPANS6}
    SELECT gram, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS occurrences,
           MIN(doc_id) AS first_doc
    FROM sg
    GROUP BY gram
    HAVING COUNT(DISTINCT doc_id) >= 2
    """,
)
def dedup_repeated_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup, detection stage: word 6-gram spans shared
    by >= 2 documents (the distributed analog of suffix-array
    exact-substring dedup).  One explode + one gram-keyed groupBy with
    map-side partial aggregation; output is bounded by corpus
    redundancy, not corpus size."""
    from data_chunk_compaction_in_duckdb_spark.pipeline import (
        repeated_ngram_spans,
    )

    docs = load_table(spark, sf_dir, "documents")
    return repeated_ngram_spans(docs, "doc_id", "text", n=6, min_docs=2)


@query(
    "text_duplicate_gram_fraction",
    oracle=f"""
    WITH {_SPANS6},
    rep AS (SELECT gram FROM sg GROUP BY gram
            HAVING COUNT(DISTINCT doc_id) >= 2)
    SELECT sg.doc_id, COUNT(*) AS n_grams, COUNT(rep.gram) AS n_dup,
           ROUND(CAST(COUNT(rep.gram) AS DOUBLE) / COUNT(*), 6)
             AS dup_fraction
    FROM sg LEFT JOIN rep ON sg.gram = rep.gram
    GROUP BY sg.doc_id
    """,
)
def text_duplicate_gram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup, scoring stage: per document, the fraction
    of its 6-gram spans (with multiplicity) that are cross-document
    repeats — the actionable drop/trim filter column.  The repeated-span
    dictionary streams through one equi-join + one groupBy, the same
    scale shape as benchmark decontamination."""
    from data_chunk_compaction_in_duckdb_spark.pipeline import (
        duplicate_gram_fraction,
    )

    docs = load_table(spark, sf_dir, "documents")
    return duplicate_gram_fraction(docs, "doc_id", "text", n=6, min_docs=2)


def _split_case_sql() -> str:
    from data_chunk_compaction_in_duckdb_spark.functions.portable_hash import (
        hash32_sql,
    )

    h = hash32_sql("CAST(doc_id AS STRING)", key="split")
    return f"""
    CASE WHEN ({h}) % 10000 < 9000 THEN 'train'
         WHEN ({h}) % 10000 < 9500 THEN 'val'
         ELSE 'test' END"""


@query(
    "pipeline_split_assign",
    oracle=f"""
    SELECT doc_id, {_split_case_sql()} AS split FROM documents
    """,
)
def pipeline_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (90/5/5) by portable
    per-id hash bands — reproducible across engines/runs and stable
    under corpus growth (adding documents never reassigns existing
    ones).  Narrow projection, no shuffle."""
    from data_chunk_compaction_in_duckdb_spark.pipeline import assign_splits

    docs = load_table(spark, sf_dir, "documents")
    return assign_splits(docs, "doc_id").select("doc_id", "split")


@query(
    "pipeline_split_span_leakage",
    oracle=f"""
    WITH assigned AS (
      SELECT doc_id, text, {_split_case_sql()} AS split FROM documents),
    w AS (SELECT doc_id, split,
                 string_split_regex(trim(text), '\\s+') AS words
          FROM assigned),
    g AS (SELECT doc_id, split,
                 UNNEST(list_transform(
                   generate_series(1, GREATEST(len(words) - 5, 1)),
                   i -> array_to_string(list_slice(words, i, i + 5), ' ')))
                 AS gram
          FROM w),
    spans AS (SELECT gram, COUNT(DISTINCT split) AS n_splits
              FROM g GROUP BY gram)
    SELECT COUNT(*) AS n_spans,
           CAST(SUM(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_leaking,
           ROUND(CAST(SUM(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS leak_fraction
    FROM spans
    """,
)
def pipeline_split_span_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split contamination audit at span granularity: word 6-gram
    spans that occur in more than one split of the assigned corpus —
    the eval-leakage signal a dedup-then-split pipeline must monitor.
    One gram-keyed groupBy over the widened scan; output is one summary
    row."""
    from data_chunk_compaction_in_duckdb_spark.compaction import fan_out
    from data_chunk_compaction_in_duckdb_spark.pipeline import assign_splits
    from data_chunk_compaction_in_duckdb_spark.pipeline.text import word_ngrams

    docs = assign_splits(load_table(spark, sf_dir, "documents"), "doc_id")
    grams = fan_out(docs).select(
        F.col("split"),
        F.explode(word_ngrams("text", 6, distinct=False)).alias("gram"),
    )
    spans = grams.groupBy("gram").agg(
        F.countDistinct("split").alias("n_splits")
    )
    leak = F.sum(F.when(F.col("n_splits") > 1, 1).otherwise(0))
    return spans.agg(
        F.count("*").alias("n_spans"),
        leak.cast("bigint").alias("n_leaking"),
        F.round(
            leak.cast("double") / F.count("*"), 6
        ).alias("leak_fraction"),
    )


def _pq_oracle_sql(dim: int = 64, m: int = 4, k: int = 16) -> str:
    """DuckDB replay of pq_codes: identical md5 codebook literals, the
    same min-L2 struct(d, idx) ascending sort per subspace (d =
    -2*dot + ||c||^2 with the centroid norm inlined as a literal)."""
    from data_chunk_compaction_in_duckdb_spark.pipeline.similarity import (
        _pq_centroid,
    )

    subdim = dim // m
    code_cols = []
    packed = []
    for sub in range(m):
        def entry(code: int) -> str:
            cvals = _pq_centroid(sub, code, subdim)
            c2 = sum(v * v for v in cvals)
            return (
                "struct_pack(d := -2.0 * list_dot_product("
                f"list_slice(v, {sub * subdim + 1}, {(sub + 1) * subdim}), ["
                + ",".join(repr(x) for x in cvals)
                + f"]) + {c2!r}, i := {code})"
            )

        structs = ", ".join(entry(code) for code in range(k))
        code_cols.append(f"list_sort([{structs}])[1].i AS c{sub}")
        packed.append(f"CAST(c{sub} AS BIGINT) * {k**sub}")
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    coded AS (SELECT vec_id, {', '.join(code_cols)} FROM e)
    SELECT vec_id, c0, c1, c2, c3,
           {' + '.join(packed)} AS pq_code
    FROM coded
    """


@query("embed_pq_codes", oracle=_pq_oracle_sql())
def embed_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes (m=4 subspaces, k=16 entries): the
    memory-compression layer under ADC-style ANN — 16 bits per vector
    here vs 64 doubles.  md5 codebooks + the proven struct(-dot, idx)
    assignment sort replay bit-for-bit in the DuckDB oracle; narrow
    projection, zero shuffles."""
    from data_chunk_compaction_in_duckdb_spark.pipeline import pq_codes

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_codes(emb, "vec_id", "embedding", dim=64, m=4, k=16)


def _pq_adc_oracle_sql(
    dim: int = 64,
    m: int = 16,
    codes: int = 16,
    rerank: int = 50,
    k: int = 5,
    corpus_pred: str = "TRUE",
) -> str:
    """DuckDB replay of pq_adc_topk with the md5 codebooks: corpus codes
    via the proven min-L2 struct sort (same as the embed_pq_codes
    oracle), ADC distance re-derived per pair by computing the LUT term
    the corpus code selects (-2*dot(q_sub, chosen centroid) + ||c||^2 —
    identical arithmetic to the Spark element_at pick), top-``rerank``
    candidates per query in (_adc ASC, match_id) order, then the exact
    cosine re-rank in (cosine DESC, match_id) order."""
    from data_chunk_compaction_in_duckdb_spark.pipeline.similarity import (
        _pq_centroid,
    )

    subdim = dim // m
    code_cols = []
    adc_terms = []
    for sub in range(m):
        lo, hi = sub * subdim + 1, (sub + 1) * subdim
        entries = []
        for code in range(codes):
            cvals = _pq_centroid(sub, code, subdim)
            c2 = sum(v * v for v in cvals)
            entries.append(
                "struct_pack(d := -2.0 * list_dot_product("
                f"list_slice(v, {lo}, {hi}), ["
                + ",".join(repr(x) for x in cvals)
                + f"]) + {c2!r}, i := {code})"
            )
        code_cols.append(
            f"list_sort([{', '.join(entries)}])[1].i AS c{sub}"
        )
        books_lit = (
            "[" + ",".join(
                "[" + ",".join(repr(x) for x in _pq_centroid(sub, code, subdim))
                + "]"
                for code in range(codes)
            ) + "]"
        )
        norms_lit = "[" + ",".join(
            repr(sum(x * x for x in _pq_centroid(sub, code, subdim)))
            for code in range(codes)
        ) + "]"
        adc_terms.append(
            f"(-2.0 * list_dot_product(list_slice(q.v, {lo}, {hi}),"
            f" ({books_lit})[cc.c{sub} + 1])"
            f" + ({norms_lit})[cc.c{sub} + 1])"
        )
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    coded AS (SELECT vec_id, {', '.join(code_cols)} FROM e
              WHERE {corpus_pred}),
    q AS (SELECT vec_id, v FROM e WHERE vec_id % 97 = 0),
    adc AS (
      SELECT q.vec_id AS query_id, cc.vec_id AS match_id,
             {' + '.join(adc_terms)} AS d
      FROM q, coded cc WHERE q.vec_id <> cc.vec_id),
    cand AS (
      SELECT query_id, match_id
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY d ASC, match_id) AS rn
            FROM adc) t
      WHERE rn <= {rerank})
    SELECT query_id, match_id, ROUND(c, 4) AS cosine
    FROM (SELECT cand.query_id, cand.match_id,
                 list_cosine_similarity(eq.v, ec.v) AS c,
                 ROW_NUMBER() OVER (
                   PARTITION BY cand.query_id
                   ORDER BY list_cosine_similarity(eq.v, ec.v) DESC,
                            cand.match_id) AS rn
          FROM cand
          JOIN e eq ON eq.vec_id = cand.query_id
          JOIN e ec ON ec.vec_id = cand.match_id) t
    WHERE rn <= {k}
    """


@query("sim_ann_pq_adc_topk", oracle=_pq_adc_oracle_sql())
def sim_ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-k over product-quantization codes — the
    compressed-in-memory ANN path (corpus side carries 16-bit codes,
    raw vectors touched only for the bounded exact re-rank).

    This registry entry runs the md5 default codebooks (m=16 4-dim
    subspaces) so the whole index — codes, ADC scan, rerank — replays
    bit-for-bit in the DuckDB oracle; the Lloyd-trained-codebook variant
    (train_pq_codebooks, data-adapted but with engine-dependent float
    summation order in the means) keeps its recall assertions in
    tests/test_pipeline.py."""
    from data_chunk_compaction_in_duckdb_spark.pipeline import pq_adc_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") % 97 == 0)
    out = pq_adc_topk(
        emb, queries_df, "vec_id", "embedding", dim=64, k=5, m=16, codes=16,
        rerank=50,
    )
    return out.select(
        "query_id", "match_id", F.round("cosine", 4).alias("cosine")
    )


def _cluster_split_case_sql() -> str:
    from data_chunk_compaction_in_duckdb_spark.functions.portable_hash import (
        hash32_sql,
    )

    h = hash32_sql("CAST(rep AS STRING)", key="split")
    return f"""
    CASE WHEN ({h}) % 10000 < 9000 THEN 'train'
         WHEN ({h}) % 10000 < 9500 THEN 'val'
         ELSE 'test' END"""


@query(
    "pipeline_split_by_cluster",
    oracle=f"""
    WITH d AS (SELECT doc_id, source, text FROM documents
               WHERE doc_id % 5 = 0),
    sh AS (SELECT doc_id, source,
                  list_distinct(list_transform(
                    generate_series(1, GREATEST(length(text) - 2, 1)),
                    i -> substr(text, i, 3))) AS sh
           FROM d),
    edges AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
    ),
    sym AS (
      SELECT id_a AS s, id_b AS nb FROM edges
      UNION SELECT id_b, id_a FROM edges
    ),
    {_components_doubling_sql(neigh="nb")},
    withrep AS (
      SELECT d.doc_id, COALESCE(comp.component, d.doc_id) AS rep
      FROM d LEFT JOIN comp ON comp.id = d.doc_id)
    SELECT doc_id, rep, {_cluster_split_case_sql()} AS split
    FROM withrep
    """,
)
def pipeline_split_by_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/val/test assignment: split by the hash of the
    document's near-dup CLUSTER representative (3-gram Jaccard >= 0.5
    components), so every near-duplicate lands in the same split by
    construction — the dedup-aware variant of pipeline_split_assign
    (tests pin that no edge straddles splits).  The component stage is
    the same bounded-rounds min-label propagation; everything after is
    a narrow hash-band projection."""
    from data_chunk_compaction_in_duckdb_spark.pipeline import (
        assign_splits,
        connected_components,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 5 == 0
    )
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("source").alias("_sa"))
    b = docs.select(F.col("doc_id").alias("id_b"), F.col("source").alias("_sb"))
    cands = a.join(
        b, (F.col("_sa") == F.col("_sb")) & (F.col("id_a") < F.col("id_b"))
    ).select("id_a", "id_b")
    edges = ngram_jaccard_pairs(
        cands, docs, "doc_id", "text", n=3, min_jaccard=0.5
    )
    comp = connected_components(edges)
    withrep = docs.join(
        comp, docs.doc_id == comp.id, "left"
    ).select(
        "doc_id", F.coalesce("component", "doc_id").alias("rep")
    )
    return assign_splits(withrep, "rep").select("doc_id", "rep", "split")


def _lit_list(vals: list[float]) -> str:
    return "[" + ",".join(repr(float(x)) for x in vals) + "]"


def _ivf_trained_oracle_sql(dim: int = 64, n_clusters: int = 4) -> str:
    """DuckDB side of the trained-IVF self-check: run DuckDB's OWN
    2-iteration spherical k-means (unrolled SQL: assign via the md5-
    literal init, normalized-mean update, reassign, update, reassign)
    and verify the monotonicity contract on its own artifact.  The
    hash-crossing columns are engine-independent: the init-assignment
    stats are bit-replayable (identical centroid literals, identical
    left-fold dots, round-half-up integer sums), and ``improved`` is
    'true' on both sides because the normalized-mean update provably
    never decreases the total assignment dot (Dhillon & Modha 2001) —
    each engine proves it on its own floats."""
    from data_chunk_compaction_in_duckdb_spark.pipeline.similarity import (
        _centroid,
        _unit_vec,
    )

    init = [_unit_vec(_centroid(dim, i)) for i in range(n_clusters)]
    init_rows = ", ".join(f"({i}, {_lit_list(c)})" for i, c in enumerate(init))
    structs = ", ".join(
        f"struct_pack(d := -list_dot_product(v, {_lit_list(c)}), i := {i})"
        for i, c in enumerate(init)
    )
    avgs = ", ".join(f"avg(v[{j + 1}])" for j in range(dim))
    renorm = (
        "CASE WHEN m.c IS NULL OR list_dot_product(m.c, m.c) <= 0 THEN i.c "
        "ELSE list_transform(m.c, x -> x / sqrt(list_dot_product(m.c, m.c))) "
        "END AS c"
    )
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    a0 AS (SELECT vec_id, v, list_sort([{structs}])[1] AS b FROM e),
    init(cell, c) AS (VALUES {init_rows}),
    m1r AS (SELECT b.i AS cell, [{avgs}] AS c FROM a0 GROUP BY b.i),
    m1 AS (SELECT i.cell, {renorm} FROM init i LEFT JOIN m1r m USING (cell)),
    a1 AS (SELECT vec_id, v, cell, dot,
                  ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dot DESC, cell) AS rn
           FROM (SELECT e.vec_id, e.v, m.cell, list_dot_product(e.v, m.c) AS dot
                 FROM e CROSS JOIN m1 m)),
    a1b AS (SELECT vec_id, v, cell FROM a1 WHERE rn = 1),
    m2r AS (SELECT cell, [{avgs}] AS c FROM a1b GROUP BY cell),
    m2 AS (SELECT i.cell, {renorm} FROM init i LEFT JOIN m2r m USING (cell)),
    a2 AS (SELECT vec_id, dot,
                  ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dot DESC, cell) AS rn
           FROM (SELECT e.vec_id, m.cell, list_dot_product(e.v, m.c) AS dot
                 FROM e CROSS JOIN m2 m))
    SELECT (SELECT COUNT(*) FROM e) AS n_vectors,
           (SELECT COUNT(DISTINCT b.i) FROM a0) AS init_cells_used,
           (SELECT CAST(SUM(CAST(FLOOR(-b.d * 10000 + 0.5) AS BIGINT)) AS BIGINT)
            FROM a0) AS init_dot_e4,
           CAST((SELECT SUM(dot) FROM a2 WHERE rn = 1)
                >= (SELECT SUM(-b.d) FROM a0) AS VARCHAR) AS improved
    """


@query("sim_ivf_trained_selfcheck", oracle=_ivf_trained_oracle_sql())
def sim_ivf_trained_selfcheck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable self-check for the Lloyd-trained IVF variant
    (train_ivf_centroids): raw trained floats are engine-dependent
    (distributed mean order), so the crossing columns are (a) the
    bit-replayable init-assignment stats and (b) the spherical-k-means
    monotonicity guarantee — total assignment dot after 2 train
    iterations >= the init total — which each engine verifies on its
    OWN trained artifact (same contract as agg_approx_count_distinct's
    HLL self-check).  The oracle unrolls DuckDB's own 2-iteration
    training in SQL."""
    from data_chunk_compaction_in_duckdb_spark.pipeline.similarity import (
        _centroid,
        _unit_vec,
        train_ivf_centroids,
    )

    dim, n_clusters = 64, 4
    emb = load_table(spark, sf_dir, "embeddings")

    def best_struct(cents: list[list[float]]):
        from data_chunk_compaction_in_duckdb_spark.pipeline.similarity import (
            lit_double_matrix,
        )

        cents_lit = lit_double_matrix(cents)

        def entry(cen, i):
            dot = F.aggregate(
                F.zip_with(
                    F.col("embedding"), cen, lambda x, y: x.cast("double") * y
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            return F.struct((-dot).alias("d"), i.cast("int").alias("i"))

        return F.array_min(F.transform(cents_lit, entry))

    init = [_unit_vec(_centroid(dim, i)) for i in range(n_clusters)]
    trained = train_ivf_centroids(
        emb, "embedding", dim, n_clusters=n_clusters, n_iter=2
    )
    rows = emb.select(
        best_struct(init).alias("_b0"), best_struct(trained).alias("_bt")
    )
    return (
        rows.agg(
            F.count("*").alias("n_vectors"),
            F.countDistinct(F.col("_b0.i")).alias("init_cells_used"),
            F.sum(
                F.floor(-F.col("_b0.d") * 10000 + 0.5).cast("bigint")
            ).alias("init_dot_e4"),
            F.sum(-F.col("_b0.d")).alias("_t0"),
            F.sum(-F.col("_bt.d")).alias("_tt"),
        )
        .select(
            "n_vectors",
            "init_cells_used",
            "init_dot_e4",
            (F.col("_tt") >= F.col("_t0")).cast("string").alias("improved"),
        )
    )


def _pq_trained_oracle_sql(dim: int = 64, m: int = 2, codes: int = 4) -> str:
    """DuckDB side of the trained-PQ self-check: per-subspace 2-iteration
    L2 Lloyd unrolled in SQL; crossing columns are the bit-replayable
    init-code assignment stats plus the textbook Lloyd guarantee (the
    -2*dot+||c||^2 assignment total never increases under the mean
    update, since ||q||^2 is constant per row), verified per engine on
    its own codebooks."""
    from data_chunk_compaction_in_duckdb_spark.pipeline.similarity import (
        _pq_centroid,
    )

    subdim = dim // m
    parts, sel = [], []
    for sub in range(m):
        lo, hi = sub * subdim + 1, (sub + 1) * subdim
        books = [_pq_centroid(sub, code, subdim) for code in range(codes)]
        init_rows = ", ".join(
            f"({c}, {_lit_list(b)})" for c, b in enumerate(books)
        )
        structs = ", ".join(
            f"struct_pack(d := -2*list_dot_product(sv, {_lit_list(b)}) "
            f"+ {float(sum(v * v for v in b))!r}, i := {c})"
            for c, b in enumerate(books)
        )
        avgs = ", ".join(f"avg(sv[{j + 1}])" for j in range(subdim))
        parts.append(f"""
    s{sub} AS (SELECT vec_id, v[{lo}:{hi}] AS sv FROM e),
    b{sub}_0 AS (SELECT vec_id, sv, list_sort([{structs}])[1] AS b FROM s{sub}),
    init{sub}(code, c) AS (VALUES {init_rows}),
    m{sub}_1r AS (SELECT b.i AS code, [{avgs}] AS c FROM b{sub}_0 GROUP BY b.i),
    m{sub}_1 AS (SELECT i.code, COALESCE(m.c, i.c) AS c
                 FROM init{sub} i LEFT JOIN m{sub}_1r m USING (code)),
    b{sub}_1 AS (SELECT vec_id, sv, code, d,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, code) AS rn
                 FROM (SELECT s.vec_id, s.sv, m.code,
                              -2*list_dot_product(s.sv, m.c)
                              + list_dot_product(m.c, m.c) AS d
                       FROM s{sub} s CROSS JOIN m{sub}_1 m)),
    b{sub}_1b AS (SELECT vec_id, sv, code FROM b{sub}_1 WHERE rn = 1),
    m{sub}_2r AS (SELECT code, [{avgs}] AS c FROM b{sub}_1b GROUP BY code),
    m{sub}_2 AS (SELECT i.code, COALESCE(m.c, i.c) AS c
                 FROM init{sub} i LEFT JOIN m{sub}_2r m USING (code)),
    b{sub}_2 AS (SELECT vec_id, d,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, code) AS rn
                 FROM (SELECT s.vec_id, m.code,
                              -2*list_dot_product(s.sv, m.c)
                              + list_dot_product(m.c, m.c) AS d
                       FROM s{sub} s CROSS JOIN m{sub}_2 m))""")
        sel.append(f"""
    SELECT {sub} AS subspace,
           (SELECT COUNT(*) FROM e) AS n_vectors,
           (SELECT COUNT(DISTINCT b.i) FROM b{sub}_0) AS init_codes_used,
           (SELECT CAST(SUM(CAST(FLOOR(b.d * 10000 + 0.5) AS BIGINT)) AS BIGINT)
            FROM b{sub}_0) AS init_score_e4,
           CAST((SELECT SUM(d) FROM b{sub}_2 WHERE rn = 1)
                <= (SELECT SUM(b.d) FROM b{sub}_0) AS VARCHAR) AS improved""")
    return (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings)," + ",".join(parts)
        + " UNION ALL ".join(sel)
        + " ORDER BY subspace"
    )


@query("sim_pq_trained_selfcheck", oracle=_pq_trained_oracle_sql())
def sim_pq_trained_selfcheck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable self-check for the Lloyd-trained PQ codebooks
    (train_pq_codebooks), one row per subspace: bit-replayable init-code
    assignment stats cross the hash; ``improved`` pins the textbook
    Lloyd monotonicity (L2 inertia never increases under assign+mean
    update) on each engine's own trained codebooks."""
    from data_chunk_compaction_in_duckdb_spark.pipeline.similarity import (
        _codebook_scores,
        _pq_centroid,
        train_pq_codebooks,
    )

    dim, m, codes = 64, 2, 4
    subdim = dim // m
    emb = load_table(spark, sf_dir, "embeddings")
    trained = train_pq_codebooks(
        emb, "embedding", dim, m=m, codes=codes, n_iter=2
    )
    out = None
    for sub in range(m):
        init_books = [_pq_centroid(sub, c, subdim) for c in range(codes)]
        b0 = F.array_min(
            _codebook_scores(F.col("embedding"), sub * subdim, subdim, init_books)
        )
        bt = F.array_min(
            _codebook_scores(
                F.col("embedding"), sub * subdim, subdim, trained[sub]
            )
        )
        rows = emb.select(b0.alias("_b0"), bt.alias("_bt"))
        part = (
            rows.agg(
                F.count("*").alias("n_vectors"),
                F.countDistinct(F.col("_b0.i")).alias("init_codes_used"),
                F.sum(
                    F.floor(F.col("_b0.d") * 10000 + 0.5).cast("bigint")
                ).alias("init_score_e4"),
                F.sum(F.col("_b0.d")).alias("_t0"),
                F.sum(F.col("_bt.d")).alias("_tt"),
            )
            .select(
                F.lit(sub).cast("int").alias("subspace"),
                "n_vectors",
                "init_codes_used",
                "init_score_e4",
                (F.col("_tt") <= F.col("_t0")).cast("string").alias("improved"),
            )
        )
        out = part if out is None else out.unionByName(part)
    return out.orderBy("subspace")


@query("sim_ann_pq_index_append_topk", oracle=_pq_adc_oracle_sql())
def sim_ann_pq_index_append_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance parity (PQIndex.append; reference
    ART::Insert, src/execution/index/art/art.cpp:370): build the code
    table over TWO-THIRDS of the corpus, append the remaining third as
    a delta-only commit (existing files move by manifest reference),
    then query — the result must be BIT-IDENTICAL to querying an index
    built over the whole corpus, so it shares sim_ann_pq_adc_topk's
    full-corpus oracle verbatim.  A delta encode that re-anchored,
    dropped, or double-encoded one row diverges the hash."""
    from data_chunk_compaction_in_duckdb_spark.pipeline import PQIndex
    from data_chunk_compaction_in_duckdb_spark.queries.registry import (
        retained_tmpdir,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") % 97 == 0)
    # session-retained dir: the lazy result reads the STORED codes
    root = retained_tmpdir("pqixa_q_")
    idx = PQIndex.build(
        spark, root + "/ix", emb.filter(F.col("vec_id") % 3 != 0),
        "vec_id", "embedding", dim=64, m=16, codes=16,
    )
    idx.append(emb.filter(F.col("vec_id") % 3 == 0))
    out = idx.topk(emb, queries_df, k=5, rerank=50)
    return out.select(
        "query_id", "match_id", F.round("cosine", 4).alias("cosine")
    )


@query("sim_ann_pq_index_topk", oracle=_pq_adc_oracle_sql())
def sim_ann_pq_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-k through the MATERIALIZED index lifecycle
    (pipeline/vector_index.py; reference CREATE INDEX + storage layer,
    test/sql/index/): build the versioned code table once, then answer
    the query from STORED codes — no re-encoding on the query path.
    Shares sim_ann_pq_adc_topk's oracle verbatim because the contract
    is exact equivalence: the index must change WHERE the codes come
    from, never a single result bit."""
    from data_chunk_compaction_in_duckdb_spark.pipeline import PQIndex
    from data_chunk_compaction_in_duckdb_spark.queries.registry import (
        retained_tmpdir,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") % 97 == 0)
    # session-retained dir: the lazy result reads the STORED codes
    root = retained_tmpdir("pqix_q_")
    idx = PQIndex.build(
        spark, root + "/ix", emb, "vec_id", "embedding", dim=64,
        m=16, codes=16,
    )
    out = idx.topk(emb, queries_df, k=5, rerank=50)
    return out.select(
        "query_id", "match_id", F.round("cosine", 4).alias("cosine")
    )


_FTS_STEMMED_ORACLE = """
    WITH src AS (
      SELECT doc_id,
             replace(replace(replace(lower(text),
               'join', 'joining'), 'merge', 'merges'), 'sort', 'sorted')
               AS text
      FROM documents
    ),
    tok AS (
      SELECT doc_id AS doc,
             unnest(string_split_regex(text, '\\s+')) AS term
      FROM src
    ),
    tok2 AS (SELECT doc, term FROM tok WHERE term <> ''),
    doclen AS (SELECT doc, COUNT(*) AS dl FROM tok2 GROUP BY doc),
    stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                     CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
              FROM doclen),
    tf AS (SELECT doc,
                  CASE WHEN term IN ('joining', 'joins', 'join') THEN 'join'
                       WHEN term IN ('merges', 'merging', 'merge') THEN 'merg'
                       WHEN term IN ('sorted', 'sorts', 'sort') THEN 'sort'
                  END AS term,
                  COUNT(*) AS tf
           FROM tok2
           WHERE term IN ('joining', 'joins', 'join', 'merges', 'merging',
                          'merge', 'sorted', 'sorts', 'sort')
           GROUP BY doc, 2),
    dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term)
    SELECT doc,
           ROUND(SUM(
             ln(1 + (n_docs - df + 0.5) / (df + 0.5))
             * tf * (1.2 + 1)
             / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
           ), 4) AS score
    FROM tf
    JOIN dft USING (term)
    JOIN doclen USING (doc)
    CROSS JOIN stats
    GROUP BY doc
    """


@query("fts_bm25_stemmed_search", oracle=_FTS_STEMMED_ORACLE)
def fts_bm25_stemmed_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 with the PORTER stemmer option (reference
    extension/fts/fts_indexing.cpp `stemmer := 'porter'`,
    test/sql/fts/): the corpus is deterministically inflected
    (join->joining, merge->merges, sort->sorted — both engines apply
    the same replace chain), the engine stems corpus tokens AND the
    inflected query terms through pipeline/stem.porter_stem (validated
    against the published Porter vocabulary in tests/test_fts_stem.py),
    and scoring must equal the oracle's stem-class BM25 (DuckDB's own
    fts extension is not loadable offline, so the oracle encodes the
    stem classes the Porter algorithm produces for this vocabulary —
    'joining/joins/join'->join, 'merges/merging/merge'->merg,
    'sorted/sorts/sort'->sort — and replays the exact formula).  The
    stem pass is an Arrow-batched per-partition map over the exploded
    tokens: no shuffle added at any scale."""
    from data_chunk_compaction_in_duckdb_spark.pipeline import bm25_scores

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "replace(replace(replace(lower(text), "
            "'join', 'joining'), 'merge', 'merges'), 'sort', 'sorted')"
        ).alias("text"),
    )
    out = bm25_scores(
        docs, "doc_id", "text", ["joins", "merging", "sorts"],
        stemmer="porter",
    )
    return out.select("doc", F.round("score", 4).alias("score"))
