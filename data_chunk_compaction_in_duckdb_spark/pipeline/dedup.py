"""Deduplication operators for training-data pipelines.

Five dedup families, all shuffle-parallel (no driver-side pair loops):

- exact:            hash-groupBy on normalized text
- MinHash + LSH:    shingle → per-permutation min-hash → banded bucket
                    join → candidate pairs (est. Jaccard from signature
                    agreement).  Hashing is the portable md5 scheme so
                    DuckDB oracles can replay it bit-for-bit.
- SimHash:          per-token 32-bit hash, sign-summed per bit →
                    fingerprint; near-dups = small hamming distance.
- n-gram Jaccard:   exact set Jaccard on character shingles for candidate
                    pairs (the verification stage after LSH).
- embedding cosine: near-dup pairs above a cosine threshold.

Scale notes: minhash is explode(shingles) + groupBy(doc) — one shuffle
sized by total shingle count; LSH banding is explode(bands) + self-join
on (band, hash) — the join key distributes uniformly because it is a
hash.  The all-pairs operators (ngram_jaccard_pairs on explicit
candidates, embedding_neardup_pairs) take candidate sets, never cross
products, except embedding_neardup_pairs' documented brute-force mode for
small inputs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def normalize_text(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup: smallest id survives per normalized text.  One
    hash-groupBy; at 100 TB group on a 128-bit digest of the text instead
    of the text itself to shrink shuffle rows."""
    return (
        df.withColumn("_key", F.md5(normalize_text(text_col)))
        .groupBy("_key")
        .agg(
            F.min(id_col).alias(id_col),
            F.count("*").alias("n_copies"),
        )
        .drop("_key")
    )


def char_shingles_expr(text_sql: str, n: int = 5) -> Column:
    """Distinct character n-grams over the column named by `text_sql`
    (SQL fragment — substring with a variable start index is only
    available through SQL lambdas).  Strings shorter than n contribute
    one truncated shingle."""
    return F.expr(
        f"array_distinct(transform(sequence(1, greatest(length({text_sql}) - {n - 1}, 1)), "
        f"i -> substring({text_sql}, i, {n})))"
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    shingle_size: int = 5,
) -> DataFrame:
    """MinHash signatures: permutation i is the 8-hex-char slice
    ``substr(md5(g || ':' || shingle), off, 8)`` (g = i//4, off = 8*(i%4)+1)
    — four independent 32-bit permutations per md5 call, lexicographic min
    = numeric min on hex, engine-portable.  Plan: explode shingles
    (narrow) → single groupBy(id) computing all num_hashes mins map-side
    (partial aggregation) → one shuffle row per document."""
    from data_chunk_compaction_in_duckdb_spark.compaction import fan_out

    df = fan_out(df)  # md5-per-shingle is CPU-bound; widen 1-task scans
    sh = df.select(
        F.col(id_col),
        F.explode(char_shingles_expr(text_col, shingle_size)).alias("_sh"),
    )
    n_groups = (num_hashes + 3) // 4
    for g in range(n_groups):
        sh = sh.withColumn(
            f"_m{g}", F.md5(F.concat(F.lit(f"{g}:"), F.col("_sh")))
        )
    aggs = [
        F.min(F.substring(F.col(f"_m{i // 4}"), 8 * (i % 4) + 1, 8)).alias(
            f"sig_{i}"
        )
        for i in range(num_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    cache_signatures: bool = True,
) -> DataFrame:
    """LSH banding: hash each band (rows_per_band consecutive signature
    components) and self-join on (band index, band hash).  Returns
    distinct (id_a < id_b) candidate pairs with the estimated Jaccard
    (fraction of agreeing signature components).

    The signature relation is referenced bands+2 times (each band arm +
    both sides of the estimation join); without caching, Spark recomputes
    the explode+groupBy subtree for each — 10 exchanges instead of 4.
    Signatures are one short row per document (≪ corpus), so persisting
    them is the right call at any scale; disable via cache_signatures
    for one-shot pipelines."""
    if cache_signatures:
        sig_df = sig_df.persist()
    rows_per_band = num_hashes // bands
    # One posexplode over the per-row array of band hashes replaces the
    # bands-way union of arms: a single pass over the (persisted)
    # signatures emitting (id, band, hash) rows — same relation, one
    # scan instead of `bands`.
    band_hashes = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        f"sig_{i}"
                        for i in range(b * rows_per_band, (b + 1) * rows_per_band)
                    ],
                )
            )
            for b in range(bands)
        ]
    )
    all_bands = sig_df.select(
        F.col(id_col), F.posexplode(band_hashes).alias("_band", "_bh")
    )
    a, b_ = all_bands.alias("a"), all_bands.alias("b")
    pairs = (
        a.join(
            b_,
            (F.col("a._band") == F.col("b._band"))
            & (F.col("a._bh") == F.col("b._bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    sig_a = sig_df.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"sig_{i}").alias(f"_sa{i}") for i in range(num_hashes)],
    )
    sig_b = sig_df.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"sig_{i}").alias(f"_sb{i}") for i in range(num_hashes)],
    )
    est = pairs.join(sig_a, "id_a").join(sig_b, "id_b")
    agree = sum(
        F.when(F.col(f"_sa{i}") == F.col(f"_sb{i}"), 1).otherwise(0)
        for i in range(num_hashes)
    )
    return est.select(
        "id_a",
        "id_b",
        (agree / F.lit(float(num_hashes))).alias("est_jaccard"),
    )


def ngram_jaccard_pairs(
    candidates: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_jaccard: float | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate (id_a, id_b) pairs — the
    verification stage after LSH.  Shingle sets are joined in (two
    broadcast-able joins), Jaccard computed with array built-ins.

    With ``min_jaccard`` set, pairs are also filtered to that threshold
    — and, before the expensive intersection, pruned by the exact upper
    bound jaccard ≤ min(|A|,|B|)/max(|A|,|B|) using only the (already
    materialized) set sizes.  At a 0.5 threshold this typically discards
    most of a blocked candidate set for the cost of two ints."""
    sh = docs.select(
        F.col(id_col), char_shingles_expr(text_col, n).alias("_sh")
    )
    a = sh.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("_sha"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("_shb"))
    joined = candidates.join(a, "id_a").join(b, "id_b")
    if min_jaccard is not None:
        la, lb = F.size("_sha"), F.size("_shb")
        joined = joined.filter(
            F.least(la, lb).cast("double") / F.greatest(la, lb) >= min_jaccard
        )
    inter = F.size(F.array_intersect("_sha", "_shb"))
    union = F.size(F.array_union("_sha", "_shb"))
    out = joined.select(
        "id_a",
        "id_b",
        (inter.cast("double") / union).alias("jaccard"),
    )
    if min_jaccard is not None:
        out = out.filter(F.col("jaccard") >= min_jaccard)
    return out


def simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 32,
) -> DataFrame:
    """SimHash fingerprint: tokenize, 32-bit-hash each distinct token
    (portable md5 scheme), sum ±1 per bit position, fingerprint bit b = 1
    iff the sum is positive.  Near-dups have small
    bit_count(fp_a ^ fp_b).  One explode + one groupBy."""
    from data_chunk_compaction_in_duckdb_spark.functions.portable_hash import (
        hash32_expr,
    )

    toks = df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(F.split(normalize_text(text_col), " "))
        ).alias("_tok"),
    ).withColumn("_h", hash32_expr("_tok"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("_h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(
                -1
            )
        ).alias(f"_b{b}")
        for b in range(bits)
    ]
    sums = toks.groupBy(id_col).agg(*bit_sums)
    fp = sums.select(
        F.col(id_col),
        sum(
            (F.when(F.col(f"_b{b}") > 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
             * F.lit(1 << b).cast("long"))
            for b in range(bits)
        ).alias("simhash"),
    )
    return fp


def embedding_neardup_pairs(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding near-dup pairs: cosine ≥ threshold.  Brute-force
    all-pairs — callers MUST pre-bucket at scale (see
    similarity.lsh_ann_topk for the bucketed path); kept exact here
    because it is the verification oracle for the bucketed variant."""
    from data_chunk_compaction_in_duckdb_spark.pipeline.similarity import (
        cosine_similarity,
    )

    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", cosine_similarity(F.col("_va"), F.col("_vb")).alias("cosine")
        )
        .filter(F.col("cosine") >= threshold)
    )


def keep_representatives(
    df: DataFrame, dup_pairs: DataFrame, id_col: str
) -> DataFrame:
    """Drop every row that appears as the larger id of a duplicate pair —
    the smallest id of each duplicate group survives (single-link over
    direct pairs; run connected components via operators.recursive_cte
    for full transitive closure)."""
    losers = dup_pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def _assign_cells_arrow(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    cents: list[list[float]],
    n_assign: int,
    carry: bool = False,
) -> DataFrame:
    """IVF cell assignment as ONE Arrow pass: each batch of vectors is
    scored against the full centroid matrix in numpy with a
    dim-sequential left fold — ((0 + t0) + t1) + ... per (row, cell).
    Ranking is the oracle's (-dot, idx) ascending order:
    np.argsort(-dots, kind="stable") orders NaN last (Spark's
    NaN-greatest) and breaks exact ties by the lowest centroid index
    (stability == the idx tiebreak).  Both are pinned against a plain
    Python reference by tests/test_dedup_rerank_reference.py.  This
    removes the n*cells*dim interpreted-lambda cost that made the
    assignment the sf1 bottleneck (BENCH_sf1: 9.3x).

    Emits (_id, _cell) rows, ``n_assign`` per vector.  ``carry=True``
    adds the double-cast vector as ``_v`` so within-cell consumers need
    no join-back to the embedding table (one fewer corpus scan +
    join); float->double is an exact widening."""
    from pyspark.sql import types as T

    id_field = emb.schema[id_col]
    fields = [
        T.StructField("_id", id_field.dataType, True),
        T.StructField("_cell", T.IntegerType(), True),
    ]
    if carry:
        fields.append(T.StructField("_v", T.ArrayType(T.DoubleType()), True))
    out_schema = T.StructType(fields)
    names = [f.name for f in fields]
    cmat = [list(map(float, c)) for c in cents]

    def gen(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        cm = np.asarray(cmat, dtype=np.float64)
        k, dim = cm.shape
        take = min(n_assign, k)
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            # zero-copy flatten of the vector column (r10: the previous
            # mapInPandas form boxed every element through .tolist())
            tbl = pa.Table.from_batches([batch])
            ids = tbl.column(id_col).combine_chunks()
            arr = tbl.column(vec_col).combine_chunks()
            flat = arr.flatten().to_numpy(zero_copy_only=False)
            vecs = flat.astype(np.float64, copy=False).reshape(n, -1)
            dots = np.zeros((n, k))
            for j in range(dim):
                dots = dots + vecs[:, j][:, None] * cm[:, j][None, :]
            order = np.argsort(-dots, axis=1, kind="stable")[:, :take]
            idx = pa.array(np.repeat(np.arange(n), take))
            cols = [ids.take(idx), pa.array(order.reshape(-1).astype("int32"))]
            if carry:
                cols.append(pc.cast(arr, pa.list_(pa.float64())).take(idx))
            yield pa.record_batch(cols, names=names)

    return emb.select(id_col, vec_col).mapInArrow(gen, out_schema)


def semantic_ivf_neardup_pairs(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_clusters: int = 8,
    n_assign: int = 2,
    threshold: float = 0.9,
) -> DataFrame:
    """Semantic near-dup pairs via IVF cell bucketing — the 100 TB scale
    path for ``embedding_neardup_pairs``: each vector is assigned to its
    ``n_assign`` nearest Voronoi cells (multi-assign so near-boundary
    pairs are not lost) and exact cosine confirms within-cell pairs.
    Per-cell candidate volume is ~(n/k)^2 instead of n^2.

    Cell assignment ranks struct(-dot, idx) ascending over deterministic
    md5 centroids (``_assign_cells_arrow``), so ties replay identically
    in DuckDB's list_sort (lexicographic struct order) — which is what
    makes this approximate operator fully oracle-pairable (unlike LSH
    ANN, whose per-table multi-probe union has no compact SQL form).
    The assignment carries each vector, so confirmation needs no
    join-back to ``emb``.

    Confirmation is groupBy(_cell).applyInArrow (``_cell_rerank_pairs``):
    each cell's vectors cross the Arrow boundary ONCE (n*n_assign rows
    total, not once per candidate pair) and the pairwise cosine matrix
    is computed in numpy with a dim-sequential left fold.  Measured at
    sf1 (20k vectors, 8 cells, 3.9M output pairs): 136 s -> 47 s against
    a per-pair expression rerank; the interpreted per-pair lambda cost
    (~50 us/pair — Catalyst has no HOF codegen) was the gap, and the
    remaining cost is the 8-task parallelism floor of 8 oversized cells.  Kernel memory is
    O(cell_size^2) doubles — hold the documented cells ∝ corpus rule and
    both memory and parallelism stay flat."""
    from data_chunk_compaction_in_duckdb_spark.pipeline.similarity import (
        _centroid,
    )

    cents = [_centroid(dim, i) for i in range(n_clusters)]
    cv = _assign_cells_arrow(emb, id_col, vec_col, cents, n_assign, carry=True)
    return _cell_rerank_pairs(emb, cv, id_col, threshold)


def _cell_rerank_pairs(
    emb: DataFrame,
    cv: DataFrame,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Within-cell pairwise-cosine confirmation as ONE Arrow batch per
    cell (see semantic_ivf_neardup_pairs).  ``cv`` is the carrying
    assignment kernel's (_id, _cell, _v: array<double>) relation.  The
    numpy kernel sums dots and norms dim-sequentially — ((0 + t0) + t1)
    + ... — so every cosine is bit-identical to a plain left-fold loop
    (pinned by tests/test_dedup_rerank_reference.py); the registry
    oracle checks the ROUND(c, 4) the queries apply against DuckDB."""
    from pyspark.sql import types as T

    id_field = emb.schema[id_col]
    out_schema = T.StructType(
        [
            T.StructField("id_a", id_field.dataType, True),
            T.StructField("id_b", id_field.dataType, True),
            T.StructField("cosine", T.DoubleType(), True),
        ]
    )

    def pairs_in_cell(tbl):
        import numpy as np
        import pyarrow as pa

        n = tbl.num_rows
        empty = pa.table(
            {
                "id_a": pa.array([], tbl.schema.field("_id").type),
                "id_b": pa.array([], tbl.schema.field("_id").type),
                "cosine": pa.array([], pa.float64()),
            }
        )
        if n < 2:
            return empty
        ids = tbl.column("_id").to_numpy(zero_copy_only=False)
        # zero-copy list flatten (uniform-length, non-null vectors) —
        # boxing every element through to_pylist was measurable at sf1
        varr = tbl.column("_v").combine_chunks()
        flat = varr.flatten().to_numpy(zero_copy_only=False)
        vecs = flat.astype(np.float64, copy=False).reshape(n, -1)
        dim = vecs.shape[1]
        nrm = np.zeros(n)
        for j in range(dim):
            nrm = nrm + vecs[:, j] * vecs[:, j]
        nrm = np.sqrt(nrm)
        dots = np.zeros((n, n))
        for j in range(dim):
            dots = dots + vecs[:, j][:, None] * vecs[:, j][None, :]
        den = nrm[:, None] * nrm[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = dots / den
        # Degenerate-input semantics (DuckDB's x/0.0 and NaN order),
        # pinned by tests/test_dedup_rerank_reference.py:
        #  - zero-norm vector -> denominator 0 -> DuckDB x/0.0 is NULL
        #    -> pair DROPPED;
        #  - NaN element with nonzero norms -> cosine NaN -> both engines
        #    order NaN greater than any double -> `>= threshold` KEEPS it.
        # numpy's `>=` is False for NaN, so pass NaN explicitly, then
        # mask out the zero-denominator pairs.
        # mask the exact-zero denominator only: 0*NaN is NaN, so such
        # pairs stay NaN-kept
        keep = ((cos >= threshold) | np.isnan(cos)) & (den != 0.0)
        ia, ib = np.where((ids[:, None] < ids[None, :]) & keep)
        # Arrow, not pandas: the pandas->Arrow conversion turns float
        # NaN into NULL, which would silently rewrite the kept
        # NaN-cosine pairs to NULL cosine (diverging from DuckDB, which
        # emits NaN).
        return pa.table(
            {
                "id_a": pa.array(ids[ia]),
                "id_b": pa.array(ids[ib]),
                "cosine": pa.array(cos[ia, ib], pa.float64()),
            }
        )

    # a pair sharing several assigned cells appears once per shared
    # cell with the identical cosine — dropDuplicates on the ids alone
    return (
        cv.groupBy("_cell")
        .applyInArrow(pairs_in_cell, out_schema)
        .dropDuplicates(["id_a", "id_b"])
    )


def repeated_ngram_spans(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 6,
    min_docs: int = 2,
) -> DataFrame:
    """Exact-substring dedup, detection stage (the distributed analog of
    suffix-array exact-substring dedup a la Lee et al. 2022): word
    n-gram spans that occur in >= ``min_docs`` distinct documents, with
    occurrence counts and the first containing document.

    Scale shape: one explode + one hash groupBy on the gram — map-side
    partial aggregation collapses within-partition repeats before the
    shuffle, and the result is bounded by corpus redundancy (distinct
    repeated spans), not corpus size.  At 100 TB group on a 128-bit
    digest of the gram instead of the gram text to shrink shuffle rows,
    exactly as ``dedup_exact`` documents.

    The gram-building projection is CPU-bound, so the scan is widened
    with ``fan_out`` first (a no-op on already-parallel cluster scans;
    measured 3.2 s -> 0.8 s at sf0.1 on a single-file local scan).
    Grams come from the JVM HOF expression ``word_ngrams``; an Arrow
    gram kernel measured 5-15 % slower at fixture doc sizes
    (OPTIMIZATION_r10.md §5)."""
    from data_chunk_compaction_in_duckdb_spark.compaction import fan_out
    from data_chunk_compaction_in_duckdb_spark.pipeline.text import word_ngrams

    grams = fan_out(docs).select(
        F.col(id_col),
        F.explode(word_ngrams(text_col, n, distinct=False)).alias("gram"),
    )
    return (
        grams.groupBy("gram")
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.count("*").alias("occurrences"),
            F.min(id_col).alias("first_doc"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def duplicate_gram_fraction(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 6,
    min_docs: int = 2,
) -> DataFrame:
    """Exact-substring dedup, scoring stage: per document, the fraction
    of its word n-gram spans (with multiplicity) that are cross-document
    repeats — the actionable filter column (drop or trim documents whose
    duplicated-span coverage exceeds a budget).

    The repeated-span dictionary is the detection stage's output keyed
    only by gram; candidates stream through one equi-join + one groupBy,
    so the shape is identical to benchmark decontamination and holds at
    100 TB.  The dictionary subtree shares the gram scan with the probe
    side — Catalyst evaluates it twice (once to build, once to probe),
    which beats persisting the exploded stream at scale."""
    from data_chunk_compaction_in_duckdb_spark.compaction import fan_out
    from data_chunk_compaction_in_duckdb_spark.pipeline.text import word_ngrams

    grams = fan_out(docs).select(
        F.col(id_col),
        F.explode(word_ngrams(text_col, n, distinct=False)).alias("gram"),
    )
    rep = repeated_ngram_spans(docs, id_col, text_col, n, min_docs).select(
        "gram", F.lit(1).alias("_hit")
    )
    return (
        grams.join(rep, "gram", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.count("_hit").alias("n_dup"),
            F.round(
                F.count("_hit").cast("double") / F.count("*"), 6
            ).alias("dup_fraction"),
        )
    )
