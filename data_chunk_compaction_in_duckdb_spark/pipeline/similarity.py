"""Similarity search over embedding columns (array<float>).

- cosine_similarity: pure-built-in column expression (zip_with +
  aggregate) — JVM-side, no Python, double precision.
- topk_similar: brute-force top-k of every query vector against the
  corpus.  The query side is broadcast (queries << corpus), so the plan
  is a broadcast nested-loop + per-query window top-k: one corpus scan,
  no shuffle of the corpus — the exact baseline an ANN index must beat.
- lsh_ann_topk: random-hyperplane LSH bucketing as the scale path:
  vectors hash to sign-pattern buckets; candidates = bucket collisions
  (multi-probe over `n_tables` independent tables); exact cosine re-ranks
  candidates only.  Hyperplanes are derived deterministically from the
  portable 32-bit hash, so results are reproducible across runs/engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


# Input-size cap for fan_out ahead of vectorized Arrow kernels (r10):
# one task per ~8 MB of estimated input, never more than the scheduler
# slots.  The numpy kernels do near-constant work per row, so finer
# splits only multiply Python-task fixed costs (guide §2.2); on a real
# cluster scans already carry many partitions and fan_out is a no-op.
VEC_KERNEL_BYTES_PER_TASK = 8 * 1024 * 1024


def _sql_doubles(vals: list[float]) -> str:
    """``array(<double literals>)`` SQL text for a Python float list.

    Literal text is the shortest round-trip ``repr`` — Java's
    ``Double.parseDouble`` maps it back to the identical IEEE double, so
    the parsed Literal is bit-equal to ``F.lit(float(v))`` (pinned by
    tests/test_pipeline.py::test_literal_array_bitexact)."""
    parts = []
    for v in vals:
        x = float(v)
        r = repr(x)
        if x != x or x in (float("inf"), float("-inf")):
            parts.append(f"CAST('{r}' AS DOUBLE)")
        elif "e" in r or "E" in r:
            parts.append(r)  # exponent literals parse as DOUBLE
        else:
            parts.append(r + "D")
    return "array(" + ",".join(parts) + ")"


def lit_double_array(vals: list[float]) -> Column:
    """Literal ``array<double>`` built by ONE ``F.expr`` parse.

    Driver-cost discipline (guide §1.2 step 2 applied to the *driver*):
    the ``F.array(*[F.lit(v) ...])`` form issues one py4j round-trip per
    element — a 16x64 centroid matrix cost ~1.1 s of pure driver time
    PER BUILDER INVOCATION (measured sf0.1, quiet box), dominating the
    ANN query wall-clock.  One parsed SQL string is ~50x cheaper and
    yields bit-identical Literal nodes."""
    return F.expr(_sql_doubles(vals))


def lit_double_matrix(rows: list[list[float]]) -> Column:
    """Literal ``array<array<double>>`` built by ONE ``F.expr`` parse
    (see lit_double_array for why)."""
    return F.expr("array(" + ",".join(_sql_doubles(r) for r in rows) + ")")


def _literal_dot(vec: Column, vals: list[float], offset: int = 0) -> Column:
    """Dot of ``vec[offset+1 .. offset+len(vals)]`` with a Python-literal
    vector: zip_with + left-fold aggregate, the bit-replayable reduction
    every DuckDB oracle mirrors (``list_dot_product`` adds in the same
    order for these lengths)."""
    cen = lit_double_array(vals)
    # slice unconditionally: at offset 0 a vals shorter than the vector
    # would otherwise zip_with null-padding and collapse the fold to
    # NULL instead of the dot over the first len(vals) elements
    subv = F.slice(vec, offset + 1, len(vals))
    return F.aggregate(
        F.zip_with(subv, cen, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _codebook_scores(
    vec: Column, offset: int, subdim: int, book: list[list[float]]
) -> Column:
    """array<struct<d,i>> of ``-2*dot(subvec, c) + ||c||^2`` scores, one
    per codebook entry, built as ONE transform over a literal
    array-of-arrays instead of ``k`` separate expression trees.

    Expression-count discipline learned at sf0.1: materializing m*k
    separate dot expressions (256 for the ADC default) made Catalyst
    analysis + codegen the bottleneck — ~10 s for 2,000 rows, with the
    fully unrolled element_at variant breaking janino's method limit and
    falling back to interpreted evaluation anyway.  One HOF per subspace
    keeps the plan tree small; the inner arithmetic (zip_with dot,
    left-fold sum) is unchanged, so the DuckDB oracle replay stays
    bit-identical."""
    books_lit = lit_double_matrix(book)
    norms_lit = lit_double_array([sum(v * v for v in c) for c in book])
    subv = F.slice(vec, offset + 1, subdim)

    def entry(cen: Column, i: Column) -> Column:
        dot = F.aggregate(
            F.zip_with(subv, cen, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return F.struct(
            (dot * F.lit(-2.0) + F.element_at(norms_lit, i + 1)).alias("d"),
            i.cast("int").alias("i"),
        )

    return F.transform(books_lit, entry)


def _vec_norm(col: Column) -> Column:
    """sqrt of the left-fold sum of squares — exactly the na/nb term of
    cosine_similarity, exposed so candidate-join reranks can hoist it to
    once per vector instead of once per pair (the hoisted value is
    bit-identical; only the evaluation count changes)."""
    return F.sqrt(
        F.aggregate(
            F.transform(col, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def _vec_dot(a: Column, b: Column) -> Column:
    """Left-fold dot product — the dot term of cosine_similarity."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<numeric> columns, computed in
    double.  Built-in expressions only; no UDF.  Candidate-join reranks
    should hoist _vec_norm per side instead of calling this per pair."""
    return _vec_dot(a, b) / (_vec_norm(a) * _vec_norm(b))


def topk_per_query(
    scored: DataFrame,
    k: int,
    value_col: str = "cosine",
    ascending: bool = False,
    key_col: str = "query_id",
    tiebreak_col: str = "match_id",
    drop_rank: bool = True,
    rank_col: str = "_rn",
) -> DataFrame:
    """Scale-safe per-query top-k over a scored pair stream.

    A plain ``Window.partitionBy(query_id)`` row_number ranks the FULL
    pair stream in one task per query — with a small query set each task
    receives the whole corpus's scores (the reference never has this
    problem: its per-thread hash-join probe merges bounded chunks,
    physical_hash_join.cpp).  Two phases restore bounded task input:

    1. **partial**: per input partition, keep each query's local top-k
       (``mapInArrow``; incremental merge across batches keeps state at
       |Q|*k rows).  No shuffle — runs where the scores were produced.  Selection only: every surviving row's values are the
       untouched upstream expressions, so oracle bit-identity holds.
    2. **merge**: the exact row_number window over the survivor set,
       now bounded by n_partitions * k per query.

    The partial's ordering replicates Spark's total order exactly:
    ``desc`` = NaN first (NaN is greatest), then values descending,
    NULLs last; ``asc`` = NULLs first, values ascending, NaN last; ties
    broken by ``tiebreak_col`` ascending — so partial-then-merge returns
    the identical row set as the single window (pinned by
    tests/test_similarity_topk_twophase.py::
    test_two_phase_equals_single_window).  The kernel runs on
    ``mapInArrow`` rather than pandas because Arrow's validity mask is
    the only thing that keeps NULL and NaN doubles distinguishable
    across the Python boundary."""

    def _local_topk(cur):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        vals = cur[value_col].combine_chunks()
        null_mask = np.asarray(
            pc.is_null(vals).to_numpy(zero_copy_only=False),
            dtype=bool,
        )
        v = np.asarray(
            vals.to_numpy(zero_copy_only=False), dtype=np.float64
        )
        if ascending:
            nullk = np.where(null_mask, 0, 1)  # NULLS FIRST
            vk = np.where(null_mask, 0.0, np.where(np.isnan(v), np.inf, v))
        else:
            nullk = np.where(null_mask, 1, 0)  # NULLS LAST
            # negate so one ascending lexsort handles both directions;
            # NaN (greatest under desc) maps to -inf -> first
            vk = np.where(null_mask, 0.0, np.where(np.isnan(v), -np.inf, -v))
        tie = cur[tiebreak_col].combine_chunks().to_numpy(
            zero_copy_only=False
        )
        keys = cur[key_col].combine_chunks().to_numpy(zero_copy_only=False)
        order = np.lexsort((tie, vk, nullk))
        # regroup the value-ordered rows by key (stable, so within-key
        # value order survives) — without this, keys interleaved in
        # value order reset the run-based rank at every row and the
        # partial keeps EVERYTHING (measured: zero pruning on a
        # multi-query stream, i.e. the merge window degenerated back
        # into the single-partition funnel this two-phase exists to
        # avoid)
        order = order[np.argsort(keys[order], kind="stable")]
        sk = keys[order]
        n = len(order)
        change = np.r_[True, sk[1:] != sk[:-1]] if n else np.array([], bool)
        grp_start = np.maximum.accumulate(
            np.where(change, np.arange(n), 0)
        )
        rank = np.arange(n) - grp_start
        keep = np.sort(order[rank < k])
        return cur.take(pa.array(keep))

    def part_topk(batches):
        import pyarrow as pa

        state = None
        for batch in batches:
            if batch.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([batch])
            cur = (
                tbl
                if state is None
                else pa.concat_tables([state, tbl]).combine_chunks()
            )
            state = _local_topk(cur)
        if state is not None and state.num_rows:
            yield from state.to_batches()

    survivors = scored.mapInArrow(part_topk, scored.schema)
    order = (
        F.col(value_col).asc() if ascending else F.col(value_col).desc()
    )
    w = Window.partitionBy(key_col).orderBy(order, F.col(tiebreak_col))
    ranked = survivors.withColumn(rank_col, F.row_number().over(w)).filter(
        F.col(rank_col) <= k
    )
    return ranked.drop(rank_col) if drop_rank else ranked


def topk_similar(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str | None = None,
    k: int = 5,
) -> DataFrame:
    """Exact brute-force top-k: for each query vector, the k most cosine-
    similar corpus vectors (excluding itself when ids collide).
    Deterministic tiebreak (similarity desc, corpus id asc).

    Collects the query set driver-side (|Q| x dim doubles — the same
    bounded model-size contract as ``build_adc_luts``) and fuses scoring
    + the per-partition top-k prune into ONE ``mapInArrow`` pass over
    the corpus: no join, no per-pair interpreted HOF fold — each
    partition emits at most |Q| * k rows into the exact merge window.
    The numpy kernel's FP semantics: dim-sequential left-fold dots and
    norms, NULL on a zero denominator (Spark's non-ANSI ``/`` and
    DuckDB's ``x/0.0``), NaN pass-through ranked first — pinned against
    a plain Python reference by
    tests/test_similarity_topk_twophase.py::test_topk_similar_matches_python_reference.
    Corpus-side cost and shuffle shape: one scan, no corpus shuffle
    (fan_out's widening aside), partial-before-merge."""
    qid = query_id_col or id_col
    from data_chunk_compaction_in_duckdb_spark.compaction import fan_out

    # the numpy kernel's per-row work is tiny — cap the widening by
    # input size so a few-MB corpus is not split into 32 Python
    # tasks of pure fixed cost (r10 A/B; see fan_out's docstring).
    # Partitioning cannot change the result: the per-partition
    # prune keeps a superset of the global top-k at any split.
    corpus = fan_out(corpus, bytes_per_task=VEC_KERNEL_BYTES_PER_TASK)
    return _topk_similar_arrow(corpus, queries, id_col, vec_col, qid, k)


def _topk_similar_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    qid: str,
    k: int,
) -> DataFrame:
    """Fused scoring + per-partition top-k kernel for ``topk_similar``
    (see its docstring for the contract and FP-semantics guarantees)."""
    from pyspark.sql import types as T

    qrows = queries.select(F.col(qid), F.col(vec_col)).collect()
    qids_py = [r[0] for r in qrows]
    qvecs = [[float(x) for x in r[1]] for r in qrows]
    out_schema = T.StructType(
        [
            T.StructField("query_id", queries.schema[qid].dataType, True),
            T.StructField("match_id", corpus.schema[id_col].dataType, True),
            T.StructField("cosine", T.DoubleType(), True),
        ]
    )

    def score_parts(batches):
        import numpy as np
        import pyarrow as pa

        if not qids_py:
            return
        qv = np.array(qvecs, dtype=np.float64)
        nq, dim = qv.shape
        qn_sq = np.zeros(nq)
        for j in range(dim):  # dim-sequential left fold
            qn_sq = qn_sq + qv[:, j] * qv[:, j]
        qn = np.sqrt(qn_sq)
        qids = np.array(qids_py)
        state = None  # (qid_idx, mids, vals, null_mask) survivor arrays

        def prune(qidx, mids, vals, nullm):
            nullk = np.where(nullm, 1, 0)  # NULLs last
            vk = np.where(
                nullm, 0.0, np.where(np.isnan(vals), -np.inf, -vals)
            )  # desc; NaN first
            order = np.lexsort((mids, vk, nullk))
            order = order[np.argsort(qidx[order], kind="stable")]
            sq = qidx[order]
            n = len(order)
            change = (
                np.r_[True, sq[1:] != sq[:-1]] if n else np.array([], bool)
            )
            grp_start = np.maximum.accumulate(
                np.where(change, np.arange(n), 0)
            )
            keep = order[(np.arange(n) - grp_start) < k]
            return qidx[keep], mids[keep], vals[keep], nullm[keep]

        for batch in batches:
            if batch.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([batch])
            mids = tbl.column(id_col).to_numpy(zero_copy_only=False)
            arr = tbl.column(vec_col).combine_chunks()
            flat = arr.flatten().to_numpy(zero_copy_only=False)
            cv = flat.astype(np.float64, copy=False).reshape(
                tbl.num_rows, -1
            )
            dots = np.zeros((nq, tbl.num_rows))
            cn_sq = np.zeros(tbl.num_rows)
            for j in range(dim):  # same sequential fold
                dots = dots + qv[:, j][:, None] * cv[:, j][None, :]
                cn_sq = cn_sq + cv[:, j] * cv[:, j]
            den = qn[:, None] * np.sqrt(cn_sq)[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dots / den
            iq, im = np.where(qids[:, None] != mids[None, :])
            qidx, bm, bv, bn = prune(
                iq, mids[im], cos[iq, im], den[iq, im] == 0.0
            )
            if state is not None:
                qidx = np.concatenate([state[0], qidx])
                bm = np.concatenate([state[1], bm])
                bv = np.concatenate([state[2], bv])
                bn = np.concatenate([state[3], bn])
                qidx, bm, bv, bn = prune(qidx, bm, bv, bn)
            state = (qidx, bm, bv, bn)
        if state is not None and len(state[0]):
            qidx, bm, bv, bn = state
            yield pa.record_batch(
                [
                    pa.array(qids[qidx]),
                    pa.array(bm),
                    pa.array(bv, pa.float64(), mask=bn),
                ],
                names=["query_id", "match_id", "cosine"],
            )

    survivors = corpus.select(F.col(id_col), F.col(vec_col)).mapInArrow(
        score_parts, out_schema
    )
    # exact merge window over the bounded survivor set (the partial
    # prune above already enforced topk_per_query's total order)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("match_id")
    )
    return (
        survivors.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def _hyperplane(dim: int, table: int, plane: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane components in
    [-1, 1), derived from md5 — reproducible everywhere."""
    import hashlib

    out = []
    for i in range(dim):
        h = hashlib.md5(f"{table}:{plane}:{i}".encode()).hexdigest()[:8]
        out.append((int(h, 16) / 2**31) - 1.0)
    return out


def add_lsh_buckets(
    df: DataFrame,
    vec_col: str,
    dim: int,
    n_planes: int = 8,
    n_tables: int = 2,
) -> DataFrame:
    """Append `n_tables` sign-pattern bucket columns (_lsh_t{t}).  Bucket
    computation is a fixed linear algebra expression over array literals —
    JVM-side, one pass, no shuffle."""
    out = df
    for t in range(n_tables):
        bits = []
        for p in range(n_planes):
            dot = _literal_dot(F.col(vec_col), _hyperplane(dim, t, p))
            bits.append(F.when(dot >= 0, F.lit(1 << p)).otherwise(F.lit(0)))
        out = out.withColumn(f"_lsh_t{t}", sum(bits).cast("int"))
    return out


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    query_id_col: str | None = None,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 2,
    multiprobe: bool = True,
) -> DataFrame:
    """Approximate top-k: candidates share an LSH bucket with the query in
    any table; exact cosine re-ranks candidates.  Corpus-side cost is one
    bucket computation + an equi-join per table on the bucket id — the
    100 TB path (the brute-force NL join never materializes).

    With ``multiprobe`` the *query* side also probes every bucket at
    hamming distance 1 (n_planes extra probes per query — queries are the
    small side, so this multiplies the broadcast, never the corpus),
    sharply raising recall on near-orthogonal embeddings where exact
    buckets starve.  Tests assert recall ≥ 0.5 vs brute-force at the
    defaults on random 64-dim vectors."""
    from data_chunk_compaction_in_duckdb_spark.compaction import fan_out

    qid = query_id_col or id_col
    # bucket dots + the per-candidate exact cosine are CPU-bound — widen
    # a 1-task local scan (no-op on a many-partition cluster scan)
    corpus = fan_out(corpus)
    cb = add_lsh_buckets(
        corpus.select(F.col(id_col).alias("match_id"), F.col(vec_col).alias("_cv")),
        "_cv",
        dim,
        n_planes,
        n_tables,
    )
    qb = add_lsh_buckets(
        queries.select(F.col(qid).alias("query_id"), F.col(vec_col).alias("_qv")),
        "_qv",
        dim,
        n_planes,
        n_tables,
    )
    # norms hoisted to once per vector (bit-identical to the per-pair
    # cosine_similarity terms; only the evaluation count changes)
    cb = cb.withColumn("_cn", _vec_norm(F.col("_cv")))
    qb = qb.withColumn("_qn", _vec_norm(F.col("_qv")))
    # ONE melted (table_id, bucket) join instead of a per-table
    # join+union: the union form re-executed the corpus scan and bucket
    # computation once per table (no subtree reuse across union
    # branches) — melting via explode buckets the corpus exactly once,
    # and the candidate set is identical (same-bucket-in-same-table,
    # deduped after).  The explode multiplies ROWS by n_tables but the
    # corpus is scanned and hashed once — at 100 TB that halves (for
    # n_tables=2) the dominant cost.
    c_long = cb.select(
        "match_id",
        "_cv",
        "_cn",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("_t"),
                        F.col(f"_lsh_t{t}").alias("_bk"),
                    )
                    for t in range(n_tables)
                ]
            )
        ).alias("_tb"),
    ).select("match_id", "_cv", "_cn", "_tb._t", "_tb._bk")
    q_probe_structs = []
    for t in range(n_tables):
        bucket = F.col(f"_lsh_t{t}")
        probes = (
            [bucket]
            + [bucket.bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)]
            if multiprobe
            else [bucket]
        )
        q_probe_structs += [
            F.struct(F.lit(t).alias("_t"), pb.alias("_bk")) for pb in probes
        ]
    q_long = qb.select(
        "query_id",
        "_qv",
        "_qn",
        F.explode(F.array(*q_probe_structs)).alias("_tb"),
    ).select("query_id", "_qv", "_qn", "_tb._t", "_tb._bk")
    cands = c_long.join(F.broadcast(q_long), ["_t", "_bk"]).drop(
        "_t", "_bk"
    )
    cands = cands.filter(F.col("query_id") != F.col("match_id")).dropDuplicates(
        ["query_id", "match_id"]
    )
    scored = cands.select(
        "query_id",
        "match_id",
        (
            _vec_dot(F.col("_qv"), F.col("_cv"))
            / (F.col("_qn") * F.col("_cn"))
        ).alias("cosine"),
    )
    return topk_per_query(scored, k)


def _centroid(dim: int, idx: int) -> list[float]:
    """Deterministic pseudo-random centroid direction (md5-derived,
    reproducible everywhere — same scheme as _hyperplane)."""
    import hashlib

    out = []
    for i in range(dim):
        h = hashlib.md5(f"ivf:{idx}:{i}".encode()).hexdigest()[:8]
        out.append((int(h, 16) / 2**31) - 1.0)
    return out


def _nearest_clusters(
    vec_col: str,
    dim: int,
    n_clusters: int,
    centroids: list[list[float]] | None = None,
) -> Column:
    """Array of cluster ids, nearest first: ascending (-dot(v, centroid),
    id), so ties go to the lower id and NaN dots come last (Spark orders
    NaN above every number) — the oracle's ``list_sort(struct(-dot, i))``
    order.  One fixed linear-algebra expression, JVM-side, no shuffle.
    Default centroids are the deterministic md5 directions; pass the
    output of ``train_ivf_centroids`` for data-adapted cells."""
    cents = centroids or [_centroid(dim, i) for i in range(n_clusters)]
    # one transform over the literal centroid matrix, not n_clusters
    # separate dot expressions — see _codebook_scores for why; built by
    # one F.expr parse — see lit_double_matrix for why
    cents_lit = lit_double_matrix(cents)

    def entry(cen: Column, i: Column) -> Column:
        dot = F.aggregate(
            F.zip_with(
                F.col(vec_col), cen, lambda x, y: x.cast("double") * y
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return F.struct((-dot).alias("negdot"), i.cast("int").alias("idx"))

    ranked = F.sort_array(F.transform(cents_lit, entry))
    return F.transform(ranked, lambda s: s.idx)


def _unit_vec(v: list[float], fallback: list[float] | None = None) -> list[float]:
    """v / ||v||; zero-norm (or non-finite) vectors return ``fallback``
    (or v itself when no fallback is given)."""
    import math

    n = math.sqrt(sum(x * x for x in v))
    if not (n > 0.0 and math.isfinite(n)):
        return fallback if fallback is not None else v
    return [x / n for x in v]


def train_ivf_centroids(
    corpus: DataFrame,
    vec_col: str,
    dim: int,
    n_clusters: int = 16,
    n_iter: int = 5,
) -> list[list[float]]:
    """Distributed Lloyd (k-means) iterations to adapt the IVF centroids
    to the data — spherical k-means on dot-product assignment, matching
    the probe metric.

    Each iteration is ONE distributed pass: assign every vector to its
    nearest current centroid (narrow JVM expression), then groupBy cell
    and element-wise AVG each of the ``dim`` components (map-side
    partials).  Only the ``n_clusters × dim`` means come back to the
    driver — bounded by the model size, never by the data, so the loop
    is cluster-scale safe (same contract as any ML fit).  Init is the
    deterministic md5 directions, so training is reproducible run-to-run
    on the same data (the recall pytest pins it).

    This is *spherical* k-means (Dhillon & Modha 2001): centroids are
    kept unit-norm (normalized init, normalized-mean update).  Over
    unit centroids the normalized mean maximizes each cell's total dot,
    so the total assignment dot is monotone non-decreasing per
    iteration — the property the driver-checkable self-check query
    (``sim_ivf_trained_selfcheck``) verifies on each engine's own
    trained artifact.  A raw-mean update has no such guarantee under
    max-dot assignment (measured: total dot *decreased*, because the
    md5 directions have ~4.6x the norm of a data mean)."""
    cents = [_unit_vec(_centroid(dim, i)) for i in range(n_clusters)]
    for _ in range(n_iter):
        cell = _nearest_clusters(vec_col, dim, n_clusters, cents)[0]
        means = (
            corpus.select(cell.alias("_cell"), F.col(vec_col).alias("_v"))
            .groupBy("_cell")
            .agg(
                *[
                    F.avg(F.col("_v")[i].cast("double")).alias(f"m{i}")
                    for i in range(dim)
                ]
            )
            .collect()
        )
        got = {
            int(r["_cell"]): [float(r[f"m{i}"]) for i in range(dim)]
            for r in means
        }
        # empty or zero-norm cells keep their previous direction
        # (standard Lloyd fix)
        cents = [
            _unit_vec(got[i], fallback=cents[i]) if i in got else cents[i]
            for i in range(n_clusters)
        ]
    return cents


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    query_id_col: str | None = None,
    k: int = 5,
    n_clusters: int = 16,
    n_probe: int = 4,
    centroids: list[list[float]] | None = None,
    corpus_cells: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN (the other scale path next to lsh_ann_topk):
    partition the corpus into ``n_clusters`` Voronoi cells of fixed
    deterministic centroid directions; each query probes only its
    ``n_probe`` nearest cells; exact cosine re-ranks the candidates.

    Corpus-side cost: ONE pass to assign cells (no shuffle — the cell id
    is a narrow column), then an equi-join on cell id with the broadcast
    query probes.  At 100 TB the cell assignment is the partition prune:
    a corpus bucketed/partitioned by `_cell` on disk turns every query
    into an n_probe/n_clusters fraction scan.  Default centroids are the
    deterministic md5 directions (reproducible with zero training);
    pass ``centroids=train_ivf_centroids(...)`` for data-adapted cells —
    training is itself deterministic (fixed init + exact means), so
    reproducibility is kept.  Recall vs brute force is pinned by test.

    Scoring is a numpy kernel chosen by the input: an ad-hoc corpus
    takes ``_ivf_fused_topk`` (one pass), a stored ``corpus_cells``
    relation takes ``_ivf_cogroup_rerank`` (per-cell cogroup).  Both
    cross the Arrow boundary once per vector or probe, never once per
    pair, and share one FP contract: dim-sequential left-fold dots and
    norms, NULL on a zero denominator (both engines' x/0.0) and NaN
    pass-through ranked first — pinned against a plain Python reference
    by tests/test_pipeline.py::test_ivf_ann_topk_matches_python_reference."""
    qid = query_id_col or id_col
    from data_chunk_compaction_in_duckdb_spark.compaction import fan_out

    # widen a 1-task local scan for the assignment kernel, capped by
    # input size (r10): every corpus-side pass here is a vectorized
    # numpy kernel, so slot-count splits of a few-MB input are pure
    # task overhead (interleaved A/B: 0.82 -> 0.56 s med at sf0.1)
    corpus = fan_out(corpus, bytes_per_task=VEC_KERNEL_BYTES_PER_TASK)
    cents = centroids or [_centroid(dim, i) for i in range(n_clusters)]
    if corpus_cells is None:
        # Ad-hoc corpus (cells computed on the fly): ONE fused Arrow
        # pass — assign cells, filter candidates against the broadcast
        # probe set, score, per-partition top-k — instead of
        # assignment + id join-back + cell cogroup, which executed the
        # widened corpus subtree 4x across AQE stages (guide §2.4).
        # Its assignment ranking is _assign_cells_arrow's, i.e. the
        # oracle's list_sort(struct(-dot, i)) order.
        return _ivf_fused_topk(
            corpus, queries, id_col, vec_col, qid, k, cents, n_probe
        )
    # ``corpus_cells`` (an (id, _cell) relation, e.g. IVFIndex's
    # versioned store) skips the assignment entirely — at 100 TB it IS
    # materialized at ingest (the partition-prune layout) and never
    # recomputed per query.  The id join-back is co-partitioned narrow
    # traffic.
    cells = corpus_cells.select(F.col(id_col).alias("match_id"), "_cell")
    cb = corpus.select(
        F.col(id_col).alias("match_id"), F.col(vec_col).alias("_cv")
    ).join(cells, "match_id")
    qb = queries.select(
        F.col(qid).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        F.explode(
            F.slice(
                _nearest_clusters(vec_col, dim, n_clusters, centroids),
                1,
                n_probe,
            )
        ).alias("_cell"),
    )
    scored = _ivf_cogroup_rerank(
        cb.select("_cell", "match_id", "_cv"),
        qb.select("_cell", "query_id", "_qv"),
        corpus.schema[id_col].dataType,
        k,
    )
    return topk_per_query(scored, k)


def _ivf_fused_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    qid: str,
    k: int,
    cents: list[list[float]],
    n_probe: int,
) -> DataFrame:
    """Fused ad-hoc IVF top-k (see ivf_ann_topk): one ``mapInArrow``
    pass over the corpus assigns each vector's top-1 cell, keeps the
    (query, match) pairs whose cell is in the query's ``n_probe`` probe
    set, scores them, and prunes to per-partition top-k.

    Exactness contracts (each replicating the path it replaces):

    - corpus cell and query probes share one ranking,
      ``np.argsort(-dots, stable)`` over the dim-sequential dot fold
      (ties -> low idx, NaN dots -> last): ``_assign_cells_arrow``'s
      cell and ``_nearest_clusters``'s probe order, i.e. the oracle's
      ``list_sort(struct(-dot, i))``;
    - cosine/top-k semantics identical to ``_ivf_cogroup_rerank``'s
      kernel (NULL on zero denominator, NaN pass-through, NaN-first
      desc order, match-id tiebreak)."""
    from pyspark.sql import types as T

    qrows = queries.select(F.col(qid), F.col(vec_col)).collect()
    qids_py = [r[0] for r in qrows]
    qvecs = [[float(x) for x in r[1]] for r in qrows]
    cmat = [list(map(float, c)) for c in cents]
    out_schema = T.StructType(
        [
            T.StructField("query_id", queries.schema[qid].dataType, True),
            T.StructField("match_id", corpus.schema[id_col].dataType, True),
            T.StructField("cosine", T.DoubleType(), True),
        ]
    )

    def score_parts(batches):
        import numpy as np
        import pyarrow as pa

        if not qids_py:
            return
        qv = np.array(qvecs, dtype=np.float64)
        nq, dim = qv.shape
        cm = np.asarray(cmat, dtype=np.float64)
        ncells = cm.shape[0]
        # query probe sets: _nearest_clusters order (see docstring)
        qdots = np.zeros((nq, ncells))
        qn_sq = np.zeros(nq)
        for j in range(dim):
            qdots = qdots + qv[:, j][:, None] * cm[:, j][None, :]
            qn_sq = qn_sq + qv[:, j] * qv[:, j]
        qn = np.sqrt(qn_sq)
        order = np.argsort(-qdots, axis=1, kind="stable")
        probe_mask = np.zeros((nq, ncells), dtype=bool)
        take = min(n_probe, ncells)
        np.put_along_axis(probe_mask, order[:, :take], True, axis=1)
        qids = np.array(qids_py)
        state = None

        def prune(qidx, mids, vals, nullm):
            nullk = np.where(nullm, 1, 0)
            vv = np.where(nullm, 0.0, np.where(np.isnan(vals), -np.inf, -vals))
            o = np.lexsort((mids, vv, nullk))
            o = o[np.argsort(qidx[o], kind="stable")]
            sq = qidx[o]
            n = len(o)
            change = np.r_[True, sq[1:] != sq[:-1]] if n else np.array([], bool)
            grp_start = np.maximum.accumulate(np.where(change, np.arange(n), 0))
            keep = o[(np.arange(n) - grp_start) < k]
            return qidx[keep], mids[keep], vals[keep], nullm[keep]

        for batch in batches:
            if batch.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([batch])
            mids = tbl.column(id_col).to_numpy(zero_copy_only=False)
            arr = tbl.column(vec_col).combine_chunks()
            flat = arr.flatten().to_numpy(zero_copy_only=False)
            cv = flat.astype(np.float64, copy=False).reshape(tbl.num_rows, -1)
            nb = tbl.num_rows
            cdots = np.zeros((nb, ncells))
            dots = np.zeros((nq, nb))
            cn_sq = np.zeros(nb)
            for j in range(dim):
                cdots = cdots + cv[:, j][:, None] * cm[:, j][None, :]
                dots = dots + qv[:, j][:, None] * cv[:, j][None, :]
                cn_sq = cn_sq + cv[:, j] * cv[:, j]
            cell = np.argsort(-cdots, axis=1, kind="stable")[:, 0]
            den = qn[:, None] * np.sqrt(cn_sq)[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dots / den
            cand = probe_mask[:, cell] & (qids[:, None] != mids[None, :])
            iq, im = np.where(cand)
            qidx, bm, bv, bn = prune(
                iq, mids[im], cos[iq, im], den[iq, im] == 0.0
            )
            if state is not None:
                qidx = np.concatenate([state[0], qidx])
                bm = np.concatenate([state[1], bm])
                bv = np.concatenate([state[2], bv])
                bn = np.concatenate([state[3], bn])
                qidx, bm, bv, bn = prune(qidx, bm, bv, bn)
            state = (qidx, bm, bv, bn)
        if state is not None and len(state[0]):
            qidx, bm, bv, bn = state
            yield pa.record_batch(
                [
                    pa.array(qids[qidx]),
                    pa.array(bm),
                    pa.array(bv, pa.float64(), mask=bn),
                ],
                names=["query_id", "match_id", "cosine"],
            )

    survivors = corpus.select(F.col(id_col), F.col(vec_col)).mapInArrow(
        score_parts, out_schema
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("match_id")
    )
    return (
        survivors.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def _ivf_cogroup_rerank(
    corpus_cells: DataFrame, probe_cells: DataFrame, id_type, k: int
) -> DataFrame:
    """Cogrouped per-cell scoring for ``ivf_ann_topk``: each Voronoi
    cell's corpus vectors meet the queries probing that cell in ONE
    Arrow batch and the full query x corpus cosine matrix is computed
    in numpy with these FP semantics:

    - dots and norms accumulate dim-sequentially — ((0 + t0) + t1) + …
      — a plain left fold;
    - a zero denominator yields NULL (Spark's non-ANSI ``/`` and
      DuckDB's ``x/0.0`` both return NULL), carried through Arrow's
      validity mask;
    - a NaN cosine with a nonzero denominator stays a true NaN value
      (``applyInArrow``; a pandas kernel would rewrite NaN to NULL).

    A (query, match) pair appears in exactly one cell (the corpus side
    carries each vector's single top-1 cell), so no dedup pass is
    needed; self-matches are dropped in the kernel.  The kernel also
    keeps only each query's per-cell top-``k`` under the exact
    ``topk_per_query`` total order (NaN first, values desc, NULLs
    last, match-id tiebreak) — the global top-k is a subset of the
    union of per-cell top-ks, so this is selection-only and the
    downstream merge returns the identical rows while only
    |queries probing cell| * k rows ever leave each cell."""
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("query_id", id_type, True),
            T.StructField("match_id", id_type, True),
            T.StructField("cosine", T.DoubleType(), True),
        ]
    )

    def score_cell(corpus_tbl, probe_tbl):
        import numpy as np
        import pyarrow as pa

        id_pa = corpus_tbl.schema.field("match_id").type
        empty = pa.table(
            {
                "query_id": pa.array([], id_pa),
                "match_id": pa.array([], id_pa),
                "cosine": pa.array([], pa.float64()),
            }
        )
        if corpus_tbl.num_rows == 0 or probe_tbl.num_rows == 0:
            return empty
        mids = corpus_tbl.column("match_id").to_numpy(zero_copy_only=False)
        qids = probe_tbl.column("query_id").to_numpy(zero_copy_only=False)

        def mat(col, n):
            # zero-copy list flatten (uniform-length, non-null vectors)
            # instead of to_pylist — boxing 20M floats per cell was
            # slower than the matrix math it fed
            arr = col.combine_chunks()
            flat = arr.flatten().to_numpy(zero_copy_only=False)
            return flat.astype(np.float64, copy=False).reshape(n, -1)

        cv = mat(corpus_tbl.column("_cv"), corpus_tbl.num_rows)
        qv = mat(probe_tbl.column("_qv"), probe_tbl.num_rows)
        dim = cv.shape[1]
        dots = np.zeros((len(qids), len(mids)))
        qn = np.zeros(len(qids))
        cn = np.zeros(len(mids))
        for j in range(dim):
            dots = dots + qv[:, j][:, None] * cv[:, j][None, :]
            qn = qn + qv[:, j] * qv[:, j]
            cn = cn + cv[:, j] * cv[:, j]
        den = np.sqrt(qn)[:, None] * np.sqrt(cn)[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = dots / den
        iq, im = np.where(qids[:, None] != mids[None, :])
        vals = cos[iq, im]
        null_mask = den[iq, im] == 0.0
        # per-cell per-query top-k prune under topk_per_query's exact
        # total order (see docstring) — selection only
        nullk = np.where(null_mask, 1, 0)
        vk = np.where(
            null_mask, 0.0, np.where(np.isnan(vals), -np.inf, -vals)
        )
        order = np.lexsort((mids[im], vk, nullk))
        order = order[np.argsort(iq[order], kind="stable")]
        sq = iq[order]
        n = len(order)
        change = np.r_[True, sq[1:] != sq[:-1]] if n else np.array([], bool)
        grp_start = np.maximum.accumulate(np.where(change, np.arange(n), 0))
        keep = order[(np.arange(n) - grp_start) < k]
        return pa.table(
            {
                "query_id": pa.array(qids[iq[keep]]),
                "match_id": pa.array(mids[im[keep]]),
                "cosine": pa.array(
                    vals[keep], pa.float64(), mask=null_mask[keep]
                ),
            }
        )

    return (
        corpus_cells.groupBy("_cell")
        .cogroup(probe_cells.groupBy("_cell"))
        .applyInArrow(score_cell, out_schema)
    )


def quantize_embeddings_int8(
    df: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage/transport
    compression step of an embedding pipeline (scale = max|v|/127,
    q_i = round(v_i/scale)).

    Rounding is floor(x + 0.5): exact IEEE-double ops that evaluate
    identically in any engine, unlike decimal ROUND whose half-case
    handling is engine-specific.  Returns the scale plus the quantized
    vector's sum and dot product (the reconstruction-checkable summary;
    the full int8 array rides along as q).  Pure built-in expressions —
    one narrow projection; the only exchange is the fan_out widening of
    a 1-task local scan (a no-op on a many-partition cluster scan)."""
    from data_chunk_compaction_in_duckdb_spark.compaction import fan_out

    df = fan_out(df)
    v = F.col(vec_col).cast("array<double>")
    mx = F.greatest(
        F.array_max(F.transform(v, lambda x: F.abs(x))), F.lit(1e-12)
    )
    scale = mx / F.lit(127.0)
    q = F.transform(v, lambda x: F.floor(x / scale + F.lit(0.5)).cast("long"))
    return df.select(
        F.col(id_col),
        scale.alias("scale"),
        q.alias("q"),
        F.aggregate(q, F.lit(0).cast("long"), lambda a, x: a + x).alias("qsum"),
        F.aggregate(
            q, F.lit(0).cast("long"), lambda a, x: a + x * x
        ).alias("qdot"),
    )


def _pq_centroid(sub: int, code: int, subdim: int) -> list[float]:
    """Deterministic md5-derived PQ codebook entry (same scheme as
    _centroid/_hyperplane — reproducible everywhere, SQL-replayable)."""
    import hashlib

    out = []
    for i in range(subdim):
        h = hashlib.md5(f"pq:{sub}:{code}:{i}".encode()).hexdigest()[:8]
        out.append((int(h, 16) / 2**31) - 1.0)
    return out


def pq_codes(
    embeds: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 4,
    k: int = 16,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Product-quantization codes: split each vector into ``m``
    subvectors and assign each to its best codebook entry of ``k`` —
    the memory-compression layer under ADC-style ANN (codes are
    m*log2(k) bits per vector instead of dim doubles; at 100 TB the
    code table is what fits in executor memory while raw vectors stay
    on disk for the final re-rank).

    Codebooks are deterministic md5 directions and assignment picks the
    min-L2 entry via the replayable ``-2*dot + ||c||^2`` expansion with
    the dot summed as a strict left fold; pass
    ``codebooks=train_pq_codebooks(...)`` for data-adapted entries.

    Execution is an Arrow-batched ``mapInPandas`` doing the same IEEE
    arithmetic in numpy — elementwise ops in the identical order, so the
    result (and the DuckDB oracle replay) is bit-for-bit the expression
    version's.  This is the deliberate exception to "UDFs are the slow
    path": Catalyst has no codegen for higher-order functions, so the
    m*k codebook dots ran interpreted at ~200 µs/row-dot (m=16, k=16:
    ~4 s for 2,000 rows even on 32 cores, plus ~1.5 s planning a
    256-subtree projection); the numpy batch form is two orders of
    magnitude faster per row and keeps the plan tree O(1).  Narrow
    map-only op, zero shuffles beyond the fan_out widening of a 1-task
    local scan."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    from data_chunk_compaction_in_duckdb_spark.compaction import fan_out

    embeds = fan_out(embeds, bytes_per_task=VEC_KERNEL_BYTES_PER_TASK)
    subdim = dim // m
    books = codebooks or [
        [_pq_centroid(sub, code, subdim) for code in range(k)]
        for sub in range(m)
    ]
    # the packed single-integer code only exists when m*log2(k) fits a
    # signed 64-bit value; wider configurations keep the per-subspace
    # code columns only
    packable = m * max(k - 1, 1).bit_length() <= 62
    id_field = embeds.schema[id_col]
    schema = T.StructType(
        [T.StructField(id_col, id_field.dataType, id_field.nullable)]
        + [T.StructField(f"c{s}", T.IntegerType(), False) for s in range(m)]
        + [T.StructField("pq_code", T.LongType(), True)]
    )
    in_cols = embeds.select(id_col, vec_col)

    def assign(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            vecs = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            out = {id_col: pdf[id_col]}
            packed_vals = np.zeros(len(pdf), dtype=np.int64)
            for sub in range(m):
                sl = vecs[:, sub * subdim : (sub + 1) * subdim]
                dists = np.empty((len(pdf), len(books[sub])))
                for code, cvals in enumerate(books[sub]):
                    # strict left fold — same FP addition order as the
                    # zip_with/aggregate expression and the oracle
                    acc = np.zeros(len(pdf))
                    for j, cj in enumerate(cvals):
                        acc = acc + sl[:, j] * cj
                    c2 = sum(v * v for v in cvals)
                    dists[:, code] = acc * -2.0 + c2
                # argmin returns the FIRST minimum — the struct(d, i)
                # ascending-sort tiebreak.  NaN distances are mapped to
                # +inf first: Spark's struct sort puts NaN greatest, so
                # the expression path (_pq_assign) never picks a NaN
                # distance while np.argmin would return its index.
                codes_arr = np.argmin(
                    np.where(np.isnan(dists), np.inf, dists), axis=1
                ).astype(np.int32)
                out[f"c{sub}"] = codes_arr
                if packable:
                    packed_vals = packed_vals + codes_arr.astype(np.int64) * (
                        k**sub
                    )
            out["pq_code"] = (
                packed_vals if packable else np.full(len(pdf), None)
            )
            yield pd.DataFrame(out)

    return in_cols.mapInPandas(assign, schema)


def _pq_assign(vec: Column, offset: int, book: list[list[float]]) -> Column:
    """Code of the min-L2 codebook entry for the subvector starting at
    ``offset`` of ``vec``.

    L2 is the correct PQ assignment metric (subvectors are not unit
    norm, so max-dot would just chase the largest centroid).  The
    distance is expanded to ``-2*dot(q, c) + ||c||^2`` — the ``||q||^2``
    term is constant across codes — with ``||c||^2`` a literal, so the
    whole comparison replays bit-for-bit in the DuckDB oracle; the
    struct(d, i) min keeps ties deterministic (same ordering as the
    oracle's list_sort(...)[1])."""
    return F.array_min(
        _codebook_scores(vec, offset, len(book[0]), book)
    )["i"]


def train_pq_codebooks(
    corpus: DataFrame,
    vec_col: str,
    dim: int,
    m: int = 4,
    codes: int = 16,
    n_iter: int = 4,
) -> list[list[list[float]]]:
    """Per-subspace Lloyd iterations adapting the PQ codebooks to the
    data (Lloyd under the same L2 assignment the codes use) — the same
    contract as ``train_ivf_centroids``: each
    iteration is one distributed pass per subspace, and only the
    ``m x codes x subdim`` means come back to the driver (model-bounded,
    never data-bounded).  Init is the deterministic md5 directions, so
    training is reproducible run-to-run on the same data."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    subdim = dim // m
    books = [
        [_pq_centroid(sub, code, subdim) for code in range(codes)]
        for sub in range(m)
    ]
    for _ in range(n_iter):
        for sub in range(m):
            subv = F.slice(F.col(vec_col), sub * subdim + 1, subdim)
            code = _pq_assign(F.col(vec_col), sub * subdim, books[sub])
            means = (
                corpus.select(code.alias("_c"), subv.alias("_v"))
                .groupBy("_c")
                .agg(
                    *[
                        F.avg(F.col("_v")[i].cast("double")).alias(f"m{i}")
                        for i in range(subdim)
                    ]
                )
                .collect()
            )
            got = {
                int(r["_c"]): [float(r[f"m{i}"]) for i in range(subdim)]
                for r in means
            }
            books[sub] = [
                got.get(c, books[sub][c]) for c in range(codes)
            ]
    return books


def _prune_topk_asc(mid, adc, nullm, rerank: int):
    """Per-query top-``rerank`` selection over per-query arrays,
    replicating topk_per_query's ascending total order: NULLs FIRST,
    values ascending with NaN mapped to +inf (greatest), ties by
    match_id ascending.  Shared by the fused ADC kernel and the
    materialized-index kernel (pipeline.vector_index) so both paths
    select the identical candidate set."""
    import numpy as np

    keep_m, keep_a, keep_n = [], [], []
    for qi in range(len(mid)):
        a, nm = adc[qi], nullm[qi]
        vk = np.where(nm, 0.0, np.where(np.isnan(a), np.inf, a))
        nk = np.where(nm, 0, 1)
        order = np.lexsort((mid[qi], vk, nk))[:rerank]
        keep_m.append(mid[qi][order])
        keep_a.append(a[order])
        keep_n.append(nm[order])
    return keep_m, keep_a, keep_n


def build_adc_luts(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int,
    codes: int,
    books: list[list[list[float]]],
):
    """Collect the (small) query set and build the |Q| x m x codes ADC
    lookup tables driver-side with the strict-left-fold IEEE arithmetic
    of the expression/oracle form (query-set bounded — the documented
    small-query-set contract).  Returns (qids, luts)."""
    import numpy as np

    subdim = dim // m
    norms2 = [[float(sum(v * v for v in c)) for c in book] for book in books]
    qrows = queries.select(F.col(id_col), F.col(vec_col)).collect()
    qids = [r[0] for r in qrows]
    luts = np.empty((len(qrows), m, codes), dtype=np.float64)
    for qi, r in enumerate(qrows):
        qv = [float(x) for x in (r[1] or [])]
        for sub in range(m):
            sq = qv[sub * subdim : (sub + 1) * subdim]
            for code in range(codes):
                acc = 0.0
                for x, y in zip(sq, books[sub][code]):
                    acc = acc + x * float(y)
                luts[qi, sub, code] = acc * -2.0 + norms2[sub][code]
    return qids, luts


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 5,
    m: int = 4,
    codes: int = 16,
    rerank: int = 20,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: each query builds
    an m x codes lookup table of subspace dot products against the
    codebook (literals, computed once per query row), approximate score
    = sum of table entries selected by the corpus row's codes, then the
    top ``rerank`` candidates per query re-rank by exact cosine.

    Scale shape: ONE fused ``mapInArrow`` pass over the corpus assigns
    the PQ codes and gathers each query's LUT terms in the same numpy
    batch, keeping only a running per-query top-``rerank`` selection —
    the |Q| x |corpus| scored pair stream never materializes as Spark
    rows (r4's crossJoin + separate partial paid ~1.5x for exactly that
    materialization).  The LUTs are computed driver-side from the
    collected query set (|Q| x m x codes doubles — bounded by the
    documented small-query-set contract, the same model-sized class as
    the k-means means collects), with the identical strict-left-fold
    IEEE arithmetic as the expression/oracle form, so every surviving
    ``_adc`` is bit-for-bit the pair-algebra value.  An exact
    row_number merge window over the <= partitions x rerank survivors
    restores the global candidate set; raw vectors are touched only for
    the rerank candidates (a k-bounded join back to the corpus)."""
    subdim = dim // m
    books = codebooks or [
        [_pq_centroid(sub, code, subdim) for code in range(codes)]
        for sub in range(m)
    ]
    # ||c||^2 computed once, same Python-float arithmetic as the
    # F.lit literals / oracle repr()s
    norms2 = [
        [float(sum(v * v for v in c)) for c in book] for book in books
    ]

    # Driver-side LUT build (strict left fold — the exact arithmetic of
    # the expression form and the DuckDB oracle's list_dot_product)
    qids, luts = build_adc_luts(
        queries, id_col, vec_col, dim, m, codes, books
    )
    n_q = len(qids)

    id_field = corpus.schema[id_col]
    out_schema = T.StructType(
        [
            T.StructField("query_id", id_field.dataType, True),
            T.StructField("match_id", id_field.dataType, id_field.nullable),
            T.StructField("_adc", T.DoubleType(), True),
        ]
    )
    qid_arr = list(qids)

    def adc_partial(batches):
        import numpy as np
        import pyarrow as pa

        if not n_q:
            return
        # running per-query survivor state: (match_ids, adc, null_mask)
        st_mid: list | None = None
        id_type = None

        def prune(mid, adc, nullm):
            return _prune_topk_asc(mid, adc, nullm, rerank)

        for batch in batches:
            if batch.num_rows == 0:
                continue
            if id_type is None:
                id_type = batch.schema.field(id_col).type
            ids_col = batch.column(id_col)
            if ids_col.null_count:
                # NULL-id corpus rows can never reach the result (the
                # exact rerank inner-joins on match_id and the oracle's
                # q.id <> c.id is NULL-false), but an int id column with
                # NULLs converts to float64+NaN and poisons the typed
                # output array — mask them out of the batch up front
                import pyarrow.compute as pc

                batch = batch.filter(pc.is_valid(ids_col))
                if batch.num_rows == 0:
                    continue
                ids_col = batch.column(id_col)
            mids = np.asarray(ids_col.to_numpy(zero_copy_only=False))
            vec_col_arr = batch.column(vec_col)
            vnull = np.asarray(
                vec_col_arr.is_null().to_numpy(zero_copy_only=False),
                dtype=bool,
            )
            n = batch.num_rows
            # scores: (n_q, n); null-vec rows carry a NULL score (the
            # expression form's null codes -> null sum), NULLS FIRST
            scores = np.zeros((n_q, n), dtype=np.float64)
            snull = np.broadcast_to(vnull, (n_q, n)).copy()
            good = ~vnull
            if good.any():
                flat = np.asarray(
                    vec_col_arr.flatten().to_numpy(zero_copy_only=False),
                    dtype=np.float64,
                )
                vecs = flat.reshape(int(good.sum()), dim)
                gscore = None
                for sub in range(m):
                    sl = vecs[:, sub * subdim : (sub + 1) * subdim]
                    dists = np.empty((len(vecs), codes))
                    for code, cvals in enumerate(books[sub]):
                        # strict left fold — same FP order as the
                        # expression path and the oracle
                        acc = np.zeros(len(vecs))
                        for j, cj in enumerate(cvals):
                            acc = acc + sl[:, j] * float(cj)
                        dists[:, code] = acc * -2.0 + norms2[sub][code]
                    code_arr = np.argmin(
                        np.where(np.isnan(dists), np.inf, dists), axis=1
                    )
                    term = luts[:, sub, :][:, code_arr]  # (n_q, n_good)
                    gscore = term if gscore is None else gscore + term
                scores[:, good] = gscore
            # self-matches dropped so they never consume candidate slots
            self_m = mids[None, :] == np.asarray(qid_arr)[:, None]
            bm = np.broadcast_to(mids, (n_q, n))
            keep_mask = ~self_m
            cur_m = [bm[qi][keep_mask[qi]] for qi in range(n_q)]
            cur_a = [scores[qi][keep_mask[qi]] for qi in range(n_q)]
            cur_n = [snull[qi][keep_mask[qi]] for qi in range(n_q)]
            if st_mid is None:
                st_mid, st_adc, st_null = prune(cur_m, cur_a, cur_n)
            else:
                st_mid, st_adc, st_null = prune(
                    [np.concatenate([st_mid[qi], cur_m[qi]]) for qi in range(n_q)],
                    [np.concatenate([st_adc[qi], cur_a[qi]]) for qi in range(n_q)],
                    [np.concatenate([st_null[qi], cur_n[qi]]) for qi in range(n_q)],
                )
        if st_mid is None:
            return
        out_q, out_m, out_a = [], [], []
        for qi in range(n_q):
            for j in range(len(st_mid[qi])):
                out_q.append(qid_arr[qi])
                out_m.append(st_mid[qi][j])
                out_a.append(
                    None if st_null[qi][j] else float(st_adc[qi][j])
                )
        if out_q:
            yield pa.record_batch(
                [
                    pa.array(out_q, type=id_type),
                    pa.array(out_m, type=id_type),
                    pa.array(out_a, type=pa.float64()),
                ],
                names=["query_id", "match_id", "_adc"],
            )

    from data_chunk_compaction_in_duckdb_spark.compaction import fan_out

    survivors = fan_out(
        corpus.select(id_col, vec_col),
        bytes_per_task=VEC_KERNEL_BYTES_PER_TASK,
    ).mapInArrow(adc_partial, out_schema)
    # exact merge over the <= partitions x rerank survivor set
    # (ascending: _adc approximates the L2 distance)
    w = Window.partitionBy("query_id").orderBy(
        F.col("_adc").asc(), F.col("match_id")
    )
    cands = (
        survivors.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= rerank)
        .select("query_id", "match_id")
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    cv = corpus.select(
        F.col(id_col).alias("match_id"), F.col(vec_col).alias("_cv")
    )
    exact = (
        cands.join(F.broadcast(qv), "query_id")
        .join(cv, "match_id")
        .filter(F.col("query_id") != F.col("match_id"))
        .select(
            "query_id",
            "match_id",
            cosine_similarity(F.col("_qv"), F.col("_cv")).alias("cosine"),
        )
    )
    return topk_per_query(exact, k)
