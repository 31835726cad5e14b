"""Materialized PQ vector index — build once, query many.

Reference analog: CREATE INDEX + the storage layer (src/storage/,
test/sql/index/) applied to the ANN surface: `pq_adc_topk` re-encodes
the corpus on every query, which is correct but pays the
rows x m x codes x dim assignment per query; at 100 TB the index build
is a one-time ingest step and queries must touch only the compressed
code table.  ``PQIndex`` stores the codes in a ``VersionedTable`` (so
the index inherits time travel, checkpoint/vacuum retention, O_EXCL
commit linearizability and zone maps) with the codebook tensor in a
sidecar JSON published by the same write-then-link discipline.

Exactness: codes come from the proven ``pq_codes`` kernel and the query
path gathers the same driver-built LUTs with the same IEEE fold order
(`similarity.build_adc_luts`) and the same candidate total order
(`similarity._prune_topk_asc`), so ``PQIndex.topk`` returns rows
BIT-IDENTICAL to the direct ``pq_adc_topk`` (pinned by
tests/test_vector_index.py and the shared DuckDB oracle of
``sim_ann_pq_index_topk``)."""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_chunk_compaction_in_duckdb_spark.storage import VersionedTable


class PQIndex:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.codes_table = VersionedTable(spark, os.path.join(path, "codes"))
        with open(os.path.join(path, "meta.json")) as f:
            self.meta = json.load(f)

    # ------------------------------------------------------------ build

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        path: str,
        corpus: DataFrame,
        id_col: str,
        vec_col: str,
        dim: int,
        m: int = 16,
        codes: int = 16,
        codebooks: list[list[list[float]]] | None = None,
    ) -> "PQIndex":
        """One distributed encode pass -> a versioned code table
        (id + m int8-range code columns — the representation that fits
        memory at 100 TB) + the model-sized codebook sidecar."""
        from data_chunk_compaction_in_duckdb_spark.pipeline.similarity import (
            _pq_centroid,
            pq_codes,
        )

        subdim = dim // m
        books = codebooks or [
            [_pq_centroid(sub, code, subdim) for code in range(codes)]
            for sub in range(m)
        ]
        cc = pq_codes(
            corpus, id_col, vec_col, dim, m=m, k=codes, codebooks=books
        ).select(id_col, *[f"c{s}" for s in range(m)])
        os.makedirs(path, exist_ok=True)
        VersionedTable.create(spark, os.path.join(path, "codes"), cc)
        meta = {
            "id_col": id_col,
            "vec_col": vec_col,
            "dim": dim,
            "m": m,
            "codes": codes,
            "codebooks": [[list(map(float, c)) for c in b] for b in books],
        }
        mp = os.path.join(path, "meta.json")
        tmp = mp + f".tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, mp)
        return cls(spark, path)

    def _encode(self, rows: DataFrame) -> DataFrame:
        from data_chunk_compaction_in_duckdb_spark.pipeline.similarity import (
            pq_codes,
        )

        mt = self.meta
        return pq_codes(
            rows,
            mt["id_col"],
            mt["vec_col"],
            mt["dim"],
            m=mt["m"],
            k=mt["codes"],
            codebooks=mt["codebooks"],
        ).select(mt["id_col"], *[f"c{s}" for s in range(mt["m"])])

    def rebuild(self, corpus: DataFrame) -> int:
        """FULL re-encode after arbitrary corpus changes (deletes,
        updates, vector edits): ONE new code-table version
        (copy-on-write — the previous index stays time-travel
        readable), same codebooks.  For the append-only common case use
        ``append`` — it touches none of the existing files."""
        cc = self._encode(corpus)
        vt = self.codes_table
        base = vt.latest_version()
        affected = set(vt._manifest(base)["files"])
        return vt._cow_commit("reindex", affected, cc, base=base)

    def append(self, new_rows: DataFrame) -> int:
        """Incremental index maintenance (reference analog: the ART
        index maintains itself per-INSERT, src/execution/index/art/
        art.cpp:370 ``ART::Insert``; r5's only refresh path re-encoded
        the WHOLE corpus): encode ONLY the delta with the stored
        codebooks and land it as an append-only commit — every existing
        code file moves by manifest reference, zero rewrites.  At
        100 TB an ingest batch costs O(batch), not O(corpus).  Since PQ
        encoding is per-row (codebooks are frozen at build), append ∘
        build ≡ build-on-union exactly — pinned by test and by the
        shared DuckDB oracle of ``sim_ann_pq_index_append_topk``."""
        return self.codes_table.insert(self._encode(new_rows))

    def delete(self, keys: DataFrame) -> int:
        """Incremental DELETE maintenance — the erase twin of ``append``
        (reference analog: ART erases entries per-DELETE,
        src/execution/index/art/art.cpp ``ART::Delete``): copy-on-write
        anti-join delete of the key set from the stored codes; only
        files containing deleted ids are rewritten, the key set never
        reaches the driver.  PQ codes are per-row, so delete ∘ build ≡
        build-on-survivors exactly — pinned by the shared subset oracle
        of ``sim_ann_pq_index_delete_topk``."""
        mt = self.meta
        return self.codes_table.delete_keys(
            keys.select(mt["id_col"]), mt["id_col"]
        )

    def stale(self, corpus: DataFrame) -> DataFrame:
        """Stored code rows whose id is NO LONGER in the corpus — the
        DELETE-side staleness twin of ``missing``: a phantom entry keeps
        winning ADC candidacy for a vector that cannot be returned.
        Non-empty means corpus rows were deleted since the last
        refresh; ``delete`` these keys (or ``rebuild``).  One
        anti-join, no collect."""
        mt = self.meta
        live = (
            corpus.filter(F.col(mt["id_col"]).isNotNull())
            .select(mt["id_col"])
        )
        return self.codes().join(live, mt["id_col"], "left_anti")

    def codes(self, version: int | None = None) -> DataFrame:
        return self.codes_table.read(version)

    def missing(self, corpus: DataFrame) -> DataFrame:
        """Corpus rows NOT covered by the stored codes (NULL-id rows
        excluded — they can never match): non-empty means the index is
        stale for this corpus and ``topk`` silently skips those rows as
        ANN candidates; ``append`` the delta (or ``rebuild``) to
        refresh.  One anti-join, no collect."""
        mt = self.meta
        ids = self.codes().select(mt["id_col"])
        return (
            corpus.filter(F.col(mt["id_col"]).isNotNull())
            .join(ids, mt["id_col"], "left_anti")
        )

    # ------------------------------------------------------------ query

    def topk(
        self,
        corpus: DataFrame,
        queries: DataFrame,
        k: int = 5,
        rerank: int = 20,
        version: int | None = None,
        check_coverage: bool = False,
    ) -> DataFrame:
        """ADC top-k over the STORED codes: one mapInArrow gather pass
        per partition of the code table (no re-encoding, no pair-stream
        materialization), exact merge window, then the k-bounded exact
        cosine re-rank against the corpus raw vectors — identical
        results to the direct ``pq_adc_topk``.

        Results reflect the INDEXED snapshot: corpus rows ingested after
        build are not candidates until ``append``ed (or ``rebuild``);
        ``check_coverage=True`` pays one anti-join probe to raise on
        such staleness instead of silently excluding rows."""
        import numpy as np

        if check_coverage and self.missing(corpus).limit(1).count():
            raise ValueError(
                "index is stale: corpus rows missing from the stored "
                "codes — append() the delta or rebuild()"
            )

        from data_chunk_compaction_in_duckdb_spark.compaction import fan_out
        from data_chunk_compaction_in_duckdb_spark.pipeline.similarity import (
            Window,
            _prune_topk_asc,
            build_adc_luts,
            cosine_similarity,
            topk_per_query,
        )

        mt = self.meta
        id_col, vec_col = mt["id_col"], mt["vec_col"]
        m = mt["m"]
        qids, luts = build_adc_luts(
            queries, id_col, vec_col, mt["dim"], m, mt["codes"],
            mt["codebooks"],
        )
        n_q = len(qids)
        qid_arr = list(qids)

        code_df = self.codes(version)
        id_field = code_df.schema[id_col]
        out_schema = T.StructType(
            [
                T.StructField("query_id", id_field.dataType, True),
                T.StructField("match_id", id_field.dataType, True),
                T.StructField("_adc", T.DoubleType(), True),
            ]
        )

        def idx_partial(batches):
            import pyarrow as pa

            if not n_q:
                return
            st = None
            id_type = None
            for batch in batches:
                if batch.num_rows == 0:
                    continue
                if id_type is None:
                    id_type = batch.schema.field(id_col).type
                if batch.column(id_col).null_count:
                    # same contract as the direct fused kernel
                    # (similarity.adc_partial): NULL-id rows can never
                    # survive the rerank join, and unmasked they turn an
                    # int id batch into float64+NaN that the typed
                    # output array rejects
                    import pyarrow.compute as pc

                    batch = batch.filter(pc.is_valid(batch.column(id_col)))
                    if batch.num_rows == 0:
                        continue
                mids = np.asarray(
                    batch.column(id_col).to_numpy(zero_copy_only=False)
                )
                n = batch.num_rows
                # gather: score = sum_sub LUT[q, sub, stored_code] with
                # the same left-assoc adds as the fused/oracle form;
                # NULL codes (a NULL source vector) -> NULL score,
                # NULLS FIRST in the candidate order
                cnull = np.zeros(n, dtype=bool)
                cols = []
                for s in range(m):
                    col = batch.column(f"c{s}")
                    cnull |= np.asarray(
                        col.is_null().to_numpy(zero_copy_only=False),
                        dtype=bool,
                    )
                    cols.append(
                        np.asarray(
                            col.fill_null(0).to_numpy(zero_copy_only=False)
                        ).astype(np.int64)
                    )
                score = None
                for s in range(m):
                    term = luts[:, s, :][:, cols[s]]
                    score = term if score is None else score + term
                snull = np.broadcast_to(cnull, (n_q, n)).copy()
                self_m = mids[None, :] == np.asarray(qid_arr)[:, None]
                keep = ~self_m
                bm = np.broadcast_to(mids, (n_q, n))
                cur_m = [bm[qi][keep[qi]] for qi in range(n_q)]
                cur_a = [score[qi][keep[qi]] for qi in range(n_q)]
                cur_n = [snull[qi][keep[qi]] for qi in range(n_q)]
                if st is None:
                    st = _prune_topk_asc(cur_m, cur_a, cur_n, rerank)
                else:
                    st = _prune_topk_asc(
                        [np.concatenate([st[0][qi], cur_m[qi]]) for qi in range(n_q)],
                        [np.concatenate([st[1][qi], cur_a[qi]]) for qi in range(n_q)],
                        [np.concatenate([st[2][qi], cur_n[qi]]) for qi in range(n_q)],
                        rerank,
                    )
            if st is None:
                return
            out_q, out_m, out_a = [], [], []
            for qi in range(n_q):
                for j in range(len(st[0][qi])):
                    out_q.append(qid_arr[qi])
                    out_m.append(st[0][qi][j])
                    out_a.append(None if st[2][qi][j] else float(st[1][qi][j]))
            if out_q:
                yield pa.record_batch(
                    [
                        pa.array(out_q, type=id_type),
                        pa.array(out_m, type=id_type),
                        pa.array(out_a, type=pa.float64()),
                    ],
                    names=["query_id", "match_id", "_adc"],
                )

        # size-capped widening (r10): the ADC scan kernel is vectorized
        # numpy — see similarity.VEC_KERNEL_BYTES_PER_TASK
        from data_chunk_compaction_in_duckdb_spark.pipeline.similarity import (
            VEC_KERNEL_BYTES_PER_TASK,
        )

        survivors = fan_out(
            code_df, bytes_per_task=VEC_KERNEL_BYTES_PER_TASK
        ).mapInArrow(idx_partial, out_schema)
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


class IVFIndex:
    """Materialized IVF cell index — the Voronoi-partition sibling of
    ``PQIndex``: one assignment pass at build time into a versioned
    (id, _cell) table, queries probe stored cells (``ivf_ann_topk``'s
    ``corpus_cells`` fast path) with only the query-set-sized probe
    ranking computed per query.  At 100 TB the cell column IS the
    partition-prune layout; rebuilds are copy-on-write commits."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.cells_table = VersionedTable(spark, os.path.join(path, "cells"))
        with open(os.path.join(path, "meta.json")) as f:
            self.meta = json.load(f)

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        path: str,
        corpus: DataFrame,
        id_col: str,
        vec_col: str,
        dim: int,
        n_clusters: int = 16,
        centroids: list[list[float]] | None = None,
    ) -> "IVFIndex":
        from data_chunk_compaction_in_duckdb_spark.pipeline.dedup import (
            _assign_cells_arrow,
        )
        from data_chunk_compaction_in_duckdb_spark.pipeline.similarity import (
            _centroid,
        )

        cents = centroids or [_centroid(dim, i) for i in range(n_clusters)]
        cells = _assign_cells_arrow(
            corpus, id_col, vec_col, cents, 1
        ).withColumnRenamed("_id", id_col)
        os.makedirs(path, exist_ok=True)
        VersionedTable.create(spark, os.path.join(path, "cells"), cells)
        meta = {
            "id_col": id_col,
            "vec_col": vec_col,
            "dim": dim,
            "n_clusters": n_clusters,
            "centroids": [list(map(float, c)) for c in cents],
        }
        mp = os.path.join(path, "meta.json")
        tmp = mp + f".tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, mp)
        return cls(spark, path)

    def _assign(self, rows: DataFrame) -> DataFrame:
        from data_chunk_compaction_in_duckdb_spark.pipeline.dedup import (
            _assign_cells_arrow,
        )

        mt = self.meta
        return _assign_cells_arrow(
            rows, mt["id_col"], mt["vec_col"], mt["centroids"], 1
        ).withColumnRenamed("_id", mt["id_col"])

    def rebuild(self, corpus: DataFrame) -> int:
        """FULL re-assignment after arbitrary corpus changes; for
        append-only ingest use ``append``."""
        cells = self._assign(corpus)
        vt = self.cells_table
        base = vt.latest_version()
        affected = set(vt._manifest(base)["files"])
        return vt._cow_commit("reindex", affected, cells, base=base)

    def append(self, new_rows: DataFrame) -> int:
        """Incremental cell maintenance (reference ART::Insert analog,
        src/execution/index/art/art.cpp:370): assign cells for ONLY the
        delta and commit append-only — centroids are frozen at build
        and assignment is per-row, so append ∘ build ≡ build-on-union
        exactly (shared oracle of ``sim_ann_ivf_index_append_topk``);
        existing cell files move by manifest reference."""
        return self.cells_table.insert(self._assign(new_rows))

    def delete(self, keys: DataFrame) -> int:
        """Incremental DELETE maintenance (reference ``ART::Delete``
        analog — see PQIndex.delete): CoW anti-join delete of the key
        set from the stored cells.  Cell assignment is per-row with
        frozen centroids, so delete ∘ build ≡ build-on-survivors
        exactly (shared subset oracle of
        ``sim_ann_ivf_index_delete_topk``)."""
        mt = self.meta
        return self.cells_table.delete_keys(
            keys.select(mt["id_col"]), mt["id_col"]
        )

    def stale(self, corpus: DataFrame) -> DataFrame:
        """Stored cell rows whose id is no longer in the corpus — the
        DELETE-side twin of ``missing`` (phantom cell entries become
        candidates that the exact re-rank then joins to nothing,
        silently shrinking k).  ``delete`` these keys or ``rebuild``."""
        mt = self.meta
        live = (
            corpus.filter(F.col(mt["id_col"]).isNotNull())
            .select(mt["id_col"])
        )
        return self.cells().join(live, mt["id_col"], "left_anti")

    def cells(self, version: int | None = None) -> DataFrame:
        return self.cells_table.read(version)

    def missing(self, corpus: DataFrame) -> DataFrame:
        """Corpus rows with no stored cell assignment (NULL ids
        excluded): the ``corpus_cells`` fast path inner-joins on id, so
        uncovered rows are silently absent from every query until
        ``append``ed (r5 ADVICE: surface staleness instead of hiding
        it).  One anti-join, no collect."""
        mt = self.meta
        ids = self.cells().select(mt["id_col"])
        return (
            corpus.filter(F.col(mt["id_col"]).isNotNull())
            .join(ids, mt["id_col"], "left_anti")
        )

    def topk(
        self,
        corpus: DataFrame,
        queries: DataFrame,
        k: int = 5,
        n_probe: int = 4,
        version: int | None = None,
        check_coverage: bool = False,
    ) -> DataFrame:
        """Results reflect the INDEXED snapshot (the stored-cell join is
        an inner join on id): rows ingested after build are silently
        absent until ``append``ed; ``check_coverage=True`` raises on
        staleness instead."""
        from data_chunk_compaction_in_duckdb_spark.pipeline.similarity import (
            ivf_ann_topk,
        )

        if check_coverage and self.missing(corpus).limit(1).count():
            raise ValueError(
                "index is stale: corpus rows missing from the stored "
                "cells — append() the delta or rebuild()"
            )
        mt = self.meta
        return ivf_ann_topk(
            corpus,
            queries,
            mt["id_col"],
            mt["vec_col"],
            mt["dim"],
            k=k,
            n_clusters=mt["n_clusters"],
            n_probe=n_probe,
            centroids=mt["centroids"],
            corpus_cells=self.cells(version),
        )
