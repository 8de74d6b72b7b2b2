"""Round-11 registry slice: persisted-ANN-index maintenance (ADD via
frozen-constant encode+append, DELETE via serve-time tombstones) and
batched serving over the persisted index — the two halves of the
production index lifecycle the round-10 build/serve split left open.

Follows the established conventions: every query is a (spark, sf_dir)
-> DataFrame callable with a DuckDB oracle replaying the same exact
integer semantics, column names aliased identically on both sides.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..scratch import scratch
from ._shared import load_table, register
from ..operators import tiny_df


# ---------------------------------------------------------------------------
# ROUND 11 — ann_index_persist_serve_batch: N queries against the
# PERSISTED index in ONE plan. ann_ivfpq_batch (one Arrow pass scores
# the whole query batch) and ann_index_persist_serve (pure-Catalyst
# single-query serve over the partition-pruned codes/) were two halves
# of one production story; this unifies them — the ADC LUT relation is
# keyed by query_id (n_queries x nprobe x m x n_codes rows, broadcast)
# and the codes scan covers the UNION of probed lists once for the
# whole batch. Result rows are bit-identical to ann_ivfpq_batch (same
# trained constants, same corpus, same candidates), so the oracle is
# the shared batch-ADC chain.
# ---------------------------------------------------------------------------
def _register_persist_serve_batch():
    from .r8_round8 import _TRAINED_TL_CTE
    from .r10_round10 import _BATCH_ADC_CTES, ensure_persisted_ivfpq_index

    @register(
        "ann_index_persist_serve_batch",
        _TRAINED_TL_CTE + _BATCH_ADC_CTES + """
SELECT query_id, rank::INT AS rank, vec_id, adc_d2::BIGINT AS adc_d2
FROM (
  SELECT query_id, vec_id, adc_d2,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY adc_d2, vec_id) AS rank
  FROM adc)
WHERE rank <= 10 ORDER BY query_id, rank
""",
    )
    def ann_index_persist_serve_batch_query(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Batched persisted-index serving (similarity.
        ivfpq_serve_persisted_batch): the 8 smallest vec_ids as the
        query set, one partition-pruned scan of codes/ for the union
        of probed lists, one broadcast query-keyed LUT join, per-query
        window rank. Each query's rows are bit-identical to its single
        ivfpq_serve_persisted serve AND to ann_ivfpq_batch."""
        from ..operators import similarity

        emb = load_table(spark, sf_dir, "embeddings")
        d = ensure_persisted_ivfpq_index(spark, sf_dir)
        return similarity.ivfpq_serve_persisted_batch(
            emb, d, n_queries=8, k=10, nprobe=2
        )

    return ann_index_persist_serve_batch_query


ann_index_persist_serve_batch_query = _register_persist_serve_batch()


# ---------------------------------------------------------------------------
# ROUND 11 — ann_index_upsert_serve: index MAINTENANCE. Production
# indexes ingest after they are built: new vectors are encoded with
# the FROZEN trained constants (FAISS add() semantics — adding never
# retrains) and appended into their list_id partitions; deletions are
# id tombstones anti-joined at serve time (IndexIVF remove_ids
# reified lakehouse-style — no partition rewrite on the delete path).
#
# Fixture split: BASE = vec_id % 10 <> 7 (the index is trained and
# first encoded on this), DELTA = vec_id % 10 = 7 (added post-build
# with frozen constants), DELETED = vec_id % 25 = 3 (tombstoned).
# Serving query 0 after the upsert must equal a from-scratch encode of
# the surviving corpus under the SAME base-trained constants — the
# oracle replays exactly that: Lloyd + codebook seeds over BASE only,
# assignment/residuals/codes over ALL vectors, candidates exclude the
# tombstoned ids and the query.
# ---------------------------------------------------------------------------
_UPSERT_ADC_SQL = """
WITH RECURSIVE vecs AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(floor(x * 1000 + 0.5) AS BIGINT)) AS v
  FROM embeddings
), bvecs AS (
  SELECT vec_id, v FROM vecs WHERE vec_id % 10 <> 7
), iters AS (
  SELECT 0 AS iter,
         CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
         v AS c,
         CAST(NULL AS BIGINT) AS total_d2, CAST(NULL AS BIGINT) AS prev_d2
  FROM bvecs QUALIFY row_number() OVER (ORDER BY vec_id) <= 16
  UNION ALL
  (
    WITH cur AS (
      SELECT * FROM iters
      WHERE iter < 5
        AND (total_d2 IS NULL OR prev_d2 IS NULL OR total_d2 <> prev_d2)
    ), packed AS (
      SELECT w.vec_id, w.v,
             MIN(list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(list_zip(w.v, c.c),
                                  p -> (p[1] - p[2]) * (p[1] - p[2]))),
                 (a, b) -> a + b) * 16 + c.cid) AS p
      FROM bvecs w CROSS JOIN cur c
      GROUP BY w.vec_id, w.v
    ), assign AS (
      SELECT vec_id, v, p % 16 AS cluster_id, p // 16 AS d2min FROM packed
    ), tot AS (
      SELECT SUM(d2min) AS t FROM assign
    ), per_dim AS (
      SELECT cluster_id, pos,
             CAST(floor(SUM(x) / COUNT(*) + 0.5) AS BIGINT) AS cm
      FROM (SELECT cluster_id, unnest(v) AS x, generate_subscripts(v, 1) AS pos
            FROM assign)
      GROUP BY cluster_id, pos
    ), newc AS (
      SELECT cluster_id AS cid, list(cm ORDER BY pos) AS c
      FROM per_dim GROUP BY cluster_id
    )
    SELECT c0.iter + 1 AS iter, n.cid, n.c,
           t.t AS total_d2, c0.total_d2 AS prev_d2
    FROM newc n, tot t, (SELECT DISTINCT iter, total_d2 FROM cur) c0
  )
), fcents AS (
  SELECT cid, c FROM iters WHERE iter = (SELECT MAX(iter) FROM iters)
), tl AS (
  -- assignment of the FULL corpus (base + added) against the
  -- base-trained converged centroids
  SELECT vec_id, p % 16 AS list_id FROM (
    SELECT w.vec_id,
           MIN(list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(list_zip(w.v, c.c),
                                p -> (p[1] - p[2]) * (p[1] - p[2]))),
               (a, b) -> a + b) * 16 + c.cid) AS p
    FROM vecs w CROSS JOIN fcents c GROUP BY w.vec_id)
), resid AS (
  SELECT t.vec_id, t.list_id,
         list_transform(list_zip(w.v, f.c), p -> p[1] - p[2]) AS r
  FROM tl t JOIN vecs w USING (vec_id)
  JOIN fcents f ON f.cid = t.list_id
), qv0 AS (
  SELECT v FROM vecs WHERE vec_id = 0
), probe AS (
  SELECT f.cid AS list_id,
         ROW_NUMBER() OVER (
           ORDER BY list_reduce(list_prepend(CAST(0 AS BIGINT),
                      list_transform(list_zip((SELECT v FROM qv0), f.c),
                                     p -> (p[1] - p[2]) * (p[1] - p[2]))),
                    (a, b) -> a + b) ASC, f.cid ASC) AS pr
  FROM fcents f
), probed AS (
  SELECT list_id FROM probe WHERE pr <= 2
), cb AS (
  -- codebook seeds from the BASE corpus only (the index was built
  -- before the delta arrived)
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code_id, r
  FROM resid WHERE vec_id % 10 <> 7
  QUALIFY row_number() OVER (ORDER BY vec_id) <= 8
), cand AS (
  SELECT rd.vec_id, rd.list_id, rd.r
  FROM resid rd JOIN probed p USING (list_id)
  WHERE rd.vec_id <> 0 AND rd.vec_id % 25 <> 3
), codes AS (
  SELECT c.vec_id, c.list_id, s.s,
         MIN(list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(
                 list_zip(list_slice(c.r, s.s * 16 + 1, s.s * 16 + 16),
                          list_slice(b.r, s.s * 16 + 1, s.s * 16 + 16)),
                 p -> (p[1] - p[2]) * (p[1] - p[2]))),
             (a, b) -> a + b) * 8 + b.code_id) % 8 AS code
  FROM cand c CROSS JOIN cb b, (SELECT UNNEST(range(4)) AS s) s
  GROUP BY c.vec_id, c.list_id, s.s
), qresid AS (
  SELECT p.list_id,
         list_transform(list_zip((SELECT v FROM qv0), f.c),
                        x -> x[1] - x[2]) AS rq
  FROM probed p JOIN fcents f ON f.cid = p.list_id
), lut AS (
  SELECT q.list_id, s.s, b.code_id,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(
             list_zip(list_slice(q.rq, s.s * 16 + 1, s.s * 16 + 16),
                      list_slice(b.r, s.s * 16 + 1, s.s * 16 + 16)),
             p -> (p[1] - p[2]) * (p[1] - p[2]))),
           (a, b) -> a + b) AS d
  FROM qresid q CROSS JOIN cb b, (SELECT UNNEST(range(4)) AS s) s
), adc AS (
  SELECT cd.vec_id, SUM(l.d) AS adc_d2
  FROM codes cd
  JOIN lut l ON l.list_id = cd.list_id AND l.s = cd.s AND l.code_id = cd.code
  GROUP BY cd.vec_id
)
SELECT ROW_NUMBER() OVER (ORDER BY adc_d2, vec_id)::INT AS rank,
       vec_id, adc_d2::BIGINT AS adc_d2
FROM adc ORDER BY adc_d2, vec_id LIMIT 10
"""


def _ensure_upsert_index(
    spark: SparkSession, sf_dir: str, prefix: str, compact: bool
):
    """Build-once cache of the UPSERT fixture index (shared by
    ann_index_upsert_serve and ann_index_compact_serve so the two
    queries provably exercise the same construction): trained +
    encoded on BASE (vec_id % 10 <> 7), DELTA (% 10 = 7) added with
    frozen constants, vec_id % 25 = 3 tombstoned; optionally
    compacted. Returns (embeddings, index_dir)."""
    from ..operators import similarity
    from ..sources.raw import source_fingerprint
    from .r8_round8 import _MAX_ITER, _N_LISTS

    emb = load_table(spark, sf_dir, "embeddings")
    d = scratch(
        f"{prefix}/{sf_dir.strip('/').replace('/', '_')}"
        f"_{source_fingerprint(sf_dir, table='embeddings')}"
    )
    built = os.path.join(d, "_BUILT")
    if not os.path.exists(built):
        base = emb.filter(F.col("vec_id") % 10 != 7)
        delta = emb.filter(F.col("vec_id") % 10 == 7)
        similarity.ivfpq_build_index(
            base, d, m=4, n_codes=8, n_lists=_N_LISTS, max_iter=_MAX_ITER
        )
        similarity.ivfpq_index_add(delta, d)
        similarity.ivfpq_index_delete(
            spark, d, emb.filter(F.col("vec_id") % 25 == 3)
        )
        if compact:
            similarity.ivfpq_index_compact(spark, d)
        with open(built, "w") as fh:
            fh.write("ok\n")
    return emb, d


def _register_ann_index_upsert():
    @register("ann_index_upsert_serve", _UPSERT_ADC_SQL)
    def ann_index_upsert_serve_query(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Serve query 0 from an UPSERTED persisted index: built on
        the base split (vec_id % 10 <> 7), the delta split added with
        frozen constants (similarity.ivfpq_index_add — append into the
        touched list_id partitions only), vec_id % 25 = 3 tombstoned
        (similarity.ivfpq_index_delete — serve-time anti-join, no
        partition rewrite). Bit-identical to a from-scratch encode of
        the surviving corpus under the same base-trained constants
        (asserted in tests/test_round11.py).

        Plan shape / 100 TB: the add pass is map-side Arrow over the
        DELTA only and appends only the partitions the new vectors
        land in; the delete writes a tombstone row per id; serving
        stays the partition-pruned scan -> posexplode -> broadcast LUT
        join -> partial agg -> TakeOrdered plan with one extra
        broadcast anti-join on the tombstone set."""
        from ..operators import similarity

        emb, d = _ensure_upsert_index(
            spark, sf_dir, "ksr_annidx_upsert", compact=False
        )
        return similarity.ivfpq_serve_persisted(
            emb, d, query_vec_id=0, k=10, nprobe=2
        )

    return ann_index_upsert_serve_query


ann_index_upsert_serve_query = _register_ann_index_upsert()


# ---------------------------------------------------------------------------
# ROUND 11 — streaming_wordpiece_encode: the TOKENIZE leg of a
# streaming ingest pipeline. A trained tokenizer vocab is a frozen
# driver-broadcast constant (the model artifact), so encoding is
# STATELESS map-side work inside each micro-batch — the
# streaming_ivf_assign pattern applied to text: train offline on the
# static corpus (wordpiece_vocab_from_census), stream arriving
# documents, segment every word occurrence with the same greedy
# longest-match kernel the batch encode uses, and drain the per-piece
# usage census. Unlike the batch encode there is no distinct-word
# pre-census (a stream cannot be censused up front) — each occurrence
# encodes independently, which is exactly the production shape.
#
# Oracle: the streamed per-piece census must equal the batch
# wordpiece_encode's pieces exploded and weighted by word occurrence
# counts — the registered wordpiece oracle nested as a CTE.
# ---------------------------------------------------------------------------
def _register_streaming_wordpiece():
    from ._shared import ORACLES

    wp_sql = ORACLES["wordpiece_encode"]

    @register(
        "streaming_wordpiece_encode",
        f"""
WITH wp AS (
{wp_sql}
)
SELECT piece, SUM(n_occurrences)::BIGINT AS n_uses
FROM (SELECT unnest(string_split(pieces, ' ')) AS piece, n_occurrences
      FROM wp)
GROUP BY piece ORDER BY piece
""",
    )
    def streaming_wordpiece_encode_query(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Stream-side WordPiece encode: vocab trained offline on the
        static documents table, then every word occurrence of the
        streamed corpus is segmented map-side inside its micro-batch
        (stateless — no state store touch); the drained census is one
        row per piece with its total use count.

        Plan shape / 100 TB: the only stateful operator is the
        |vocab|-bounded piece census aggregate; segmentation is an
        Arrow kernel over the batch with a broadcast frozen vocab.
        State bound: <= vocab_cap + alphabet rows, corpus-independent."""
        from ..operators import text
        from ..streaming import jobs

        docs = load_table(spark, sf_dir, "documents")
        census = (
            docs.select(F.explode(text.tokens(F.col("text"))).alias("word"))
            .filter(F.col("word") != "")
            .groupBy("word")
            .agg(F.count("*").alias("n"))
        )
        vocab = text.wordpiece_vocab_from_census(
            census, max_piece=6, min_count=50, vocab_cap=65536
        )

        occurrences = (
            jobs.stream_table(spark, sf_dir, "documents")
            .select(F.explode(text.tokens(F.col("text"))).alias("word"))
            .filter(F.col("word") != "")
            .select("word", F.lit(1).cast("long").alias("n"))
        )
        piece_stream = text.wordpiece_encode_words(
            occurrences, vocab, 6
        ).select(F.explode(F.split("pieces", " ")).alias("piece"))
        out = jobs.run_available_now(
            piece_stream.groupBy("piece").agg(
                F.count("*").alias("n_uses")
            ),
            "streaming_wordpiece_encode",
        )
        return out.select(
            "piece", F.col("n_uses").cast("long").alias("n_uses")
        ).orderBy("piece")

    return streaming_wordpiece_encode_query


streaming_wordpiece_encode_query = _register_streaming_wordpiece()


# ---------------------------------------------------------------------------
# ROUND 11 — ann_index_compact_serve: the COMPACT leg of the delete
# story. Tombstones are the cheap write path; eventually the deleted
# mass is worth reclaiming — ivfpq_index_compact rewrites ONLY the
# list_id partitions containing tombstoned rows (dynamic partition
# overwrite; untouched lists keep their files byte-for-byte) and
# retires the tombstone set. Serving is INVARIANT across the compact
# (the anti-join was already hiding those rows), so the oracle is the
# same upsert-ADC replay — what the query proves is that the physical
# rewrite changed nothing observable while removing the serve-time
# anti-join and the dead bytes.
# ---------------------------------------------------------------------------
def _register_ann_index_compact():
    @register("ann_index_compact_serve", _UPSERT_ADC_SQL)
    def ann_index_compact_serve_query(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Serve query 0 from a COMPACTED upserted index: the
        ann_index_upsert_serve fixture (base build + delta add +
        tombstoned deletes) with ivfpq_index_compact applied — the
        tombstoned rows physically dropped by partition-local rewrite,
        tombstones/ retired. Must equal the pre-compact serve row for
        row (same oracle)."""
        from ..operators import similarity

        emb, d = _ensure_upsert_index(
            spark, sf_dir, "ksr_annidx_compact", compact=True
        )
        return similarity.ivfpq_serve_persisted(
            emb, d, query_vec_id=0, k=10, nprobe=2
        )

    return ann_index_compact_serve_query


ann_index_compact_serve_query = _register_ann_index_compact()


# ---------------------------------------------------------------------------
# ROUND 11 — streaming_index_upsert: the persisted index's ingest leg
# ON the stream — the composition the round-10 verdict asked for
# (streaming_ivf_assign's map-side assignment x the persisted layout).
# The quantizer + codebook are trained OFFLINE (train-only build:
# centroids/codebook/_META, no codes); arriving vectors are encoded
# with the frozen constants inside each micro-batch and APPENDED into
# their list_id partitions (foreachBatch -> ivfpq_index_add). After
# the drain, serving the streamed-in index must be bit-identical to
# ann_ivfpq_trained over the same corpus — the shared trained-ADC
# oracle — because appends of disjoint row sets commute: the index
# does not care whether its codes arrived in one batch or twenty.
#
# 100 TB shape: per-batch work is one map-side Arrow encode of the
# batch + an append touching only the lists the batch lands in; no
# state store at all (the INDEX is the state, which is the point).
# ---------------------------------------------------------------------------
def _register_streaming_index_upsert():
    from .r8_round8 import _IVFPQ_ADC_CTES, _MAX_ITER, _N_LISTS, _TRAINED_TL_CTE

    @register(
        "streaming_index_upsert",
        _TRAINED_TL_CTE + _IVFPQ_ADC_CTES + """
SELECT ROW_NUMBER() OVER (ORDER BY adc_d2, vec_id)::INT AS rank,
       vec_id, adc_d2::BIGINT AS adc_d2
FROM adc ORDER BY adc_d2, vec_id LIMIT 10
""",
    )
    def streaming_index_upsert_query(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Fill a train-only persisted index from a STREAM (one
        micro-batch per source file, each encode+append map-side with
        frozen constants), then serve query 0 — equal to
        ann_ivfpq_trained row for row."""
        from ..operators import similarity
        from ..sources.raw import source_fingerprint
        from ..streaming import jobs

        emb = load_table(spark, sf_dir, "embeddings")
        d = scratch(
            f"ksr_annidx_stream/{sf_dir.strip('/').replace('/', '_')}"
            f"_{source_fingerprint(sf_dir, table='embeddings')}"
        )
        built = os.path.join(d, "_BUILT")
        if not os.path.exists(built):
            similarity.ivfpq_build_index(
                emb, d, m=4, n_codes=8, n_lists=_N_LISTS,
                max_iter=_MAX_ITER, encode=False,
            )
            # frozen constants load ONCE; each micro-batch's add
            # reuses them instead of re-collecting the parquet model
            cids, cmat, cb, n_codes = similarity._load_index_constants(
                spark, d
            )
            consts = (cids, cmat, cb, n_codes, 4, _N_LISTS)
            stream = jobs.stream_table(spark, sf_dir, "embeddings")
            jobs.drain(
                stream.writeStream.foreachBatch(
                    # batch_id guard: a foreachBatch replay (at-least-
                    # once) of an already-landed micro-batch is a no-op
                    # instead of a double-append
                    lambda bdf, bid: similarity.ivfpq_index_add(
                        bdf, d, constants=consts, batch_id=bid
                    )
                )
            )
            with open(built, "w") as fh:
                fh.write("ok\n")
        return similarity.ivfpq_serve_persisted(
            emb, d, query_vec_id=0, k=10, nprobe=2
        )

    return streaming_index_upsert_query


streaming_index_upsert_query = _register_streaming_index_upsert()


# ---------------------------------------------------------------------------
# ROUND 11 — streaming_ann_serve: the QUERY side of the index ON the
# stream (streaming_index_upsert ingests vectors; this serves arriving
# queries). Queries land in micro-batches; each batch is answered with
# the same pure-Catalyst LUT plan the batch serve uses, against the
# FROZEN persisted index — stateless per batch (no state store; the
# index is the state). The union of per-batch answers must equal the
# one-plan batch serve over the same query set, because queries are
# independent: the oracle is the shared trained batch-ADC chain.
#
# 100 TB shape: per-batch driver work is the arriving queries' LUT
# (n_batch_queries x nprobe x m x n_codes rows); cluster work is the
# partition-pruned scan of each batch's probed-list union. Serving
# latency tracks batch query count, never corpus size.
# ---------------------------------------------------------------------------
def _register_streaming_ann_serve():
    from .r8_round8 import _TRAINED_TL_CTE
    from .r10_round10 import _BATCH_ADC_CTES, ensure_persisted_ivfpq_index

    @register(
        "streaming_ann_serve",
        _TRAINED_TL_CTE + _BATCH_ADC_CTES + """
SELECT query_id, rank::INT AS rank, vec_id, adc_d2::BIGINT AS adc_d2
FROM (
  SELECT query_id, vec_id, adc_d2,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY adc_d2, vec_id) AS rank
  FROM adc)
WHERE rank <= 10 ORDER BY query_id, rank
""",
    )
    def streaming_ann_serve_query(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Serve STREAMED queries (the 8 smallest vec_ids, arriving in
        file-stream micro-batches) against the frozen persisted index:
        per batch, LUT-build for just that batch's queries and one
        partition-pruned serve plan; the drained union equals the
        batch serve row for row."""
        from ..operators import similarity
        from ..operators.similarity import (
            _index_m,
            _ivfpq_batch_lut,
            _ivfpq_serve_lut,
            _load_index_constants,
            _quantized_vec,
        )
        from ..streaming import jobs

        emb = load_table(spark, sf_dir, "embeddings")
        d = ensure_persisted_ivfpq_index(spark, sf_dir)
        cids, cmat, cb, n_codes = _load_index_constants(spark, d)
        m = _index_m(spark, d)
        qids = [
            int(r["vec_id"])
            for r in emb.select("vec_id").orderBy("vec_id").limit(8).collect()
        ]
        results: list = []

        def serve_batch(bdf, bid):
            qrows = sorted(
                bdf.filter(F.col("vec_id").isin(qids))
                .select(
                    "vec_id", _quantized_vec(F.col("embedding")).alias("xq")
                )
                .collect(),
                key=lambda r: r["vec_id"],
            )
            if not qrows:
                return
            lut_rows, probed = _ivfpq_batch_lut(
                qrows, cids, cmat, cb, n_codes, m, nprobe=2
            )
            results.extend(
                (int(r.query_id), int(r.rank), int(r.vec_id), int(r.adc_d2))
                for r in _ivfpq_serve_lut(spark, d, lut_rows, probed, 10)
                .collect()
            )

        stream = jobs.stream_table(spark, sf_dir, "embeddings")
        jobs.drain(stream.writeStream.foreachBatch(serve_batch))
        return tiny_df(
            spark,
            sorted(results),
            "query_id LONG, rank INT, vec_id LONG, adc_d2 LONG",
        ).orderBy("query_id", "rank")

    return streaming_ann_serve_query


streaming_ann_serve_query = _register_streaming_ann_serve()


# ---------------------------------------------------------------------------
# ROUND 11 — ann_index_stats: persisted-index OBSERVABILITY. The ops
# dashboard for a serving index reads per-list occupancy straight off
# the codes/ table (one partition-pruned-free scan, count + checksum
# per list) — and the numbers must equal the trained assignment of
# the corpus, which is exactly what the oracle replays. This is
# ivf_list_health's read-off re-pointed at the PERSISTED table: it
# proves the bytes on disk ARE the assignment (an encode bug, a lost
# partition, or a botched compact shows up as a count/checksum drift
# against the oracle).
# ---------------------------------------------------------------------------
def _register_ann_index_stats():
    from .r8_round8 import _TRAINED_TL_CTE
    from .r10_round10 import ensure_persisted_ivfpq_index

    @register(
        "ann_index_stats",
        _TRAINED_TL_CTE + """
SELECT list_id, COUNT(*)::BIGINT AS n_vectors,
       SUM(vec_id)::BIGINT AS vec_id_sum
FROM tl GROUP BY list_id ORDER BY list_id
""",
    )
    def ann_index_stats_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Per-list occupancy census of the persisted IVF-PQ index
        (count + vec_id checksum per list_id, read directly from the
        codes/ table): equals the trained assignment of the corpus.

        Plan shape / 100 TB: one scan of codes/ reading only
        (vec_id, list_id) — the codes column is pruned — into a
        16-row partial agg; the census an index ops loop polls
        between retrains."""
        from ..operators import similarity

        d = ensure_persisted_ivfpq_index(spark, sf_dir)
        return (
            similarity._codes_df(spark, d)
            .groupBy("list_id")
            .agg(
                F.count("*").cast("long").alias("n_vectors"),
                F.sum("vec_id").cast("long").alias("vec_id_sum"),
            )
            .orderBy("list_id")
        )

    return ann_index_stats_query


ann_index_stats_query = _register_ann_index_stats()
