"""Round-13 registry slice: executing the maintenance the round-12
policies only decided — the index RETRAIN (new generation trained on
live rows, one-manifest-flip cutover), the recall-after-churn report
that justifies the retrain threshold, and SemDeDup composed onto the
persisted serving index instead of retraining in-query.

Follows the established conventions: every query is a (spark, sf_dir)
-> DataFrame callable with a DuckDB oracle replaying the same exact
integer semantics, column names aliased identically on both sides.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..scratch import scratch
from ..operators.rowmap import doc_id_seed, map_rows
from ._shared import ORACLES, load_table, register


def _live_trained_tl_cte() -> str:
    """_TRAINED_TL_CTE with the corpus restricted to the retrain
    fixture's LIVE rows (vec_id % 25 <> 3): the retrained index is
    bit-equal to a from-scratch build over the live corpus, so its
    oracle is the from-scratch trained chain with the liveness
    predicate pushed into the vecs CTE — seeds, Lloyd rounds, codebook
    and candidates all derive from it. Loud failure if the splice
    marker ever drifts."""
    from .r8_round8 import _TRAINED_TL_CTE

    marker = "FROM embeddings\n"
    if _TRAINED_TL_CTE.count(marker) != 1:
        raise RuntimeError(
            "_TRAINED_TL_CTE lost its unique 'FROM embeddings' marker — "
            "the round-13 retrain oracle cannot inject the liveness "
            "predicate"
        )
    return _TRAINED_TL_CTE.replace(
        marker, "FROM embeddings WHERE vec_id % 25 <> 3\n"
    )


# ---------------------------------------------------------------------------
# ROUND 13 — ann_index_retrain_serve: EXECUTE the retrain that
# ann_index_retrain_policy only decides. The fixture walks the full
# maintenance life: build on BASE (vec_id % 10 <> 7), add the DELTA
# with frozen constants, tombstone vec_id % 25 = 3, COMPACT (so the
# retrain runs against a manifest-bearing, generation-rooted index,
# not a pristine one), then ivfpq_index_retrain — fresh quantizer +
# codebook trained on the LIVE rows, encoded into gen_r<G>/, one
# manifest flip (model_root) cutting constants/codes/vectors over
# atomically while the old generation serves until that instant
# (asserted in tests/test_round13.py). Serving the retrained index is
# bit-equal to a from-scratch build over the live corpus — the oracle
# replays exactly that: the trained ADC chain with the liveness
# predicate in the vecs CTE.
# ---------------------------------------------------------------------------
def _ensure_retrained_index(spark: SparkSession, sf_dir: str):
    """Build-once cache of the RETRAINED fixture index: the upsert
    fixture's construction (base build + delta add + tombstones),
    compacted, then retrained into a new model generation. Returns
    (embeddings, index_dir)."""
    from ..operators import similarity
    from ..sources.raw import source_fingerprint
    from .r8_round8 import _MAX_ITER, _N_LISTS

    emb = load_table(spark, sf_dir, "embeddings")
    d = scratch(
        f"ksr_annidx_retrain/{sf_dir.strip('/').replace('/', '_')}"
        f"_{source_fingerprint(sf_dir, table='embeddings')}"
    )
    built = os.path.join(d, "_BUILT")
    if not os.path.exists(built):
        base = emb.filter(F.col("vec_id") % 10 != 7)
        delta = emb.filter(F.col("vec_id") % 10 == 7)
        similarity.ivfpq_build_index(
            base, d, m=4, n_codes=8, n_lists=_N_LISTS, max_iter=_MAX_ITER
        )
        similarity.ivfpq_store_vectors(base, d)
        similarity.ivfpq_index_add(delta, d)
        similarity.ivfpq_index_delete(
            spark, d, emb.filter(F.col("vec_id") % 25 == 3)
        )
        similarity.ivfpq_index_compact(spark, d)
        similarity.ivfpq_index_retrain(
            spark, emb, d, max_iter=_MAX_ITER
        )
        with open(built, "w") as fh:
            fh.write("ok\n")
    return emb, d


def _register_ann_index_retrain_serve():
    from .r8_round8 import _IVFPQ_ADC_CTES

    @register(
        "ann_index_retrain_serve",
        _live_trained_tl_cte() + _IVFPQ_ADC_CTES + """
SELECT ROW_NUMBER() OVER (ORDER BY adc_d2, vec_id)::INT AS rank,
       vec_id, adc_d2::BIGINT AS adc_d2
FROM adc ORDER BY adc_d2, vec_id LIMIT 10
""",
    )
    def ann_index_retrain_serve_query(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Serve query 0 from the RETRAINED index (similarity.
        ivfpq_index_retrain over the compacted upsert fixture):
        bit-equal to a from-scratch ivfpq_build_index over the same
        live rows — same trainer, same seed conventions — which is
        what the oracle replays."""
        from ..operators import similarity

        emb, d = _ensure_retrained_index(spark, sf_dir)
        return similarity.ivfpq_serve_persisted(
            emb, d, query_vec_id=0, k=10, nprobe=2
        )

    return ann_index_retrain_serve_query


ann_index_retrain_serve_query = _register_ann_index_retrain_serve()


# ---------------------------------------------------------------------------
# ROUND 13 — ann_index_churn_recall: recall decay on the MAINTAINED
# index — the measurement that justifies ann_index_retrain_policy's
# threshold. Runs over the shared uncompacted upsert fixture (base
# build + frozen-constant delta adds + tombstones): per batch-serve
# query, top-k recall of the persisted ADC serve against the exact
# int64-L2 ground truth on the index's own live rows.
#
# Oracle: the upsert trained chain (through tl) + the batched ADC
# generalization (cb seeds from BASE, candidates live) + the exact
# top-k per query + the hit count — everything in exact integers.
# ---------------------------------------------------------------------------
def _register_ann_index_churn_recall():
    from .r11_round11 import _ensure_upsert_index
    from .r12_round12 import _upsert_tl_prefix

    tl_prefix = _upsert_tl_prefix()

    @register(
        "ann_index_churn_recall",
        tl_prefix + """
, resid AS (
  SELECT t.vec_id, t.list_id,
         list_transform(list_zip(w.v, f.c), p -> p[1] - p[2]) AS r
  FROM tl t JOIN vecs w USING (vec_id)
  JOIN fcents f ON f.cid = t.list_id
), qset AS (
  SELECT vec_id AS query_id, v AS qv FROM vecs
  QUALIFY row_number() OVER (ORDER BY vec_id) <= 8
), probe AS (
  SELECT q.query_id, f.cid AS list_id,
         ROW_NUMBER() OVER (
           PARTITION BY q.query_id
           ORDER BY list_reduce(list_prepend(CAST(0 AS BIGINT),
                      list_transform(list_zip(q.qv, f.c),
                                     p -> (p[1] - p[2]) * (p[1] - p[2]))),
                    (a, b) -> a + b) ASC, f.cid ASC) AS pr
  FROM qset q CROSS JOIN fcents f
), probed AS (
  SELECT query_id, list_id FROM probe WHERE pr <= 2
), cb AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code_id, r
  FROM resid WHERE vec_id % 10 <> 7
  QUALIFY row_number() OVER (ORDER BY vec_id) <= 8
), codes AS (
  SELECT c.vec_id, c.list_id, s.s,
         MIN(list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(
                 list_zip(list_slice(c.r, s.s * 16 + 1, s.s * 16 + 16),
                          list_slice(b.r, s.s * 16 + 1, s.s * 16 + 16)),
                 p -> (p[1] - p[2]) * (p[1] - p[2]))),
             (a, b) -> a + b) * 8 + b.code_id) % 8 AS code
  FROM resid c CROSS JOIN cb b, (SELECT UNNEST(range(4)) AS s) s
  WHERE c.list_id IN (SELECT DISTINCT list_id FROM probed)
    AND c.vec_id % 25 <> 3
  GROUP BY c.vec_id, c.list_id, s.s
), qresid AS (
  SELECT p.query_id, p.list_id,
         list_transform(list_zip(q.qv, f.c), x -> x[1] - x[2]) AS rq
  FROM probed p
  JOIN qset q USING (query_id)
  JOIN fcents f ON f.cid = p.list_id
), lut AS (
  SELECT q.query_id, q.list_id, s.s, b.code_id,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(
             list_zip(list_slice(q.rq, s.s * 16 + 1, s.s * 16 + 16),
                      list_slice(b.r, s.s * 16 + 1, s.s * 16 + 16)),
             p -> (p[1] - p[2]) * (p[1] - p[2]))),
           (a, b) -> a + b) AS d
  FROM qresid q CROSS JOIN cb b, (SELECT UNNEST(range(4)) AS s) s
), adc AS (
  SELECT l.query_id, cd.vec_id, SUM(l.d) AS adc_d2
  FROM codes cd
  JOIN lut l ON l.list_id = cd.list_id AND l.s = cd.s AND l.code_id = cd.code
  WHERE cd.vec_id <> l.query_id
  GROUP BY l.query_id, cd.vec_id
), served AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY adc_d2, vec_id) AS rk
    FROM adc)
  WHERE rk <= 10
), exact AS (
  SELECT q.query_id, w.vec_id,
         ROW_NUMBER() OVER (
           PARTITION BY q.query_id
           ORDER BY list_reduce(list_prepend(CAST(0 AS BIGINT),
                      list_transform(list_zip(w.v, q.qv),
                                     p -> (p[1] - p[2]) * (p[1] - p[2]))),
                    (a, b) -> a + b) ASC, w.vec_id ASC) AS rk
  FROM qset q JOIN vecs w
    ON w.vec_id <> q.query_id AND w.vec_id % 25 <> 3
), truth AS (
  SELECT query_id, vec_id FROM exact WHERE rk <= 10
)
SELECT q.query_id, COALESCE(h.hits, 0)::BIGINT AS hits,
       (COALESCE(h.hits, 0) * 1000 // 10)::BIGINT AS recall_milli
FROM qset q LEFT JOIN (
  SELECT s.query_id, COUNT(*) AS hits
  FROM served s JOIN truth t USING (query_id, vec_id)
  GROUP BY s.query_id
) h USING (query_id)
ORDER BY q.query_id
""",
    )
    def ann_index_churn_recall_query(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Per-query top-10 recall of the maintained index's batched
        ADC serve vs the exact ground truth on its live rows
        (similarity.ivfpq_index_churn_recall over the shared upsert
        fixture)."""
        from ..operators import similarity

        emb, d = _ensure_upsert_index(
            spark, sf_dir, "ksr_annidx_upsert", compact=False
        )
        return similarity.ivfpq_index_churn_recall(
            emb, d, n_queries=8, k=10, nprobe=2
        )

    return ann_index_churn_recall_query


ann_index_churn_recall_query = _register_ann_index_churn_recall()


# ---------------------------------------------------------------------------
# ROUND 13 — semdedup_persisted: SemDeDup composed onto the SERVING
# index. semdedup_trained retrains k-means inside the query; at 100 TB
# the embedding dedup should REUSE the coarse assignment the persisted
# serving index already computed — cluster membership comes from the
# index's live code rows (the manifest-aware pruned scan), and only
# the within-cluster dropped-only kernel runs. Same constants as the
# shared full-corpus fixture index (n_lists 16, max_iter 5), so the
# result is row-identical to semdedup_trained — shared oracle.
# ---------------------------------------------------------------------------
def _register_semdedup_persisted():
    from .r10_round10 import ensure_persisted_ivfpq_index

    @register("semdedup_persisted", ORACLES["semdedup_trained"])
    def semdedup_persisted_query(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """SemDeDup with clusters read from the persisted index's
        live codes instead of an in-query k-means retrain
        (dedup.semdedup_persisted): one manifest-aware codes scan
        (vec_id, list_id — the codes column pruned), then the shared
        within-cluster dropped-only kernel."""
        from ..operators import dedup

        emb = load_table(spark, sf_dir, "embeddings")
        d = ensure_persisted_ivfpq_index(spark, sf_dir)
        return dedup.semdedup_persisted(emb, d, threshold=0.4)

    return semdedup_persisted_query


semdedup_persisted_query = _register_semdedup_persisted()


# ---------------------------------------------------------------------------
# ROUND 13 — streaming_bytelevel_bpe_encode: the STREAMING leg of the
# byte-level (GPT-2-style) tokenizer — the one production pipelines
# actually run at ingest. Mirrors streaming_wordpiece_encode: the
# merge table is trained OFFLINE on the static corpus (the frozen
# model artifact), broadcast into every micro-batch, and each
# arriving document's pre-tokens are encoded map-side in one Arrow
# pass — stateless; the only stateful operator is the piece census
# aggregate (|vocab|-bounded, corpus-independent). Unlike the batch
# encode there is no distinct-word pre-census (a stream cannot be
# censused up front) — every occurrence encodes independently, which
# is the production shape. The drained per-piece census equals the
# batch bytelevel_bpe_encode's pieces weighted by occurrence counts —
# the batch oracle nested as a CTE. Arrival-order invariance is
# asserted in pytest (two shard orders, same census).
# ---------------------------------------------------------------------------
def _register_streaming_bytelevel_bpe():
    from .r12_round12 import _BYTELEVEL_BPE_SQL, _bytelevel_merges_cached

    @register(
        "streaming_bytelevel_bpe_encode",
        f"""
WITH bl AS (
{_BYTELEVEL_BPE_SQL}
)
SELECT piece, SUM(n_occurrences)::BIGINT AS n_uses
FROM (SELECT unnest(string_split(pieces, ' ')) AS piece, n_occurrences
      FROM bl)
GROUP BY piece ORDER BY piece
""",
    )
    def streaming_bytelevel_bpe_encode_query(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Stream-side byte-level BPE encode: 6 merges trained offline
        (the cached artifact), then every pre-token occurrence of the
        streamed corpus is encoded map-side inside its micro-batch;
        the drained census is one row per piece with its total use
        count."""
        from ..operators import text
        from ..streaming import jobs

        merges = _bytelevel_merges_cached(spark, sf_dir, 6)
        occurrences = (
            jobs.stream_table(spark, sf_dir, "documents")
            .select(
                F.explode(
                    F.regexp_extract_all(
                        F.col("text"), F.lit(text.BPE_ISH_REGEX), 0
                    )
                ).alias("w")
            )
            .filter(F.col("w").rlike(text._ASCII_PRINTABLE))
            .select("w", F.lit(1).cast("long").alias("freq"))
        )
        piece_stream = text.bytelevel_encode_words(
            occurrences, text._bytes_to_unicode(), merges
        ).select(F.explode(F.split("pieces", " ")).alias("piece"))
        out = jobs.run_available_now(
            piece_stream.groupBy("piece").agg(
                F.count("*").alias("n_uses")
            ),
            "streaming_bytelevel_bpe_encode",
        )
        return out.select(
            "piece", F.col("n_uses").cast("long").alias("n_uses")
        ).orderBy("piece")

    return streaming_bytelevel_bpe_encode_query


streaming_bytelevel_bpe_encode_query = _register_streaming_bytelevel_bpe()


# ---------------------------------------------------------------------------
# ROUND 13 — multimodal_jpeg_lossless_partial_decode: the LAST
# lossless-JPEG scan layout (the round-12 gate). T.81 allows any
# 1 <= Ns <= Nf component subset per scan; this fixture encodes each
# document's RGB array as TWO scans — one interleaving two channels,
# one carrying the third, with the grouping and group ORDER varying
# per doc — and the unified predictive decode loop (the ns=1 /
# ns=Nf special cases are now its degenerate forms) must reproduce
# the same pixels as the interleaved layout. Same per-channel LCG
# formulas, precisions, predictors and restart cadence as the
# interleaved/multiscan queries — shared oracle.
# ---------------------------------------------------------------------------
def _register_partial_lossless():
    @register(
        "multimodal_jpeg_lossless_partial_decode",
        ORACLES["multimodal_jpeg_lossless_rgb_decode"],
    )
    def multimodal_jpeg_lossless_partial_decode_query(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """REAL partially-interleaved lossless JPEG decode: the same
        pixel formulas as the interleaved query, encoded with a
        per-doc rotation of two-scan component groupings
        (multimodal.encode_jpeg_lossless scan_groups)."""
        import numpy as np

        from ..operators import multimodal

        groupings = (
            ((0, 1), (2,)),
            ((2,), (0, 1)),
            ((0,), (1, 2)),
            ((1, 2), (0,)),
            ((0, 2), (1,)),
        )

        def encode(d):
            w, h = 8 + d % 5, 6 + d % 3
            P = 8 if d % 2 == 0 else 16
            i = np.arange(w * h, dtype=np.int64)
            px = np.stack(
                [
                    (d * 37 + 101 * i) % (1 << P),
                    (d * 41 + 103 * i) % (1 << P),
                    (d * 43 + 107 * i) % (1 << P),
                ],
                axis=1,
            ).reshape(h, w, 3)
            blob = multimodal.encode_jpeg_lossless(
                px,
                P,
                predictor=d % 7 + 1,
                restart_interval=5 if d % 3 == 0 else 0,
                scan_groups=groupings[d % 5],
            )
            return [(d, blob)]

        docs = load_table(spark, sf_dir, "documents")
        media = map_rows(doc_id_seed(docs), encode, multimodal.MEDIA_SCHEMA)
        return multimodal.image_decode_checksum(media).orderBy("doc_id")

    return multimodal_jpeg_lossless_partial_decode_query


multimodal_jpeg_lossless_partial_decode_query = _register_partial_lossless()


# ---------------------------------------------------------------------------
# ROUND 13 — ann_index_retrain_refine_serve: the serving MATRIX holds
# across a retrain. The retrained generation carries its own refine
# store (gen_r<G>/vectors, landed by ivfpq_index_retrain when the old
# index had one), and the two-stage serve resolves BOTH stores through
# the model root — so shortlist and re-rank read the new generation
# with the same per-branch partition pruning. Bit-equal to the
# from-scratch two-stage serve over the live corpus: the oracle is the
# refine replay with the liveness predicate in the vecs CTE.
# ---------------------------------------------------------------------------
def _register_retrain_refine_serve():
    from .r8_round8 import _TRAINED_TL_CTE
    from .r9_round9 import _REFINE_SQL

    if not _REFINE_SQL.startswith(_TRAINED_TL_CTE):
        raise RuntimeError(
            "_REFINE_SQL no longer starts with _TRAINED_TL_CTE — the "
            "round-13 retrained refine oracle cannot swap the corpus CTE"
        )
    tail = _REFINE_SQL[len(_TRAINED_TL_CTE):]

    @register(
        "ann_index_retrain_refine_serve", _live_trained_tl_cte() + tail
    )
    def ann_index_retrain_refine_serve_query(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Two-stage (shortlist + exact re-rank) serve of query 0 from
        the RETRAINED index — both stages read the gen_r generation
        through the manifest's model root."""
        from ..operators import similarity

        emb, d = _ensure_retrained_index(spark, sf_dir)
        return similarity.ivfpq_serve_refine_persisted(
            emb, d, query_vec_id=0, k=10, refine_factor=4, nprobe=2
        )

    return ann_index_retrain_refine_serve_query


ann_index_retrain_refine_serve_query = _register_retrain_refine_serve()


# ---------------------------------------------------------------------------
# ROUND 13 — ann_index_retrain_health: the loop CLOSES. The round-12
# policy fired retrain on the churned fixture (imbalance/empty-list
# drift); after ivfpq_index_retrain the SAME census — now reading the
# new generation's codes through the model root, with the trained
# n_lists from the new _META — must show the index healthy again
# (retrain = 0: the quantizer was just trained on exactly the live
# distribution). Policy -> retrain -> policy-green is the full
# maintenance cycle, each leg oracle-checked.
# ---------------------------------------------------------------------------
def _register_retrain_health():
    from .r8_round8 import _N_LISTS

    nl = _N_LISTS

    @register(
        "ann_index_retrain_health",
        _live_trained_tl_cte() + f"""
, census AS (
  SELECT t.list_id, COUNT(*) AS c FROM tl t GROUP BY t.list_id
)
SELECT {nl}::BIGINT AS n_lists,
       COUNT(*)::BIGINT AS n_live_lists,
       ({nl} - COUNT(*))::BIGINT AS n_empty_lists,
       SUM(c)::BIGINT AS n_live_vectors,
       (({nl} * SUM(c * c) * 1000) // (SUM(c) * SUM(c)))::BIGINT
         AS imbalance_milli,
       (CASE WHEN ({nl} * SUM(c * c) * 1000) // (SUM(c) * SUM(c)) >= 1200
                  OR ({nl} - COUNT(*)) * 1000 >= {nl} * 125
             THEN 1 ELSE 0 END)::INT AS retrain
FROM census
""",
    )
    def ann_index_retrain_health_query(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Retrain-policy census on the RETRAINED fixture index
        (similarity.ivfpq_index_retrain_policy through the model
        root): the post-retrain health readout."""
        from ..operators import similarity

        _, d = _ensure_retrained_index(spark, sf_dir)
        return similarity.ivfpq_index_retrain_policy(
            spark, d, imbalance_threshold_milli=1200,
            empty_threshold_milli=125,
        )

    return ann_index_retrain_health_query


ann_index_retrain_health_query = _register_retrain_health()
