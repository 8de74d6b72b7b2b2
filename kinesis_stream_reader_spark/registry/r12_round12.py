"""Round-12 registry slice: the persisted index's production serving
completions — two-stage shortlist+refine against the on-disk store,
attribute-filtered serving pushed into the pruned codes scan, the
streaming DELETE leg with its auto-compaction policy — plus streaming
near-dup MinHash and the byte-level BPE tokenizer leg.

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
from ._shared import load_table, register
from ..operators import tiny_df


def _upsert_tl_prefix() -> str:
    """The _UPSERT_ADC_SQL CTE chain through tl (the trained
    full-corpus assignment) — the shared fixture replay three round-12
    oracles compose. Split ONCE, with a loud failure if the marker
    ever drifts (a silent miss would return the whole SQL and malform
    every composed oracle)."""
    from .r11_round11 import _UPSERT_ADC_SQL

    head, sep, _ = _UPSERT_ADC_SQL.partition(", resid AS (")
    if not sep:
        raise RuntimeError(
            "_UPSERT_ADC_SQL lost its ', resid AS (' marker — the "
            "composed round-12 oracles cannot extract the tl prefix"
        )
    return head


# ---------------------------------------------------------------------------
# ROUND 12 — ann_index_refine_serve: TWO-STAGE serving against the
# PERSISTED index (FAISS IndexRefineFlat over an on-disk IndexIVFPQ).
# ann_ivfpq_refine proved the semantics but re-ranked against the
# in-memory vector DataFrame; production fetches the shortlist's raw
# vectors from a store partitioned like the codes. Build time lands
# vectors/ hive-partitioned by the SAME trained list assignment, so
# BOTH stages are file-level partition pruning: the ADC shortlist scans
# nprobe/n_lists of codes/, and the exact re-rank scans nprobe/n_lists
# of vectors/ with the k*refine_factor shortlist broadcast. Must be
# row-identical to ann_ivfpq_refine — shared oracle (_REFINE_SQL).
# ---------------------------------------------------------------------------
def _register_ann_index_refine_serve():
    from .r9_round9 import _REFINE_SQL
    from .r10_round10 import ensure_persisted_ivfpq_index

    @register("ann_index_refine_serve", _REFINE_SQL)
    def ann_index_refine_serve_query(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Persisted two-stage serve (similarity.
        ivfpq_serve_refine_persisted): ADC shortlist of k*refine_factor
        from the partition-pruned codes/ scan, exact int64 re-rank via
        a partition-pruned join on vectors/. Row-identical to
        ann_ivfpq_refine on the same corpus and hyperparameters."""
        from ..operators import similarity

        emb = load_table(spark, sf_dir, "embeddings")
        d = ensure_persisted_ivfpq_index(spark, sf_dir)
        return similarity.ivfpq_serve_refine_persisted(
            emb, d, query_vec_id=0, k=10, refine_factor=4, nprobe=2
        )

    return ann_index_refine_serve_query


ann_index_refine_serve_query = _register_ann_index_refine_serve()


# ---------------------------------------------------------------------------
# ROUND 12 — ann_index_filtered_serve: attribute-filtered serving on
# the PERSISTED index. ann_ivf_filtered pre-filters inside probed
# lists but evaluates the predicate in an Arrow pass over the
# in-memory corpus; here the label rides the vectors/ store as an
# ordinary parquet column, so the predicate reaches the scan as a
# PUSHED parquet filter composed with the probed-list partition
# pruning — the query reads nprobe/n_lists of the store and row-group
# stats skip label-homogeneous groups inside that. Pure Catalyst
# (zip_with/aggregate exact L2); bit-equal to ann_ivf_filtered —
# shared oracle.
# ---------------------------------------------------------------------------
def _register_ann_index_filtered_serve():
    from .r10_round10 import _filtered_sql, ensure_persisted_ivfpq_index

    @register("ann_index_filtered_serve", _filtered_sql())
    def ann_index_filtered_serve_query(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Persisted filtered serve (similarity.
        ivf_serve_filtered_persisted): label = 1 candidates inside the
        query's 2 probed lists, exact int64 L2, predicate pushed into
        the partition-pruned vectors/ scan."""
        from ..operators import similarity

        emb = load_table(spark, sf_dir, "embeddings")
        d = ensure_persisted_ivfpq_index(spark, sf_dir)
        return similarity.ivf_serve_filtered_persisted(
            emb, d, query_vec_id=0, k=10, nprobe=2, label=1
        )

    return ann_index_filtered_serve_query


ann_index_filtered_serve_query = _register_ann_index_filtered_serve()


# ---------------------------------------------------------------------------
# ROUND 12 — streaming_index_delete_serve: the DELETE leg of the index
# lifecycle ON the stream (round 11 streamed adds; deletes were
# batch-only). Tombstone ids arrive in micro-batches and are ingested
# foreachBatch -> ivfpq_index_delete (append to tombstones/ — the
# streaming_index_upsert pattern applied to the delete path). Replay-
# safe by construction: tombstones are de-duplicated at serve time, so
# an at-least-once re-append of a micro-batch is harmless — the delete
# leg needs no batch-id guard. After the drain, serving must be
# bit-identical to the BATCH tombstone serve over the same maintained
# corpus (ann_index_upsert_serve) — appends of tombstone subsets
# commute exactly like code-row appends. Shared oracle
# (_UPSERT_ADC_SQL).
#
# 100 TB shape: per-batch work is one tombstone append (a row per
# deleted id); no state store — the tombstone relation IS the state.
# ---------------------------------------------------------------------------
def _register_streaming_index_delete():
    from .r8_round8 import _MAX_ITER, _N_LISTS
    from .r11_round11 import _UPSERT_ADC_SQL

    @register("streaming_index_delete_serve", _UPSERT_ADC_SQL)
    def streaming_index_delete_serve_query(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Build base (vec_id % 10 <> 7) + add delta, then ingest the
        vec_id % 25 = 3 tombstones from a STREAM (foreachBatch ->
        ivfpq_index_delete); serve query 0 — equal to
        ann_index_upsert_serve row for row."""
        from ..operators import similarity
        from ..sources.raw import source_fingerprint
        from ..streaming import jobs

        emb = load_table(spark, sf_dir, "embeddings")
        d = scratch(
            f"ksr_annidx_sdel/{sf_dir.strip('/').replace('/', '_')}"
            f"_{source_fingerprint(sf_dir, table='embeddings')}"
        )
        built = os.path.join(d, "_BUILT")
        if not os.path.exists(built):
            base = emb.filter(F.col("vec_id") % 10 != 7)
            delta = emb.filter(F.col("vec_id") % 10 == 7)
            similarity.ivfpq_build_index(
                base, d, m=4, n_codes=8, n_lists=_N_LISTS,
                max_iter=_MAX_ITER,
            )
            similarity.ivfpq_index_add(delta, d)
            stream = jobs.stream_table(spark, sf_dir, "embeddings")
            jobs.drain(
                stream.writeStream.foreachBatch(
                    lambda bdf, bid: similarity.ivfpq_index_delete(
                        spark,
                        d,
                        bdf.filter(F.col("vec_id") % 25 == 3).select("vec_id"),
                    )
                )
            )
            with open(built, "w") as fh:
                fh.write("ok\n")
        return similarity.ivfpq_serve_persisted(
            emb, d, query_vec_id=0, k=10, nprobe=2
        )

    return streaming_index_delete_serve_query


streaming_index_delete_serve_query = _register_streaming_index_delete()


# ---------------------------------------------------------------------------
# ROUND 12 — ann_index_compact_policy: the auto-compaction TRIGGER.
# Deletes are logical (tombstones); the physical rewrite is worth
# paying per LIST, when that list's tombstone fraction crosses a
# threshold — this query is the census a maintenance loop polls to
# decide which lists to hand ivfpq_index_compact next. Runs over the
# UPSERT fixture (base build + delta add + vec_id % 25 = 3 tombstones,
# NOT compacted), threshold 40 milli, so the flags split around the
# ~40/1000 expected tombstone share and both outcomes are exercised.
#
# Oracle: the _UPSERT_ADC_SQL prefix through the full-corpus trained
# assignment (tl), then the tombstone overlay census — the tombstone
# predicate (vec_id % 25 = 3) is replayed directly.
# ---------------------------------------------------------------------------
def _register_ann_index_compact_policy():
    from .r11_round11 import _ensure_upsert_index

    tl_prefix = _upsert_tl_prefix()

    @register(
        "ann_index_compact_policy",
        tl_prefix + """
, census AS (
  SELECT t.list_id,
         COUNT(*) AS n_vectors,
         SUM(CASE WHEN t.vec_id % 25 = 3 THEN 1 ELSE 0 END)
           AS n_tombstoned
  FROM tl t GROUP BY t.list_id
)
SELECT list_id, n_vectors::BIGINT AS n_vectors,
       n_tombstoned::BIGINT AS n_tombstoned,
       (n_tombstoned * 1000 // n_vectors)::BIGINT AS tomb_milli,
       (CASE WHEN n_tombstoned * 1000 >= n_vectors * 40
             THEN 1 ELSE 0 END)::INT AS compact
FROM census ORDER BY list_id
""",
    )
    def ann_index_compact_policy_query(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Per-list tombstone census + compact decision
        (similarity.ivfpq_index_compact_policy, threshold 40 milli)
        over the shared upsert fixture index."""
        from ..operators import similarity

        _, d = _ensure_upsert_index(
            spark, sf_dir, "ksr_annidx_upsert", compact=False
        )
        return similarity.ivfpq_index_compact_policy(
            spark, d, threshold_milli=40
        )

    return ann_index_compact_policy_query


ann_index_compact_policy_query = _register_ann_index_compact_policy()


# ---------------------------------------------------------------------------
# ROUND 12 — streaming_minhash_dedup: near-dup MinHash ON the stream,
# the dedup family's last missing leg. Each arriving micro-batch
# computes its banded-LSH bucket keys map-side (a document's signature
# is wholly contained in its row — minhash_bucket_keys runs inside
# foreachBatch unchanged), appends them to the accumulated bucket
# index, and probes that index for collisions: a colliding pair is
# discovered exactly when its LATER member arrives, so the drained
# candidate set equals the batch LSH candidate set regardless of how
# arrival slices the corpus. The drain then runs the shared exact-
# Jaccard verify + component walk (the batch minhash_dedup post-pass)
# over the accumulated candidates. Replay-safe without a batch-id
# guard: buckets and candidates are de-duplicated at drain time.
#
# Oracle: dedup_minhash_canonical's — the streamed mapping must equal
# the batch near-dup contract row for row.
#
# 100 TB shape: per-batch work is one Arrow signature pass over the
# batch + an equi-join against the bucket index on (band, bucket);
# state = the bucket index, 16 longs per document (the index-is-the-
# state pattern) — a retention watermark truncates it to the dedup
# window in a time-decayed deployment. See SCALING.md.
# ---------------------------------------------------------------------------
def _register_streaming_minhash_dedup():
    from ._shared import ORACLES

    @register("streaming_minhash_dedup", ORACLES["dedup_minhash_canonical"])
    def streaming_minhash_dedup_query(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Stream documents in micro-batches; per batch, append LSH
        bucket keys to the accumulated index and record collisions;
        after the drain, verify candidates with exact Jaccard and walk
        components — equal to dedup_minhash_canonical row for row."""
        from ..operators import dedup
        from ..sources.raw import source_fingerprint
        from ..streaming import jobs

        docs = load_table(spark, sf_dir, "documents")
        d = scratch(
            f"ksr_minhash_stream/{sf_dir.strip('/').replace('/', '_')}"
            f"_{source_fingerprint(sf_dir, table='documents')}"
        )
        buckets_dir = os.path.join(d, "buckets")
        cand_dir = os.path.join(d, "cand")
        done = os.path.join(d, "_DRAINED")
        bschema = "doc_id LONG, band INT, bucket LONG"
        if not os.path.exists(done):
            def ingest(bdf, bid):
                # cache: the signature pass (shingles + 32 hashes) is
                # the dominant per-batch cost, and bk feeds BOTH the
                # index append and the collision probe — without the
                # cache Spark recomputes it for the join job
                bk = dedup.minhash_bucket_keys(bdf).cache()
                bk.write.mode("append").parquet(buckets_dir)
                acc = spark.read.schema(bschema).parquet(buckets_dir)
                a, b = bk.alias("a"), acc.alias("b")
                (
                    a.join(
                        b,
                        (F.col("a.band") == F.col("b.band"))
                        & (F.col("a.bucket") == F.col("b.bucket"))
                        & (F.col("a.doc_id") != F.col("b.doc_id")),
                    )
                    .select(
                        F.least("a.doc_id", "b.doc_id").alias("a_id"),
                        F.greatest("a.doc_id", "b.doc_id").alias("b_id"),
                    )
                    .distinct()
                    .write.mode("append")
                    .parquet(cand_dir)
                )
                bk.unpersist()

            stream = jobs.stream_table(spark, sf_dir, "documents")
            jobs.drain(stream.writeStream.foreachBatch(ingest))
            with open(done, "w") as fh:
                fh.write("ok\n")
        cand = (
            spark.read.schema("a_id LONG, b_id LONG")
            .parquet(cand_dir)
            .distinct()
        )
        verified = dedup.minhash_verify_pairs(docs, cand)
        labels = dedup.dedup_components(docs, verified)
        return labels.select(
            "doc_id",
            F.col("component_id").alias("canonical_id"),
            (F.col("doc_id") != F.col("component_id")).alias("is_dup"),
        ).orderBy("doc_id")

    return streaming_minhash_dedup_query


streaming_minhash_dedup_query = _register_streaming_minhash_dedup()


# ---------------------------------------------------------------------------
# ROUND 12 — multimodal_jpeg_lossless_multiscan_decode: NON-INTERLEAVED
# lossless JPEG (one SOS per component, legal per T.81 §H — the layout
# round 11 turned from silent-wrong-pixels into NotImplementedError,
# now decoded). Each scan walks its component plane with its own
# predictor/restart state; the image assembles when all declared
# components have decoded. The decoded pixels are identical to the
# interleaved layout of the same source array, so the oracle is the
# interleaved query's closed-form checksum verbatim.
# ---------------------------------------------------------------------------
def _register_multiscan_lossless():
    from ._shared import ORACLES

    @register(
        "multimodal_jpeg_lossless_multiscan_decode",
        ORACLES["multimodal_jpeg_lossless_rgb_decode"],
    )
    def multimodal_jpeg_lossless_multiscan_decode_query(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """REAL non-interleaved lossless JPEG decode: the same
        per-channel LCG pixel formulas, precisions, predictors and
        restart cadence as the interleaved query, but encoded with
        one scan per component (multimodal.encode_jpeg_lossless with
        scan_groups ((0,), (1,), (2,)))."""
        import numpy as np

        from ..operators import multimodal

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
                scan_groups=((0,), (1,), (2,)),
            )
            return [(d, blob)]

        docs = load_table(spark, sf_dir, "documents")
        media = map_rows(doc_id_seed(docs), encode, multimodal.MEDIA_SCHEMA)
        return multimodal.image_decode_checksum(media).orderBy("doc_id")

    return multimodal_jpeg_lossless_multiscan_decode_query


multimodal_jpeg_lossless_multiscan_decode_query = (
    _register_multiscan_lossless()
)


# ---------------------------------------------------------------------------
# ROUND 12 — bytelevel_bpe_encode: the byte-level (GPT-2-style) BPE
# leg, completing the tokenizer family (WordPiece + Unigram-LM +
# merges-trained char BPE exist). bytes_to_unicode seeding, merges
# trained with the shared greedy loop over the BPE_ISH pre-token
# census (raw case, no lowercase), frozen merges broadcast into one
# Arrow encode pass in rank order. The oracle replays the whole
# construction with the r2 unrolled-round window algebra — pre-token
# census, byte seeding (identity on the printable-ASCII domain both
# sides pin), 6 argmax+merge rounds, and the final per-word piece
# sequences; applying merges in rank order IS the reference BPE apply,
# so the trainer's final state equals the encoder's walk.
# ---------------------------------------------------------------------------
def _bytelevel_merges_cached(spark, sf_dir: str, rounds: int) -> list:
    """Fingerprint-keyed scratch cache of the byte-level BPE merge
    table (the model artifact — a list of rank-ordered string pairs,
    a few hundred bytes of JSON): training is a driver-loop of
    `rounds` Spark rounds, so re-runs (the compare report, bench
    passes) load the frozen artifact instead of re-training."""
    import json

    from ..operators import text
    from ..sources.raw import source_fingerprint

    d = scratch(
        f"ksr_blbpe/{sf_dir.strip('/').replace('/', '_')}"
        f"_{source_fingerprint(sf_dir, table='documents')}"
    )
    p = os.path.join(d, f"merges_r{rounds}.json")
    if os.path.exists(p):
        with open(p) as fh:
            return [tuple(m) for m in json.load(fh)]
    words = text.bytelevel_bpe_pretokens(
        load_table(spark, sf_dir, "documents")
    )
    merges = text.bytelevel_bpe_train(words, rounds)
    os.makedirs(d, exist_ok=True)
    with open(p, "w") as fh:
        json.dump(merges, fh)
    return merges


def _register_bytelevel_bpe():
    from .r2_state_retrieval import _bpe_round_sql

    rounds = 6
    sql = (
        r"""
WITH words AS (
  SELECT w, COUNT(*) AS freq FROM (
    SELECT unnest(regexp_extract_all(
             text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS w
    FROM documents
  ) WHERE w <> '' AND regexp_matches(w, '^[!-~]+$') GROUP BY w
),
s0 AS (
  SELECT w, freq, generate_subscripts(syms, 1) - 1 AS seq, unnest(syms) AS sym
  FROM (SELECT w, freq,
               list_filter(string_split(w, ''), c -> c <> '') AS syms
        FROM words)
),"""
        + ",".join(_bpe_round_sql(i) for i in range(1, rounds + 1))
        + f"""
SELECT w AS word, CAST(ANY_VALUE(freq) AS BIGINT) AS n_occurrences,
       string_agg(sym, ' ' ORDER BY seq) AS pieces,
       COUNT(*)::INT AS n_pieces
FROM s{rounds} GROUP BY w ORDER BY w
"""
    )

    @register("bytelevel_bpe_encode", sql)
    def bytelevel_bpe_encode_query(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Byte-level BPE encode (text.bytelevel_bpe_encode, 6 trained
        merges): one row per distinct pre-token with its rank-greedy
        piece sequence and fertility."""
        from ..operators import text

        return text.bytelevel_bpe_encode(
            load_table(spark, sf_dir, "documents"),
            rounds=rounds,
            merges=_bytelevel_merges_cached(spark, sf_dir, rounds),
        )

    return bytelevel_bpe_encode_query, sql


bytelevel_bpe_encode_query, _BYTELEVEL_BPE_SQL = _register_bytelevel_bpe()


# ---------------------------------------------------------------------------
# ROUND 12 — tokenizer_compare_report goes THREE-WAY: WordPiece vs
# Unigram-LM vs byte-level BPE on the same corpus. Re-registered here
# (register() overwrites; r12 imports last) so the byte-level oracle —
# registered this round — can nest beside the other two. Same stats
# per leg: distinct pieces actually used, corpus-weighted fertility.
# Note the byte-level leg censuses PRE-TOKENS (BPE_ISH regex, raw
# case) while the other two census whitespace words — the comparison
# reports each tokenizer over its own tokenization contract, which is
# how the eval runs in practice.
# ---------------------------------------------------------------------------
def _register_tokenizer_compare_threeway():
    from ._shared import ORACLES

    wp_sql = ORACLES["wordpiece_encode"]
    ug_sql = ORACLES["unigram_lm_encode"]

    def leg(alias: str, name: str) -> str:
        return f"""
  SELECT '{name}' AS tokenizer,
         (SELECT COUNT(DISTINCT piece) FROM
            (SELECT unnest(string_split(pieces, ' ')) AS piece
             FROM {alias})
         )::BIGINT AS n_pieces_used,
         SUM(n_occurrences)::BIGINT AS total_words,
         SUM(n_occurrences * n_pieces)::BIGINT AS total_pieces,
         floor(SUM(n_occurrences * n_pieces)
               / CAST(SUM(n_occurrences) AS DOUBLE) * 1e6 + 0.5) / 1e6
           AS fertility
  FROM {alias}"""

    @register(
        "tokenizer_compare_report",
        f"""
WITH wp AS (
{wp_sql}
), ug AS (
{ug_sql}
), bl AS (
{_BYTELEVEL_BPE_SQL}
)
SELECT * FROM (
{leg('bl', 'bytelevel_bpe')}
  UNION ALL
{leg('ug', 'unigram')}
  UNION ALL
{leg('wp', 'wordpiece')}
) ORDER BY tokenizer
""",
    )
    def tokenizer_compare_report_query(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """WordPiece vs Unigram-LM vs byte-level BPE on the same
        corpus: distinct pieces actually used and corpus-weighted
        fertility (pieces per word occurrence) — lower fertility =
        fewer tokens per document = cheaper training."""
        from ..operators import text

        docs = load_table(spark, sf_dir, "documents")

        def stats(df: DataFrame, name: str) -> DataFrame:
            # ONE pass per leg (optimization round 13, guide §1.2): the
            # encode relation fed two consumers (distinct-piece census +
            # fertility sums), re-running the whole encode. Fused over a
            # single posexplode: each word emits n_pieces rows (the
            # encoders construct n_pieces == size(split(pieces)) by
            # definition), so SUM(n_occurrences) over ALL exploded rows
            # IS sum(n_occurrences * n_pieces), and the pos=0 slice
            # recovers sum(n_occurrences). Values identical.
            ex = df.select(
                "n_occurrences",
                F.posexplode(F.split("pieces", " ")).alias("pos", "piece"),
            )
            return (
                ex.agg(
                    F.count_distinct("piece").alias("npu"),
                    F.sum(
                        F.when(F.col("pos") == 0, F.col("n_occurrences"))
                    ).alias("tw"),
                    F.sum("n_occurrences").alias("tp"),
                )
                .select(
                    F.lit(name).alias("tokenizer"),
                    F.col("npu").cast("long").alias("n_pieces_used"),
                    F.col("tw").cast("long").alias("total_words"),
                    F.col("tp").cast("long").alias("total_pieces"),
                    (
                        F.floor(
                            F.col("tp")
                            / F.col("tw").cast("double")
                            * 1e6
                            + F.lit(0.5)
                        )
                        / 1e6
                    ).alias("fertility"),
                )
            )

        return (
            stats(
                text.bytelevel_bpe_encode(
                    docs,
                    merges=_bytelevel_merges_cached(spark, sf_dir, 6),
                ),
                "bytelevel_bpe",
            )
            .unionByName(stats(text.unigram_lm_encode(docs), "unigram"))
            .unionByName(stats(text.wordpiece_encode(docs), "wordpiece"))
            .orderBy("tokenizer")
        )

    return tokenizer_compare_report_query


tokenizer_compare_report_query = _register_tokenizer_compare_threeway()


# ---------------------------------------------------------------------------
# ROUND 12 — ann_index_refine_serve_batch: the batched composition of
# the two round-12 serving legs — N queries' shortlists from ONE
# pruned codes/ scan, every shortlist re-ranked from ONE pruned
# vectors/ scan. Oracle: the batch ADC chain + per-query shortlist
# window + exact re-rank join.
# ---------------------------------------------------------------------------
def _register_ann_index_refine_serve_batch():
    from .r8_round8 import _TRAINED_TL_CTE
    from .r10_round10 import _BATCH_ADC_CTES, ensure_persisted_ivfpq_index

    @register(
        "ann_index_refine_serve_batch",
        _TRAINED_TL_CTE + _BATCH_ADC_CTES + """
, short AS (
  SELECT query_id, vec_id, adc_d2 FROM (
    SELECT query_id, vec_id, adc_d2,
           ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY adc_d2, vec_id) AS rn
    FROM adc) WHERE rn <= 40
), rer AS (
  SELECT s.query_id, s.vec_id, s.adc_d2,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(list_zip(w.v, q.qv),
                          p -> (p[1] - p[2]) * (p[1] - p[2]))),
           (a, b) -> a + b) AS exact_d2
  FROM short s JOIN vecs w USING (vec_id) JOIN qset q USING (query_id)
)
SELECT query_id, rank::INT AS rank, vec_id,
       adc_d2::BIGINT AS adc_d2, exact_d2::BIGINT AS exact_d2
FROM (SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY exact_d2, vec_id) AS rank
      FROM rer)
WHERE rank <= 10 ORDER BY query_id, rank
""",
    )
    def ann_index_refine_serve_batch_query(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Batched persisted two-stage serve (similarity.
        ivfpq_serve_refine_persisted_batch): 8 queries, shortlist 40,
        exact top-10 each — both stores scanned once, both pruned."""
        from ..operators import similarity

        emb = load_table(spark, sf_dir, "embeddings")
        d = ensure_persisted_ivfpq_index(spark, sf_dir)
        return similarity.ivfpq_serve_refine_persisted_batch(
            emb, d, n_queries=8, k=10, refine_factor=4, nprobe=2
        )

    return ann_index_refine_serve_batch_query


ann_index_refine_serve_batch_query = _register_ann_index_refine_serve_batch()


# ---------------------------------------------------------------------------
# ROUND 12 — ann_index_manifest_stats: integrity census of the
# generation manifest the compaction machinery maintains — per list:
# which root directory serves it and how many live rows it holds.
# Over the COMPACTED upsert fixture the roots are fully determined by
# the tombstone predicate (lists bearing vec_id % 25 = 3 rows were
# rewritten into generation 1; the rest still live in codes/), so the
# oracle replays the trained assignment + that rule. The ops query a
# maintenance loop runs to audit that the manifest, the stores, and
# the census agree.
# ---------------------------------------------------------------------------
def _register_ann_index_manifest_stats():
    from .r11_round11 import _ensure_upsert_index

    tl_prefix = _upsert_tl_prefix()

    @register(
        "ann_index_manifest_stats",
        tl_prefix + """
, census AS (
  SELECT t.list_id,
         SUM(CASE WHEN t.vec_id % 25 <> 3 THEN 1 ELSE 0 END) AS n_live,
         MAX(CASE WHEN t.vec_id % 25 = 3 THEN 1 ELSE 0 END) AS affected
  FROM tl t GROUP BY t.list_id
)
SELECT list_id,
       CASE WHEN affected = 0 THEN 'codes'
            WHEN n_live > 0 THEN 'codes_c1' ELSE 'dropped' END AS root,
       n_live::BIGINT AS n_live
FROM census ORDER BY list_id
""",
    )
    def ann_index_manifest_stats_query(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Per-list (root, live-row) census of the compacted fixture
        index, read from the _MANIFEST + the manifest-aware codes
        reader — must equal the tombstone-predicate replay."""
        from ..operators import similarity

        _, d = _ensure_upsert_index(
            spark, sf_dir, "ksr_annidx_compact", compact=True
        )
        manifest = similarity._load_manifest(spark, d) or {"roots": {}}
        live = (
            similarity._codes_df(spark, d)
            .groupBy("list_id")
            .agg(F.count("*").cast("long").alias("n_live"))
        )
        roots = [
            (int(lid), dirs[0] if dirs else "dropped")
            for lid, dirs in manifest["roots"].items()
        ]
        if roots:
            rdf = tiny_df(spark, roots, "list_id LONG, root STRING")
        else:
            rdf = similarity._empty_df(spark, "list_id LONG, root STRING")
        return (
            live.join(F.broadcast(rdf), "list_id", "full")
            .select(
                "list_id",
                F.coalesce(F.col("root"), F.lit("codes")).alias("root"),
                F.coalesce(F.col("n_live"), F.lit(0).cast("long")).alias(
                    "n_live"
                ),
            )
            .orderBy("list_id")
        )

    return ann_index_manifest_stats_query


ann_index_manifest_stats_query = _register_ann_index_manifest_stats()


# ---------------------------------------------------------------------------
# ROUND 12 (second pass) — ann_index_refine_filtered_serve: the LAST
# cell of the persisted serving matrix ({flat, refine} x {unfiltered,
# filtered}). Pre-filter semantics composed with the two-stage shape:
# the eligible set comes off the pruned+pushed vectors/ scan, the ADC
# shortlist ranks only eligible live codes, and the exact re-rank
# reads the same pruned+filtered vectors. Oracle: the shared trained
# chain + label-filtered shortlist + exact re-rank, all exact ints.
# ---------------------------------------------------------------------------
def _register_ann_index_refine_filtered_serve():
    from .r8_round8 import _IVFPQ_ADC_CTES, _TRAINED_TL_CTE
    from .r10_round10 import ensure_persisted_ivfpq_index

    @register(
        "ann_index_refine_filtered_serve",
        _TRAINED_TL_CTE + _IVFPQ_ADC_CTES + """
, fshort AS (
  SELECT a.vec_id, a.adc_d2 FROM adc a JOIN embeddings e USING (vec_id)
  WHERE e.label = 1 ORDER BY a.adc_d2, a.vec_id LIMIT 40
), frer AS (
  SELECT s.vec_id, s.adc_d2, CAST(e.label AS BIGINT) AS label,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(list_zip(w.v, (SELECT v FROM qv0)),
                          p -> (p[1] - p[2]) * (p[1] - p[2]))),
           (a, b) -> a + b) AS exact_d2
  FROM fshort s JOIN vecs w USING (vec_id) JOIN embeddings e USING (vec_id)
)
SELECT ROW_NUMBER() OVER (ORDER BY exact_d2, vec_id)::INT AS rank,
       vec_id, label, adc_d2::BIGINT AS adc_d2,
       exact_d2::BIGINT AS exact_d2
FROM frer ORDER BY exact_d2, vec_id LIMIT 10
""",
    )
    def ann_index_refine_filtered_serve_query(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Filtered two-stage persisted serve (similarity.
        ivfpq_serve_refine_filtered_persisted): label = 1 eligibility
        pushed into the pruned vectors/ scan, ADC shortlist of
        k*refine_factor among eligible live codes, exact int64
        re-rank."""
        from ..operators import similarity

        emb = load_table(spark, sf_dir, "embeddings")
        d = ensure_persisted_ivfpq_index(spark, sf_dir)
        return similarity.ivfpq_serve_refine_filtered_persisted(
            emb, d, query_vec_id=0, k=10, refine_factor=4, nprobe=2,
            label=1,
        )

    return ann_index_refine_filtered_serve_query


ann_index_refine_filtered_serve_query = (
    _register_ann_index_refine_filtered_serve()
)


# ---------------------------------------------------------------------------
# ROUND 12 (second pass) — ann_index_retrain_policy: the index-level
# RETRAIN trigger beside the per-list compact trigger — completing the
# maintenance policy pair. Adds/deletes drift live occupancy away from
# the trained balance; the FAISS health signal is the imbalance factor
# n_lists * sum(c^2) / total^2, computed here exactly in milli-units
# over the live census of the (uncompacted) upsert fixture, plus the
# empty-list fraction. Oracle: the trained-assignment census with the
# tombstone predicate replayed, HUGEINT-exact floor division.
# ---------------------------------------------------------------------------
def _register_ann_index_retrain_policy():
    from .r8_round8 import _N_LISTS
    from .r11_round11 import _ensure_upsert_index

    tl_prefix = _upsert_tl_prefix()
    nl = _N_LISTS

    @register(
        "ann_index_retrain_policy",
        tl_prefix + f"""
, census AS (
  SELECT t.list_id, COUNT(*) AS c
  FROM tl t WHERE t.vec_id % 25 <> 3 GROUP BY t.list_id
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
    def ann_index_retrain_policy_query(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Index-level retrain decision (similarity.
        ivfpq_index_retrain_policy, imbalance >= 1200 milli or empty
        fraction >= 125 milli) over the shared uncompacted upsert
        fixture."""
        from ..operators import similarity

        _, d = _ensure_upsert_index(
            spark, sf_dir, "ksr_annidx_upsert", compact=False
        )
        return similarity.ivfpq_index_retrain_policy(
            spark, d, imbalance_threshold_milli=1200,
            empty_threshold_milli=125,
        )

    return ann_index_retrain_policy_query


ann_index_retrain_policy_query = _register_ann_index_retrain_policy()


# ---------------------------------------------------------------------------
# ROUND 12 (second pass) — bytelevel_bpe_roundtrip: the DECODE leg +
# losslessness proof, the property that justifies byte-level
# tokenization (no [UNK] loss, no normalization drift). The Spark side
# decodes through the INVERTED byte table inside the same Arrow pass
# as the encode; the oracle decodes by piece concatenation, which is
# the same function on the printable-ASCII domain both sides pin
# (bytes_to_unicode is the identity there — the non-ASCII legs are
# exercised directly in pytest on multi-byte UTF-8).
# ---------------------------------------------------------------------------
def _register_bytelevel_bpe_roundtrip():
    @register(
        "bytelevel_bpe_roundtrip",
        f"""
WITH enc AS (
{_BYTELEVEL_BPE_SQL}
)
SELECT word, n_pieces::INT AS n_pieces,
       replace(pieces, ' ', '') AS decoded,
       (replace(pieces, ' ', '') = word) AS lossless
FROM enc ORDER BY word
""",
    )
    def bytelevel_bpe_roundtrip_query(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Byte-level BPE encode -> decode round-trip (text.
        bytelevel_bpe_roundtrip, 6 trained merges): every distinct
        pre-token decodes back to itself through the inverse byte
        table — lossless is TRUE on every row."""
        from ..operators import text

        return text.bytelevel_bpe_roundtrip(
            load_table(spark, sf_dir, "documents"),
            rounds=6,
            merges=_bytelevel_merges_cached(spark, sf_dir, 6),
        )

    return bytelevel_bpe_roundtrip_query


bytelevel_bpe_roundtrip_query = _register_bytelevel_bpe_roundtrip()
