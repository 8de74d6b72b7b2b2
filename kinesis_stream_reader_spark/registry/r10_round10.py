"""Round-10 registry slice: reshard-aware Kinesis backfill, batched
ANN serving, the unigram-LM tokenizer leg, TIFF 16-bit grayscale, and
the consume-side streaming shard-lag census.

Follows the established conventions: every query is a (spark, sf_dir)
-> DataFrame callable with a DuckDB oracle replaying the same exact
integer semantics, column names aliased identically on both sides.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..scratch import scratch
from ._shared import load_table, register
from ..operators import tiny_df
from ..operators.rowmap import doc_id_seed, group_batches, map_rows


# ---------------------------------------------------------------------------
# ROUND 10 — source_python_reshard: lineage-aware Kinesis backfill.
# Real streams split and merge shards (the reference reads exactly
# shard '0' forever, kinesisReader/index.js:77); per-key order is only
# preserved if parents drain to SHARD_END before their children (the
# KCL lease rule). The fixture replays one split (s0 -> s2+s3) and one
# merge (s1a+s1b -> s4) over the events table, timeline-partitioned
# into three epochs by global (ts, event_id) rank; the reader plans
# one InputPartition per lineage CHAIN and emits (chain_id,
# generation, emit_idx) so the per-key order guarantee is VERIFIED
# declaratively from the reader's actual emission order, not assumed.
#
# 100 TB shape: chain count ~ current shard count = read parallelism
# (same as any Kinesis consumer); a chain's data is bounded by one
# hash-range family's retention window. The global row_number in the
# FIXTURE BUILDER is a one-time test-harness construction (recorded
# wire is given in production), not a data-path shuffle.
# ---------------------------------------------------------------------------
_RESHARD_ROUTING_SQL = """
  SELECT event_id, key, seq,
         CASE
           WHEN key < 50 AND epoch = 0 THEN 's0'
           WHEN key < 25 THEN 's2'
           WHEN key < 50 THEN 's3'
           WHEN epoch < 2 AND key < 75 THEN 's1a'
           WHEN epoch < 2 THEN 's1b'
           ELSE 's4' END AS shard_id
  FROM (
    SELECT event_id, key, seq, CAST(((seq - 1) * 3) {div} n AS INT) AS epoch
    FROM (
      SELECT event_id, user_id % 100 AS key,
             row_number() OVER (ORDER BY ts, event_id) AS seq,
             COUNT(*) OVER () AS n
      FROM {tbl}) ranked) routed
"""

_RESHARD_LINEAGE = [
    {"shard_id": "s0", "closed": True},
    {"shard_id": "s2", "parent": "s0"},
    {"shard_id": "s3", "parent": "s0"},
    {"shard_id": "s1a", "closed": True},
    {"shard_id": "s1b", "closed": True},
    {"shard_id": "s4", "parent": "s1a", "adjacent_parent": "s1b"},
]


def _reshard_fixture_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf, fingerprint-keyed) the recorded split/merge
    wire: six shard files + the _SHARDS.json lineage manifest."""
    from ..sources.python_source import (
        write_reshard_manifest,
        write_reshard_shard_file,
    )
    from ..sources.raw import source_fingerprint

    d = scratch(
        f"ksr_reshard/{sf_dir.strip('/').replace('/', '_')}"
        f"_{source_fingerprint(sf_dir)}"
    )
    if os.path.isfile(os.path.join(d, "_SHARDS.json")):
        return d
    os.makedirs(d, exist_ok=True)
    events = load_table(spark, sf_dir, "events")
    events.createOrReplaceTempView("ksr_reshard_events")
    routed = spark.sql(
        _RESHARD_ROUTING_SQL.format(div="DIV", tbl="ksr_reshard_events")
    )

    def dump(group: dict) -> dict:
        shard = str(group["shard_id"][0])
        write_reshard_shard_file(
            d,
            shard,
            [
                (int(s), int(k), str(int(e)).encode())
                for s, k, e in zip(group["seq"], group["key"], group["event_id"])
            ],
        )
        return {"shard_id": [shard], "n": [len(group["seq"])]}

    # executor-side per-shard file write (local-mode shared scratch; a
    # cluster would target shared storage), same pattern as ksr_pyds
    group_batches(routed, ["shard_id"], dump, "shard_id string, n long").count()
    spark.catalog.dropTempView("ksr_reshard_events")
    write_reshard_manifest(d, _RESHARD_LINEAGE)
    return d


@register(
    "source_python_reshard",
    f"""
WITH shards AS (
{_RESHARD_ROUTING_SQL.format(div="//", tbl="events")}
), lineage AS (
  SELECT *,
         CASE WHEN shard_id IN ('s0', 's1a', 's1b') THEN 0 ELSE 1 END
           AS generation,
         CASE WHEN key < 50 THEN 's0' ELSE 's1a' END AS chain_id
  FROM shards
), emits AS (
  SELECT *,
         row_number() OVER (
           PARTITION BY chain_id ORDER BY generation, shard_id, seq
         ) AS emit_idx
  FROM lineage
), flags AS (
  SELECT key, chain_id, shard_id, seq, event_id,
         lag(seq) OVER (PARTITION BY key ORDER BY emit_idx) AS prev_seq
  FROM emits
)
SELECT key AS partition_key,
       MIN(chain_id) AS chain_id,
       COUNT(*)::BIGINT AS n_records,
       COUNT(DISTINCT shard_id)::INT AS n_shards,
       SUM(event_id)::BIGINT AS sum_event_id,
       bool_and(prev_seq IS NULL OR seq > prev_seq) AS order_ok
FROM flags GROUP BY key ORDER BY partition_key
""",
)
def source_python_reshard_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Reshard-aware backfill through the kinesis_reshard Python
    DataSource: drain a recorded split (s0 -> s2+s3) and merge
    (s1a+s1b -> s4), then PROVE per-key ordering survived the reshard
    — for every partition key, sequence numbers must be strictly
    increasing along the reader's actual emission order (emit_idx),
    which holds iff each parent hit SHARD_END before its children
    started. The oracle replays routing, lineage generations, and the
    topological drain order in SQL.

    Plan shape: the DataSource read is one task per lineage chain
    (independent chains in parallel); the only shuffles are the lag
    window on (key) and the final groupBy(key) — both keyed on
    partition_key, partial-agg'd, linear in record count."""
    from ..sources.python_source import KinesisReshardDataSource

    spark.dataSource.register(KinesisReshardDataSource)
    d = _reshard_fixture_dir(spark, sf_dir)
    df = spark.read.format("kinesis_reshard").option("path", d).load()
    w = Window.partitionBy("partition_key").orderBy("emit_idx")
    flags = df.select(
        "partition_key",
        "chain_id",
        "shard_id",
        "sequence_number",
        "emit_idx",
        F.col("data").cast("string").cast("long").alias("event_id"),
    ).withColumn("prev_seq", F.lag("sequence_number").over(w))
    return (
        flags.groupBy("partition_key")
        .agg(
            F.min("chain_id").alias("chain_id"),
            F.count("*").cast("long").alias("n_records"),
            F.countDistinct("shard_id").cast("int").alias("n_shards"),
            F.sum("event_id").cast("long").alias("sum_event_id"),
            F.bool_and(
                F.col("prev_seq").isNull()
                | (F.col("sequence_number") > F.col("prev_seq"))
            ).alias("order_ok"),
        )
        .orderBy("partition_key")
    )


# ---------------------------------------------------------------------------
# ROUND 10 — ann_ivfpq_batch: batched IVF-PQ serving. Every prior ANN
# query serves ONE vector; production serves query SETS, and the
# broadcast shape changes (one LUT per query -> a (query, probed-list)
# LUT table scored in one shared Arrow pass). The oracle extends the
# r8 ADC chain with a query dimension: qset = the 8 smallest vec_ids,
# per-query probe ranking, per-(query, list) residual LUTs, per-query
# rank. Same exact-int64 arithmetic end to end.
# ---------------------------------------------------------------------------
_BATCH_ADC_CTES = """
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
  FROM resid QUALIFY row_number() OVER (ORDER BY vec_id) <= 8
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
)
"""


def _register_ann_ivfpq_batch():
    from .r8_round8 import _MAX_ITER, _N_LISTS, _TRAINED_TL_CTE

    @register(
        "ann_ivfpq_batch",
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
    def ann_ivfpq_batch_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Batched IVF-PQ over the fixture: the 8 smallest vec_ids as
        the query set, each probing its own nprobe lists, scored in
        ONE shared Arrow pass (similarity.ann_ivfpq_batch) — vectors
        are coarse-assigned and PQ-encoded once for the whole batch."""
        from ..operators import similarity

        return similarity.ann_ivfpq_batch(
            load_table(spark, sf_dir, "embeddings"),
            n_queries=8,
            k=10,
            nprobe=2,
            m=4,
            n_codes=8,
            n_lists=_N_LISTS,
            max_iter=_MAX_ITER,
        )

    return ann_ivfpq_batch_query


ann_ivfpq_batch_query = _register_ann_ivfpq_batch()


# ---------------------------------------------------------------------------
# ROUND 10 — unigram_lm_encode: the SentencePiece-style unigram-LM
# tokenizer (Kudo 2018) next to BPE and WordPiece. Hard (Viterbi) EM
# on the distinct-word census with micro-nat integer scores; the
# oracle replays BOTH the EM iteration and the final encode: forward
# Viterbi as a list-valued recursive DP (the dtw/wer loop-oracle
# convention), backtrace as a MAX(len)-achiever recursive walk,
# usage re-estimation in between. ln() is the only transcendental,
# quantized half-up on the 1e-6 grid; everything else is exact
# bigint.
# ---------------------------------------------------------------------------
def _unigram_viterbi_ctes(tag: str, vocab: str) -> str:
    """Forward-DP + backtrace CTE pair over `words`, scoring with
    piece relation `vocab` (piece, len, lp). Emits back{tag} whose
    pos = 0 rows carry the Viterbi segmentation."""
    return f"""
, dp{tag} AS (
  SELECT word, n, 0 AS p, [CAST(0 AS BIGINT)] AS d FROM words
  UNION ALL
  SELECT word, n, p + 1 AS p, list_append(d, b) AS d
  FROM (
    SELECT t.word, t.n, t.p, t.d,
           MAX(t.d[t.p + 2 - v.len] + v.lp) AS b
    FROM dp{tag} t
    JOIN {vocab} v
      ON v.len <= t.p + 1
     AND v.piece = substr(t.word, t.p + 2 - v.len, v.len)
    WHERE t.p < length(t.word)
    GROUP BY t.word, t.n, t.p, t.d
  )
), back{tag} AS (
  SELECT word, n, length(word) AS pos,
         CAST('' AS VARCHAR) AS pieces, 0 AS np, d
  FROM dp{tag} WHERE p = length(word)
  UNION ALL
  SELECT word, n, pos - bj AS pos,
         CASE WHEN pieces = '' THEN substr(word, pos - bj + 1, bj)
              ELSE substr(word, pos - bj + 1, bj) || ' ' || pieces
         END AS pieces,
         np + 1 AS np, d
  FROM (
    SELECT b.word, b.n, b.pos, b.pieces, b.np, b.d,
           MAX(v.len) AS bj
    FROM back{tag} b
    JOIN {vocab} v
      ON v.len <= b.pos
     AND v.piece = substr(b.word, b.pos - v.len + 1, v.len)
     AND b.d[b.pos - v.len + 1] + v.lp = b.d[b.pos + 1]
    WHERE b.pos > 0
    GROUP BY b.word, b.n, b.pos, b.pieces, b.np, b.d
  )
)"""


@register(
    "unigram_lm_encode",
    """
WITH RECURSIVE words AS (
  SELECT tok AS word, COUNT(*) AS n
  FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok
        FROM documents)
  WHERE tok <> '' GROUP BY tok
), occ_all AS (
  SELECT substr(word, j.j, l.l) AS piece, l.l AS len, SUM(n) AS wt
  FROM words,
       LATERAL (SELECT UNNEST(range(1, length(word) + 1)) AS j) j,
       LATERAL (SELECT UNNEST(range(1, 7)) AS l) l
  WHERE j.j + l.l - 1 <= length(word)
  GROUP BY 1, 2
  HAVING l.l = 1 OR SUM(n) >= 50
), occ AS (
  -- seed_vocab_cap mirror: single chars unconditional, multi-char
  -- pieces top-8192 by (wt DESC, piece ASC) — the engine's bounded
  -- TakeOrderedAndProject collect
  SELECT piece, len, wt FROM occ_all WHERE len = 1
  UNION ALL
  SELECT piece, len, wt FROM (
    SELECT piece, len, wt,
           row_number() OVER (ORDER BY wt DESC, piece) AS rk
    FROM occ_all WHERE len > 1)
  WHERE rk <= 8192
), v0 AS (
  SELECT piece, len,
         CAST(floor(ln(CAST(wt AS DOUBLE) / (SELECT SUM(wt) FROM occ))
                    * 1e6 + 0.5) AS BIGINT) AS lp
  FROM occ
)"""
    + _unigram_viterbi_ctes("0", "v0")
    + """
, usage AS (
  SELECT piece, SUM(n) AS u
  FROM (SELECT unnest(string_split(pieces, ' ')) AS piece, n
        FROM back0 WHERE pos = 0)
  GROUP BY piece
), kept AS (
  SELECT piece, u FROM usage
  UNION ALL
  SELECT v.piece, CAST(1 AS BIGINT) AS u
  FROM v0 v
  WHERE v.len = 1 AND v.piece NOT IN (SELECT piece FROM usage)
), v1 AS (
  SELECT piece, length(piece) AS len,
         CAST(floor(ln(CAST(u AS DOUBLE) / (SELECT SUM(u) FROM kept))
                    * 1e6 + 0.5) AS BIGINT) AS lp
  FROM kept
)"""
    + _unigram_viterbi_ctes("1", "v1")
    + """
SELECT word, n::BIGINT AS n_occurrences, pieces, np::INT AS n_pieces,
       d[length(word) + 1]::BIGINT AS score_u
FROM back1 WHERE pos = 0
ORDER BY word
""",
)
def unigram_lm_encode_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenization over the corpus vocabulary
    (text.unigram_lm_encode): substring-census seed scores, one hard-
    EM iteration (Viterbi usage counts -> re-estimated micro-nat
    scores, zero-usage single chars persisting at usage 1), Viterbi
    encode with longest-piece tie-break. One row per distinct word:
    occurrence count, piece sequence, fertility, exact total score."""
    from ..operators import text

    return text.unigram_lm_encode(
        load_table(spark, sf_dir, "documents"),
        max_piece=6,
        min_count=50,
        em_iters=1,
    )


# ---------------------------------------------------------------------------
# ROUND 10 — multimodal_tiff16_decode: 16-bit grayscale TIFF, the
# scientific/scanned-corpus depth and the most common remaining gate
# after round 9 closed the fax/bilevel family. Full uint16 range
# preserved (the PNG16 convention), all four per-segment compressions,
# both byte orders (16-bit samples honor the header's II/MM — spec
# §7), multi-strip. JDK-ImageIO cross-validated both directions in
# pytest (raster reads — getRGB truncates 16-bit).
# ---------------------------------------------------------------------------
@register(
    "multimodal_tiff16_decode",
    """
WITH dims AS (
  SELECT doc_id, 8 + doc_id % 5 AS w, 6 + doc_id % 3 AS h FROM documents
), px AS (
  SELECT doc_id, w, h, i.i AS p,
         (doc_id * 48271 + 977 * i.i) % 65536 AS v
  FROM dims, LATERAL (SELECT UNNEST(range(w * h)) AS i) i
)
SELECT doc_id, ANY_VALUE(w)::INT AS width, ANY_VALUE(h)::INT AS height,
       SUM((p + 1) * 6 * v)::BIGINT AS checksum
FROM px GROUP BY doc_id ORDER BY doc_id
""",
)
def multimodal_tiff16_decode_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL 16-bit grayscale TIFF decode (multimodal.decode_tiff
    16-bit path): v_i = (d*48271 + 977*i) mod 65536, compression
    rotating none/LZW/Deflate/PackBits by doc_id % 4, byte order by
    parity, multi-strip throughout. Gray replicates to RGB at full
    uint16 range, so the checksum is sum((p+1) * 6v). Map-side Arrow
    decode; scalar-only shuffle."""
    import numpy as np

    from ..operators import multimodal

    def encode(d):
        w, h = 8 + d % 5, 6 + d % 3
        v = (d * 48271 + 977 * np.arange(w * h, dtype=np.int64)) % 65536
        blob = multimodal.encode_tiff(
            v.reshape(h, w).astype(np.uint16),
            depth=16,
            compression=(1, 5, 8, 32773)[d % 4],
            big_endian=bool(d % 2),
            rows_per_strip=3,
        )
        return [(d, blob)]

    docs = load_table(spark, sf_dir, "documents")
    media = map_rows(doc_id_seed(docs), encode, multimodal.MEDIA_SCHEMA)
    return multimodal.image_decode_checksum(media).orderBy("doc_id")


# ---------------------------------------------------------------------------
# ROUND 10 — streaming_shard_lag_census: the CONSUME-side operational
# twin of streaming_ivf_assign's add-path. A Kinesis consumer's health
# metric is how far behind the stream head each shard sits
# (MillisBehindLatest; with a static recorded wire the analog is
# records-behind-latest). The stream reader gets real admission
# control — maxRecordsPerShardPerBatch, the connector's
# maxFetchRecordsPerShard analog, anchored on committed offsets so
# batch boundaries are deterministic — and the census records, per
# micro-batch per shard: rows admitted, cumulative consumed, records
# still behind the head. Drained == batch oracle: DuckDB replays the
# admission arithmetic from the shard sizes.
# ---------------------------------------------------------------------------
@register(
    "streaming_shard_lag_census",
    f"""
WITH shards AS (
{_RESHARD_ROUTING_SQL.format(div="//", tbl="events")}
), sizes AS (
  SELECT shard_id, COUNT(*) AS sz FROM shards GROUP BY shard_id
), cap AS (
  SELECT CAST(ceil(CAST(MAX(sz) AS DOUBLE) / 4) AS BIGINT) AS r FROM sizes
), grid AS (
  SELECT b.b AS batch_id, s.shard_id, s.sz, c.r,
         LEAST(s.sz, (b.b + 1) * c.r) - LEAST(s.sz, b.b * c.r)
           AS batch_rows
  FROM sizes s, cap c,
       LATERAL (SELECT UNNEST(range(0,
         CAST(ceil(CAST(s.sz AS DOUBLE) / c.r) AS BIGINT))) AS b) b
)
SELECT batch_id::INT AS batch_id, shard_id,
       batch_rows::BIGINT AS batch_rows,
       LEAST(sz, (batch_id + 1) * r)::BIGINT AS consumed,
       (sz - LEAST(sz, (batch_id + 1) * r))::BIGINT
         AS records_behind_latest
FROM grid WHERE batch_rows > 0
ORDER BY batch_id, shard_id
""",
)
def streaming_shard_lag_census_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Throttled streaming drain of the reshard wire with a per-batch
    shard-lag census: cap = ceil(max shard size / 4) records per shard
    per micro-batch (so every sf yields ~4-5 batches), each
    foreachBatch counts admitted rows per shard (a distributed
    groupBy; only (shard, count) scalars reach the driver), and the
    final report adds cumulative consumed + records-behind-latest.

    Plan shape / 100 TB: per-batch work is one partial-agg'd count by
    shard; the census accumulator holds batches x shards tuples. In
    production the same census is emitted per trigger from
    StreamingQueryProgress-adjacent state instead of a drain."""
    import tempfile

    from ..sources.python_source import KinesisBackfillDataSource

    spark.dataSource.register(KinesisBackfillDataSource)
    d = _reshard_fixture_dir(spark, sf_dir)
    sizes = KinesisBackfillDataSource({"path": d}).census()
    cap = -(-max(sizes.values()) // 4)
    census: list[tuple[int, str, int]] = []

    def observe(batch_df: DataFrame, bid: int) -> None:
        for r in batch_df.groupBy("shard_id").count().collect():
            census.append((int(bid), r["shard_id"], int(r["count"])))

    stream = (
        spark.readStream.format("kinesis_backfill")
        .option("path", d)
        .option("maxRecordsPerShardPerBatch", str(cap))
        .load()
    )
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            stream.writeStream.foreachBatch(observe)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

    consumed: dict[str, int] = {}
    rows = []
    for bid, shard, n in sorted(census):
        if n == 0:
            continue
        consumed[shard] = consumed.get(shard, 0) + n
        rows.append(
            (
                bid,
                shard,
                n,
                consumed[shard],
                sizes[shard] - consumed[shard],
            )
        )
    return tiny_df(
        spark,
        rows,
        "batch_id INT, shard_id STRING, batch_rows BIGINT, "
        "consumed BIGINT, records_behind_latest BIGINT",
    ).orderBy("batch_id", "shard_id")


# ---------------------------------------------------------------------------
# ROUND 10 — streaming_reshard_drain: the KCL lease rule enforced in
# STRUCTURED STREAMING — a child shard's records are admitted only
# once every parent it names has been planned to SHARD_END, while
# independent chains drain in parallel, all under the deterministic
# planned-end admission cap. The oracle replays the entire drain
# schedule from the shard sizes: shard s (size sz, cap r) drains in
# ceil(sz/r) consecutive batches starting the batch after its slowest
# present parent finishes (absent/empty parents = already consumed).
# ---------------------------------------------------------------------------
@register(
    "streaming_reshard_drain",
    f"""
WITH shards AS (
{_RESHARD_ROUTING_SQL.format(div="//", tbl="events")}
), sizes AS (
  SELECT shard_id, COUNT(*) AS sz FROM shards GROUP BY shard_id
), cap AS (
  SELECT CAST(ceil(CAST(MAX(sz) AS DOUBLE) / 4) AS BIGINT) AS r FROM sizes
), lineage(child, parent) AS (
  VALUES ('s2', 's0'), ('s3', 's0'), ('s4', 's1a'), ('s4', 's1b')
), starts AS (
  SELECT s.shard_id,
         COALESCE(MAX(CAST(ceil(CAST(ps.sz AS DOUBLE) / c.r) AS BIGINT)),
                  0) AS b0
  FROM sizes s
  CROSS JOIN cap c
  LEFT JOIN lineage l ON l.child = s.shard_id
  LEFT JOIN sizes ps ON ps.shard_id = l.parent
  GROUP BY s.shard_id
), grid AS (
  SELECT st.b0 + b.b AS batch_id, s.shard_id, s.sz,
         LEAST(s.sz, (b.b + 1) * c.r) - LEAST(s.sz, b.b * c.r)
           AS batch_rows,
         LEAST(s.sz, (b.b + 1) * c.r) AS consumed
  FROM sizes s
  JOIN starts st USING (shard_id)
  CROSS JOIN cap c,
  LATERAL (SELECT UNNEST(range(0,
    CAST(ceil(CAST(s.sz AS DOUBLE) / c.r) AS BIGINT))) AS b) b
)
SELECT batch_id::INT AS batch_id, shard_id,
       (CASE WHEN shard_id IN ('s0', 's1a', 's1b') THEN 0 ELSE 1 END)::INT
         AS generation,
       batch_rows::BIGINT AS batch_rows,
       consumed::BIGINT AS consumed,
       (sz - consumed)::BIGINT AS records_behind_latest
FROM grid WHERE batch_rows > 0
ORDER BY batch_id, shard_id
""",
)
def streaming_reshard_drain_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Lineage-aware throttled streaming drain of the reshard wire
    (sources.python_source.KinesisReshardStreamReader): per micro-
    batch per shard — admitted rows, cumulative consumed, records-
    behind-latest, generation. The batch numbering itself PROVES the
    lease rule: a child's first batch is the batch after its slowest
    parent's last, which the oracle reconstructs arithmetically.

    Plan shape / 100 TB: per-batch work is a partial-agg'd count by
    shard; admission decisions are manifest-sized driver arithmetic;
    chain parallelism = shard count, exactly like the batch reader."""
    import tempfile

    from ..sources.python_source import KinesisReshardDataSource

    spark.dataSource.register(KinesisReshardDataSource)
    d = _reshard_fixture_dir(spark, sf_dir)
    sizes = KinesisReshardDataSource({"path": d}).census()
    cap = -(-max(sizes.values()) // 4)
    census: list[tuple[int, str, int, int]] = []

    def observe(batch_df: DataFrame, bid: int) -> None:
        for r in (
            batch_df.groupBy("shard_id", "generation").count().collect()
        ):
            census.append(
                (int(bid), r["shard_id"], int(r["generation"]), int(r["count"]))
            )

    stream = (
        spark.readStream.format("kinesis_reshard")
        .option("path", d)
        .option("maxRecordsPerShardPerBatch", str(cap))
        .load()
    )
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            stream.writeStream.foreachBatch(observe)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

    consumed: dict[str, int] = {}
    rows = []
    for bid, shard, gen, n in sorted(census):
        if n == 0:
            continue
        consumed[shard] = consumed.get(shard, 0) + n
        rows.append(
            (bid, shard, gen, n, consumed[shard], sizes[shard] - consumed[shard])
        )
    return tiny_df(
        spark,
        rows,
        "batch_id INT, shard_id STRING, generation INT, batch_rows BIGINT, "
        "consumed BIGINT, records_behind_latest BIGINT",
    ).orderBy("batch_id", "shard_id")


# ---------------------------------------------------------------------------
# ROUND 10 — ann_ivf_filtered: attribute-filtered vector search, the
# FAISS IDSelector / vector-DB metadata-filter production shape —
# PRE-filtered inside the probed lists so recall is correct at any
# selectivity. Oracle: the shared trained-lists chain + the ADC
# chain's probe ranking, with the label predicate on the candidates
# and exact int64 L2 to the query.
# ---------------------------------------------------------------------------
def _filtered_sql():
    """The ann_ivf_filtered oracle — shared verbatim by round-12's
    persisted filtered serve (ann_index_filtered_serve): same
    semantics, different physical plan, ONE oracle definition."""
    from .r8_round8 import _TRAINED_TL_CTE

    return _TRAINED_TL_CTE + """
, qv0 AS (
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
), cand AS (
  SELECT t.vec_id, CAST(e.label AS BIGINT) AS label,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(list_zip(w.v, (SELECT v FROM qv0)),
                          p -> (p[1] - p[2]) * (p[1] - p[2]))),
           (a, b) -> a + b) AS d2
  FROM tl t
  JOIN probed USING (list_id)
  JOIN vecs w USING (vec_id)
  JOIN embeddings e USING (vec_id)
  WHERE e.label = 1 AND t.vec_id <> 0
)
SELECT ROW_NUMBER() OVER (ORDER BY d2, vec_id)::INT AS rank,
       vec_id, label, d2::BIGINT AS d2
FROM cand ORDER BY d2, vec_id LIMIT 10
"""


def _register_ann_ivf_filtered():
    from .r8_round8 import _MAX_ITER, _N_LISTS

    @register("ann_ivf_filtered", _filtered_sql())
    def ann_ivf_filtered_query(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Filtered top-k (similarity.ann_ivf_filtered): vectors with
        label = 1 inside the query's 2 probed trained lists, exact
        int64 L2, pre-filter semantics."""
        from ..operators import similarity

        return similarity.ann_ivf_filtered(
            load_table(spark, sf_dir, "embeddings"),
            query_vec_id=0,
            k=10,
            nprobe=2,
            n_lists=_N_LISTS,
            max_iter=_MAX_ITER,
            label=1,
        )

    return ann_ivf_filtered_query


ann_ivf_filtered_query = _register_ann_ivf_filtered()


# ---------------------------------------------------------------------------
# ROUND 10 — merkle_snapshot_diff: the CONSUMER of merkle_table_digest
# — the full anti-entropy cycle between two table snapshots. Replica B
# is a deterministic mutation of orders (status flips on keys % 997,
# deletes on % 1009, inserts on % 1013 at key+10M); the query compares
# the 64 per-bucket digests, then RESCANS ONLY the differing buckets
# to classify rows (only-A = deleted, only-B = inserted, changed =
# same key, different row hash). This is exactly how Dynamo-style
# replicas and lakehouse snapshot-verification jobs reconcile: 64
# longs first, row work only where digests disagree.
# ---------------------------------------------------------------------------
_MERKLE_DIFF_AB = """
WITH a AS (
  SELECT o_orderkey AS k, o_custkey AS c, o_orderstatus AS s,
         strftime(o_orderdate, '%Y-%m-%d') AS d
  FROM orders
), b AS (
  SELECT k, c, CASE WHEN k % 997 = 0 THEN 'X' ELSE s END AS s, d
  FROM a WHERE k % 1009 <> 0
  UNION ALL
  SELECT k + 10000000 AS k, c, 'N' AS s, d FROM a WHERE k % 1013 = 0
), ah AS (
  SELECT k, k % 64 AS bucket,
         CAST(concat('0x', substr(md5(k || '|' || c || '|' || s || '|' || d),
                                  1, 10)) AS UBIGINT)::BIGINT AS h
  FROM a
), bh AS (
  SELECT k, k % 64 AS bucket,
         CAST(concat('0x', substr(md5(k || '|' || c || '|' || s || '|' || d),
                                  1, 10)) AS UBIGINT)::BIGINT AS h
  FROM b
), da AS (
  SELECT bucket, COUNT(*) AS n, SUM(h) % 2305843009213693952 AS dg
  FROM ah GROUP BY bucket
), db AS (
  SELECT bucket, COUNT(*) AS n, SUM(h) % 2305843009213693952 AS dg
  FROM bh GROUP BY bucket
), diff AS (
  SELECT COALESCE(da.bucket, db.bucket) AS bucket,
         COALESCE(da.dg, 0) AS digest_a, COALESCE(db.dg, 0) AS digest_b
  FROM da FULL JOIN db ON da.bucket = db.bucket
  WHERE COALESCE(da.dg, 0) <> COALESCE(db.dg, 0)
     OR COALESCE(da.n, 0) <> COALESCE(db.n, 0)
), ja AS (
  SELECT ah.* FROM ah JOIN diff ON ah.bucket = diff.bucket
), jb AS (
  SELECT bh.* FROM bh JOIN diff ON bh.bucket = diff.bucket
), j AS (
  SELECT COALESCE(ja.bucket, jb.bucket) AS bucket,
         ja.k AS ka, jb.k AS kb, ja.h AS ha, jb.h AS hb
  FROM ja FULL JOIN jb ON ja.k = jb.k
)
"""


@register(
    "merkle_snapshot_diff",
    _MERKLE_DIFF_AB + """
SELECT d.bucket::INT AS bucket,
       d.digest_a::BIGINT AS digest_a, d.digest_b::BIGINT AS digest_b,
       SUM(CASE WHEN j.kb IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_only_a,
       SUM(CASE WHEN j.ka IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_only_b,
       SUM(CASE WHEN j.ka IS NOT NULL AND j.kb IS NOT NULL
                     AND j.ha <> j.hb THEN 1 ELSE 0 END)::BIGINT
         AS n_changed
FROM diff d LEFT JOIN j ON j.bucket = d.bucket
GROUP BY d.bucket, d.digest_a, d.digest_b
ORDER BY bucket
""",
)
def merkle_snapshot_diff_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy reconciliation between orders and its mutated
    snapshot: per DIFFERING bucket, both digests plus the row-level
    census (deleted / inserted / changed) from rescanning only those
    buckets.

    Plan shape / 100 TB: two map-side hash projections + two 64-key
    partial-agg'd digests; the digest diff is a 64-row broadcast, so
    the row-level full outer join on k touches ONLY the differing
    buckets (bucket-pruned scans in a real layout) and co-partitions
    on the key it joins."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").alias("c"),
        F.col("o_orderstatus").alias("s"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("d"),
    )
    b = a.filter(F.col("k") % 1009 != 0).select(
        "k",
        "c",
        F.when(F.col("k") % 997 == 0, F.lit("X")).otherwise(F.col("s")).alias("s"),
        "d",
    ).unionByName(
        a.filter(F.col("k") % 1013 == 0).select(
            (F.col("k") + 10000000).alias("k"),
            "c",
            F.lit("N").alias("s"),
            "d",
        )
    )

    def hashed(df: DataFrame) -> DataFrame:
        return df.select(
            "k",
            (F.col("k") % 64).alias("bucket"),
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("|", "k", "c", "s", "d")), 1, 10
                ),
                16,
                10,
            ).cast("long").alias("h"),
        )

    # each hashed side feeds its digest AND the differing-bucket rescan
    # (and b's two arms each re-derive a): checkpoint so the md5 row-hash
    # projection over orders runs once per side
    ah, bh = (
        hashed(a).localCheckpoint(eager=False),
        hashed(b).localCheckpoint(eager=False),
    )

    def digest(df: DataFrame, n: str, dg: str) -> DataFrame:
        return df.groupBy("bucket").agg(
            F.count("*").alias(n),
            (F.sum("h") % F.lit(2305843009213693952)).alias(dg),
        )

    diff = (
        digest(ah, "na", "dga")
        .join(digest(bh, "nb", "dgb"), "bucket", "full")
        .select(
            "bucket",
            F.coalesce("dga", F.lit(0)).alias("digest_a"),
            F.coalesce("dgb", F.lit(0)).alias("digest_b"),
            F.coalesce("na", F.lit(0)).alias("na"),
            F.coalesce("nb", F.lit(0)).alias("nb"),
        )
        .filter(
            (F.col("digest_a") != F.col("digest_b"))
            | (F.col("na") != F.col("nb"))
        )
        .select("bucket", "digest_a", "digest_b")
    )
    bdiff = F.broadcast(diff)
    ja = ah.join(bdiff.select("bucket"), "bucket")
    jb = bh.join(bdiff.select("bucket"), "bucket")
    j = ja.select(
        F.col("bucket").alias("ab"), F.col("k").alias("ka"), F.col("h").alias("ha")
    ).join(
        jb.select(
            F.col("bucket").alias("bb"),
            F.col("k").alias("kb"),
            F.col("h").alias("hb"),
        ),
        F.col("ka") == F.col("kb"),
        "full",
    ).select(
        F.coalesce("ab", "bb").alias("bucket"), "ka", "kb", "ha", "hb"
    )
    return (
        bdiff.join(j, "bucket", "left")
        .groupBy("bucket", "digest_a", "digest_b")
        .agg(
            F.sum(F.when(F.col("kb").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_only_a"),
            F.sum(F.when(F.col("ka").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_only_b"),
            F.sum(
                F.when(
                    F.col("ka").isNotNull()
                    & F.col("kb").isNotNull()
                    & (F.col("ha") != F.col("hb")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_changed"),
        )
        .select(
            F.col("bucket").cast("int").alias("bucket"),
            "digest_a",
            "digest_b",
            "n_only_a",
            "n_only_b",
            "n_changed",
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# ROUND 10 — multimodal_tiff16_rgb_decode: 16-bit RGB TIFF (chunky
# stripped, both byte orders, all four per-segment compressions),
# completing the 16-bit leg the gray path opened.
# ---------------------------------------------------------------------------
@register(
    "multimodal_tiff16_rgb_decode",
    """
WITH dims AS (
  SELECT doc_id, 8 + doc_id % 5 AS w, 6 + doc_id % 3 AS h FROM documents
), px AS (
  SELECT doc_id, w, h, i.i AS p,
         (doc_id * 48271 + 977 * i.i) % 65536 AS r,
         (doc_id * 16807 + 991 * i.i) % 65536 AS g,
         (doc_id * 69621 + 983 * i.i) % 65536 AS b
  FROM dims, LATERAL (SELECT UNNEST(range(w * h)) AS i) i
)
SELECT doc_id, ANY_VALUE(w)::INT AS width, ANY_VALUE(h)::INT AS height,
       SUM((p + 1) * (r + 2 * g + 3 * b))::BIGINT AS checksum
FROM px GROUP BY doc_id ORDER BY doc_id
""",
)
def multimodal_tiff16_rgb_decode_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL 16-bit RGB TIFF decode (multimodal.decode_tiff 16-bit RGB
    path): per-channel LCG-style pixel formulas, compression rotating
    none/LZW/Deflate/PackBits by doc_id % 4, byte order by parity,
    multi-strip. Checksum = sum((p+1) * (r + 2g + 3b)) at full uint16
    range. Map-side Arrow decode; scalar-only shuffle."""
    import numpy as np

    from ..operators import multimodal

    def encode(d):
        w, h = 8 + d % 5, 6 + d % 3
        i = np.arange(w * h, dtype=np.int64)
        px = np.stack(
            [
                (d * 48271 + 977 * i) % 65536,
                (d * 16807 + 991 * i) % 65536,
                (d * 69621 + 983 * i) % 65536,
            ],
            axis=1,
        ).reshape(h, w, 3)
        blob = multimodal.encode_tiff(
            px.astype(np.uint16),
            depth=16,
            compression=(1, 5, 8, 32773)[d % 4],
            big_endian=bool(d % 2),
            rows_per_strip=3,
        )
        return [(d, blob)]

    docs = load_table(spark, sf_dir, "documents")
    media = map_rows(doc_id_seed(docs), encode, multimodal.MEDIA_SCHEMA)
    return multimodal.image_decode_checksum(media).orderBy("doc_id")


# ---------------------------------------------------------------------------
# ROUND 10 — tokenizer_compare_report: the three tokenizer legs exist
# (BPE has its own fertility report); this puts WordPiece and
# Unigram-LM side by side on the SAME corpus — the eval a team runs
# when choosing a tokenizer: pieces actually used, corpus-weighted
# fertility. The oracle nests both registered oracle pipelines as
# CTEs, so the comparison is replayed end to end, vocab construction
# included.
# ---------------------------------------------------------------------------
def _register_tokenizer_compare():
    from ._shared import ORACLES

    wp_sql = ORACLES["wordpiece_encode"]
    ug_sql = ORACLES["unigram_lm_encode"]

    @register(
        "tokenizer_compare_report",
        f"""
WITH wp AS (
{wp_sql}
), ug AS (
{ug_sql}
)
SELECT * FROM (
  SELECT 'unigram' AS tokenizer,
         (SELECT COUNT(DISTINCT piece) FROM
            (SELECT unnest(string_split(pieces, ' ')) AS piece FROM ug)
         )::BIGINT AS n_pieces_used,
         SUM(n_occurrences)::BIGINT AS total_words,
         SUM(n_occurrences * n_pieces)::BIGINT AS total_pieces,
         floor(SUM(n_occurrences * n_pieces)
               / CAST(SUM(n_occurrences) AS DOUBLE) * 1e6 + 0.5) / 1e6
           AS fertility
  FROM ug
  UNION ALL
  SELECT 'wordpiece' AS tokenizer,
         (SELECT COUNT(DISTINCT piece) FROM
            (SELECT unnest(string_split(pieces, ' ')) AS piece FROM wp)
         )::BIGINT AS n_pieces_used,
         SUM(n_occurrences)::BIGINT AS total_words,
         SUM(n_occurrences * n_pieces)::BIGINT AS total_pieces,
         floor(SUM(n_occurrences * n_pieces)
               / CAST(SUM(n_occurrences) AS DOUBLE) * 1e6 + 0.5) / 1e6
           AS fertility
  FROM wp
) ORDER BY tokenizer
""",
    )
    def tokenizer_compare_report_query(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """WordPiece vs Unigram-LM on the same word census: distinct
        pieces actually used (with WordPiece's '##' marking counted as
        distinct continuation pieces, as in a real vocab file) and
        corpus-weighted fertility (pieces per word occurrence) — lower
        fertility = fewer tokens per document = cheaper training."""
        from ..operators import text

        docs = load_table(spark, sf_dir, "documents")

        def stats(df: DataFrame, name: str) -> DataFrame:
            used = df.select(
                F.explode(F.split("pieces", " ")).alias("piece")
            ).agg(F.countDistinct("piece").alias("npu"))
            return (
                df.agg(
                    F.sum("n_occurrences").alias("tw"),
                    F.sum(
                        F.col("n_occurrences") * F.col("n_pieces")
                    ).alias("tp"),
                )
                .crossJoin(used)
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

        return stats(
            text.unigram_lm_encode(docs), "unigram"
        ).unionByName(
            stats(text.wordpiece_encode(docs), "wordpiece")
        ).orderBy("tokenizer")

    return tokenizer_compare_report_query


tokenizer_compare_report_query = _register_tokenizer_compare()


# ---------------------------------------------------------------------------
# ROUND 10 — ann_index_persist_serve: the build/serve separation every
# production ANN deployment has — the index trained and encoded ONCE,
# persisted as parquet tables (codes hive-partitioned by list_id), and
# SERVING as a pure-Catalyst plan: partition-pruned codes scan ->
# posexplode -> broadcast LUT join -> partial-agg ADC -> TakeOrdered.
# Result rows are bit-identical to ann_ivfpq_trained, so the oracle is
# the shared trained-ADC chain.
# ---------------------------------------------------------------------------
def ensure_persisted_ivfpq_index(spark: SparkSession, sf_dir: str) -> str:
    """Build-once cache of the full-corpus persisted IVF-PQ index for
    this sf_dir (fingerprint-keyed scratch, _BUILT completion
    sentinel). Shared by ann_index_persist_serve and round-11's
    batched serve so whichever runs first pays the build."""
    import os

    from ..operators import similarity
    from ..sources.raw import source_fingerprint
    from .r8_round8 import _MAX_ITER, _N_LISTS

    emb = load_table(spark, sf_dir, "embeddings")
    d = scratch(
        f"ksr_annidx/{sf_dir.strip('/').replace('/', '_')}"
        f"_{source_fingerprint(sf_dir, table='embeddings')}"
    )
    # Completion sentinel, not a mere isdir(codes): a build that
    # crashed after creating codes/ but before all three tables
    # finished writing must NOT be served — rebuild instead.
    built = os.path.join(d, "_BUILT")
    if not os.path.exists(built):
        similarity.ivfpq_build_index(
            emb, d, m=4, n_codes=8, n_lists=_N_LISTS, max_iter=_MAX_ITER
        )
        with open(built, "w") as fh:
            fh.write("ok\n")
    # round 12: the shared index also carries the refine store
    # (vectors/ partitioned by list_id, with attribute metadata
    # columns for filtered serving). Its own completion sentinel
    # retro-fits fixture indexes cached by earlier rounds in place;
    # the sentinel name is versioned with the store schema.
    vec_built = os.path.join(d, "_VECTORS_V2")
    if not os.path.exists(vec_built):
        similarity.ivfpq_store_vectors(emb, d)
        with open(vec_built, "w") as fh:
            fh.write("ok\n")
    return d


def _register_ann_index_persist():
    from .r8_round8 import (
        _IVFPQ_ADC_CTES,
        _MAX_ITER,
        _N_LISTS,
        _TRAINED_TL_CTE,
    )

    @register(
        "ann_index_persist_serve",
        _TRAINED_TL_CTE + _IVFPQ_ADC_CTES + """
SELECT ROW_NUMBER() OVER (ORDER BY adc_d2, vec_id)::INT AS rank,
       vec_id, adc_d2::BIGINT AS adc_d2
FROM adc ORDER BY adc_d2, vec_id LIMIT 10
""",
    )
    def ann_index_persist_serve_query(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Persisted-index serving (similarity.ivfpq_build_index +
        ivfpq_serve_persisted): train/encode once into parquet tables
        under scratch (fingerprint-keyed), then serve query 0 from the
        persisted codes with no Python in the serving path. Must equal
        ann_ivfpq_trained row for row — same oracle."""
        from ..operators import similarity

        emb = load_table(spark, sf_dir, "embeddings")
        d = ensure_persisted_ivfpq_index(spark, sf_dir)
        return similarity.ivfpq_serve_persisted(
            emb, d, query_vec_id=0, k=10, nprobe=2
        )

    return ann_index_persist_serve_query


ann_index_persist_serve_query = _register_ann_index_persist()


# ---------------------------------------------------------------------------
# ROUND 10 — multimodal_jpeg12_decode: 12-bit EXTENDED SEQUENTIAL
# JPEG (SOF1), the medical/scientific precision and the most
# consequential of the remaining JPEG gates. Grayscale (no standard
# 12-bit YCbCr target), 16-bit DQT, 16-category DC table, level shift
# 2048, clamp 0..4095, uint16 out — compressed-domain fixtures keep
# the decoded-pixel formula closed-form like the 8-bit legs.
# ---------------------------------------------------------------------------
@register(
    "multimodal_jpeg12_decode",
    """
WITH dims AS (
  SELECT doc_id, 8 * (2 + doc_id % 3) AS w, 8 * (2 + doc_id % 2) AS h
  FROM documents
), px AS (
  SELECT doc_id, w, h, p.p AS p,
         2048 + (doc_id * 19
                 + 29 * (((p.p // w) // 8) * (w // 8) + (p.p % w) // 8))
               % 3800 - 1900 AS v
  FROM dims, LATERAL (SELECT UNNEST(range(w * h)) AS p) p
)
SELECT doc_id, ANY_VALUE(w)::INT AS width, ANY_VALUE(h)::INT AS height,
       SUM((p + 1) * 6 * v)::BIGINT AS checksum
FROM px GROUP BY doc_id ORDER BY doc_id
""",
)
def multimodal_jpeg12_decode_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL 12-bit JPEG decode (multimodal.decode_jpeg, SOF1 path):
    per-block DC formula dc = (d*19 + 29b) % 3800 - 1900 so pixels are
    dc + 2048 exactly (Q[0]=8 DC-only IDCT identity); blocks with
    (d+b)%3==0 carry a sub-rounding AC probe; even doc_ids add DRI=2
    restarts (12-bit DC predictor resets). Gray replicates to RGB at
    full 12-bit range: checksum = sum((p+1) * 6v)."""
    import numpy as np

    from ..operators import multimodal

    q = [8, 1] + [16] * 62

    def encode(d):
        w, h = 8 * (2 + d % 3), 8 * (2 + d % 2)
        nb = (w // 8) * (h // 8)
        blocks = []
        for b in range(nb):
            zz = [0] * 64
            zz[0] = (d * 19 + 29 * b) % 3800 - 1900
            if (d + b) % 3 == 0:
                zz[1] = 1
            blocks.append(zz)
        blob = multimodal.encode_jpeg12_gray(
            w, h, blocks, q, restart_interval=2 if d % 2 == 0 else 0
        )
        return [(d, blob)]

    docs = load_table(spark, sf_dir, "documents")
    media = map_rows(doc_id_seed(docs), encode, multimodal.MEDIA_SCHEMA)
    return multimodal.image_decode_checksum(media).orderBy("doc_id")


# ---------------------------------------------------------------------------
# ROUND 10 — multimodal_jpeg_lossless_decode: LOSSLESS sequential JPEG
# (SOF3, T.81 Annex H) — DICOM's workhorse transfer syntax and the
# named "JPEG lossless" gate. All 7 predictors, precisions 8/12/16,
# mod-2^16 differences with the SSSS=16 escape, restart resets.
# Decoded == source exactly, so the oracle is the raw value formula.
# ---------------------------------------------------------------------------
@register(
    "multimodal_jpeg_lossless_decode",
    """
WITH dims AS (
  SELECT doc_id, 8 + doc_id % 5 AS w, 6 + doc_id % 3 AS h,
         CASE doc_id % 3 WHEN 0 THEN 256 WHEN 1 THEN 4096
              ELSE 65536 END AS hi
  FROM documents
), px AS (
  SELECT doc_id, w, h, i.i AS p,
         (doc_id * 37 + 101 * i.i) % hi AS v
  FROM dims, LATERAL (SELECT UNNEST(range(w * h)) AS i) i
)
SELECT doc_id, ANY_VALUE(w)::INT AS width, ANY_VALUE(h)::INT AS height,
       SUM((p + 1) * 6 * v)::BIGINT AS checksum
FROM px GROUP BY doc_id ORDER BY doc_id
""",
)
def multimodal_jpeg_lossless_decode_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL lossless JPEG decode (multimodal.decode_jpeg SOF3 path):
    v_i = (d*37 + 101*i) mod 2^P with precision rotating 8/12/16 by
    doc_id % 3, predictor rotating 1..7, restarts on even doc_ids.
    Lossless means decoded samples equal the formula exactly at every
    precision; checksum = sum((p+1) * 6v)."""
    import numpy as np

    from ..operators import multimodal

    def encode(d):
        w, h = 8 + d % 5, 6 + d % 3
        P = (8, 12, 16)[d % 3]
        v = (d * 37 + 101 * np.arange(w * h, dtype=np.int64)) % (1 << P)
        blob = multimodal.encode_jpeg_lossless(
            v.reshape(h, w),
            P,
            predictor=d % 7 + 1,
            restart_interval=5 if d % 2 == 0 else 0,
        )
        return [(d, blob)]

    docs = load_table(spark, sf_dir, "documents")
    media = map_rows(doc_id_seed(docs), encode, multimodal.MEDIA_SCHEMA)
    return multimodal.image_decode_checksum(media).orderBy("doc_id")


# ---------------------------------------------------------------------------
# ROUND 10 — multimodal_jpeg_lossless_rgb_decode: 3-component
# interleaved lossless JPEG (stored color = output color, no
# transform) — per-component predictor state, shared restarts.
# ---------------------------------------------------------------------------
@register(
    "multimodal_jpeg_lossless_rgb_decode",
    """
WITH dims AS (
  SELECT doc_id, 8 + doc_id % 5 AS w, 6 + doc_id % 3 AS h,
         CASE WHEN doc_id % 2 = 0 THEN 256 ELSE 65536 END AS hi
  FROM documents
), px AS (
  SELECT doc_id, w, h, i.i AS p,
         (doc_id * 37 + 101 * i.i) % hi AS r,
         (doc_id * 41 + 103 * i.i) % hi AS g,
         (doc_id * 43 + 107 * i.i) % hi AS b
  FROM dims, LATERAL (SELECT UNNEST(range(w * h)) AS i) i
)
SELECT doc_id, ANY_VALUE(w)::INT AS width, ANY_VALUE(h)::INT AS height,
       SUM((p + 1) * (r + 2 * g + 3 * b))::BIGINT AS checksum
FROM px GROUP BY doc_id ORDER BY doc_id
""",
)
def multimodal_jpeg_lossless_rgb_decode_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL 3-component lossless JPEG decode: per-channel LCG
    formulas at precision 8/16 by parity, predictor rotating 1..7,
    restarts every 5 MCUs on doc_id % 3 == 0. Decoded == source
    exactly; checksum = sum((p+1) * (r + 2g + 3b))."""
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
        )
        return [(d, blob)]

    docs = load_table(spark, sf_dir, "documents")
    media = map_rows(doc_id_seed(docs), encode, multimodal.MEDIA_SCHEMA)
    return multimodal.image_decode_checksum(media).orderBy("doc_id")
