"""Round-12 regression tests: the four round-11 advisory fixes
(uniform fragment stripping on the scheme-less passthrough, the
foreachBatch batch-id idempotence guard on ivfpq_index_add, replay-
deterministic reshard emit_idx bases after retention expiry) plus the
round-12 verdict items (store-agnostic manifest compaction, persisted
two-stage serving, streaming deletes, byte-level BPE, multi-scan
lossless JPEG)."""

from __future__ import annotations

import pyspark.sql.functions as F


def test_canonical_url_schemeless_strips_fragment(spark):
    """The scheme-less passthrough branch must still strip the
    '#fragment' — fragment stripping is uniform across branches, or
    two inputs differing only in fragment would canonicalize to
    different dedup keys (round-11 advisory)."""
    from kinesis_stream_reader_spark.operators import dedup

    df = spark.createDataFrame(
        [
            ("example.com/path?b=1#frag",),
            ("example.com/path?b=1",),
            ("no-url-at-all#x",),
        ],
        ["url"],
    )
    got = [
        r.c
        for r in df.select(
            dedup.canonical_url(F.col("url")).alias("c")
        ).collect()
    ]
    # fragment stripped, nothing else touched
    assert got[0] == "example.com/path?b=1"
    assert got[0] == got[1]
    assert got[2] == "no-url-at-all"


def test_ivfpq_index_add_batch_id_replay_is_noop(spark, sf_dir, tmp_path):
    """foreachBatch is at-least-once: replaying a micro-batch with the
    same batch_id must NOT double-append code rows (round-11 advisory
    on streaming_index_upsert). Same delta + same batch_id twice ->
    row counts identical to a single add; a NEW batch_id appends."""
    from kinesis_stream_reader_spark.operators import similarity
    from kinesis_stream_reader_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 7)
    delta = emb.filter(F.col("vec_id") % 10 == 7)
    d = str(tmp_path / "idx")
    similarity.ivfpq_build_index(base, d, m=4, n_codes=8, n_lists=16,
                                 max_iter=5)

    def n_codes_rows() -> int:
        return spark.read.parquet(f"{d}/codes").count()

    before = n_codes_rows()
    similarity.ivfpq_index_add(delta, d, batch_id=0)
    after_first = n_codes_rows()
    assert after_first == before + delta.count()
    # replay of the SAME batch: a no-op, not a duplicate append
    similarity.ivfpq_index_add(delta, d, batch_id=0)
    assert n_codes_rows() == after_first
    # a genuinely new batch still lands
    similarity.ivfpq_index_add(delta.limit(3), d, batch_id=1)
    assert n_codes_rows() == after_first + 3


def test_reshard_stream_bases_survive_retention_expiry(tmp_path):
    """Chain-global emit_idx bases are computed from sizes FROZEN in
    the checkpointed offset, not from a live file census: after a
    prior shard's wire file expires from retention, a replayed batch
    (same start/end offsets) must emit the same emit_idx values as
    the original run (round-11 advisory)."""
    import os

    from kinesis_stream_reader_spark.sources.python_source import (
        KinesisReshardStreamReader,
        write_reshard_manifest,
        write_reshard_shard_file,
    )

    d = str(tmp_path)
    write_reshard_shard_file(d, "p", [(i, 1, b"x") for i in range(5)])
    write_reshard_shard_file(d, "c1", [(10 + i, 1, b"y") for i in range(4)])
    write_reshard_manifest(
        d,
        [
            {"shard_id": "p", "closed": True},
            {"shard_id": "c1", "parent": "p"},
        ],
    )
    r = KinesisReshardStreamReader({"path": d})
    # batch 1 drains p fully (freezes p's size in the offset) ...
    o0 = r.initialOffset()
    o1 = r.latestOffset()
    assert o1["sizes"].get("p") == 5
    r.partitions(o0, o1)
    # ... batch 2 admits c1
    o2 = r.latestOffset()
    parts = r.partitions(o1, o2)
    c1 = [p for p in parts if p.shard_id == "c1"]
    assert c1 and c1[0].base == 5

    # retention expires p's file; a RECOVERED reader replaying batch 2
    # from the checkpointed offsets must reproduce base=5, not 0
    os.remove(os.path.join(d, "shard-p.jsonl"))
    r2 = KinesisReshardStreamReader({"path": d})
    parts2 = r2.partitions(o1, o2)
    c1b = [p for p in parts2 if p.shard_id == "c1"]
    assert c1b and c1b[0].base == 5


def _no_checkpoint_guard(monkeypatch):
    """Fail the test if ANY localCheckpoint/checkpoint happens inside
    the guarded block — the round-12 compaction must be a pure
    staging write + manifest flip."""
    from pyspark.sql import DataFrame

    def boom(self, *a, **k):  # pragma: no cover - assertion helper
        raise AssertionError("compaction must not checkpoint")

    monkeypatch.setattr(DataFrame, "localCheckpoint", boom)
    monkeypatch.setattr(DataFrame, "checkpoint", boom)


def test_compact_every_list_tombstoned_no_checkpoint(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The round-11 weak item's worst case: tombstones touch EVERY
    list, which the old dynamic-overwrite shape could only survive by
    localCheckpoint-pinning the entire surviving index. The staging-
    write compact handles it with zero checkpoints (enforced by
    monkeypatch), zero driver-side deletes (stale dirs remain on
    disk), and an unchanged serve."""
    import os

    from kinesis_stream_reader_spark.operators import similarity
    from kinesis_stream_reader_spark.sources.tables import load_table

    d = str(tmp_path / "idx")
    emb = load_table(spark, sf_dir, "embeddings")
    similarity.ivfpq_build_index(emb, d, m=4, n_codes=8, n_lists=16,
                                 max_iter=5)
    # tombstone one vector from EVERY list
    codes = spark.read.parquet(f"{d}/codes")
    victims = (
        codes.groupBy("list_id").agg(F.min("vec_id").alias("vec_id"))
        .select("vec_id")
    )
    n_lists_live = codes.select("list_id").distinct().count()
    victim_ids = {r.vec_id for r in victims.collect()}
    similarity.ivfpq_index_delete(spark, d, victims)
    before = [
        (r.rank, r.vec_id, r.adc_d2)
        for r in similarity.ivfpq_serve_persisted(
            emb, d, query_vec_id=0, k=10, nprobe=2
        ).collect()
    ]

    _no_checkpoint_guard(monkeypatch)
    affected = similarity.ivfpq_index_compact(spark, d)
    assert len(affected) == n_lists_live  # every live list compacted
    # stale partition dirs are still on disk: no driver-side deletes
    for lid in affected:
        assert os.path.isdir(f"{d}/codes/list_id={lid}")
    manifest = similarity._load_manifest(spark, d)
    assert all(
        manifest["roots"][str(lid)] == ["codes_c1"] for lid in affected
    )
    after = [
        (r.rank, r.vec_id, r.adc_d2)
        for r in similarity.ivfpq_serve_persisted(
            emb, d, query_vec_id=0, k=10, nprobe=2
        ).collect()
    ]
    assert before == after
    # the victims are physically gone from the live read path
    live_ids = {
        r.vec_id for r in similarity._codes_df(spark, d).select(
            "vec_id").collect()
    }
    assert not (victim_ids & live_ids)
    # and the serve plan reads the GENERATION dir with partition
    # pruning, never a checkpointed RDD
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        similarity.ivfpq_serve_persisted(
            emb, d, query_vec_id=0, k=10, nprobe=2
        ).explain("formatted")
    explained = buf.getvalue()
    assert "codes_c1" in explained
    assert "PartitionFilters" in explained
    # every ExistingRDD in the plan is the broadcast LUT's local
    # relation (it also reappears inside the dynamic-partition-pruning
    # subqueries the LONG partition schema enables) — a checkpointed
    # CODES side would surface as an ExistingRDD outputting the codes
    # column instead of parquet scans
    import re as _re

    for out_cols in _re.findall(
        r"\) Scan ExistingRDD\nOutput \[\d+\]: \[([^\]]*)\]", explained
    ):
        assert "codes#" not in out_cols, out_cols


def test_add_after_compact_lands_in_live_root(spark, sf_dir, tmp_path):
    """Appends to a compacted list must land in the list's LIVE root
    (its generation dir), not beside the stale codes/ files the
    manifest reader never reads — and a fully-dropped list is re-homed
    in the newest generation. Serve equality with a from-scratch
    rebuild proves the routed appends are all visible."""
    from kinesis_stream_reader_spark.operators import similarity
    from kinesis_stream_reader_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 7)
    delta = emb.filter(F.col("vec_id") % 10 == 7)
    d = str(tmp_path / "idx")
    similarity.ivfpq_build_index(base, d, m=4, n_codes=8, n_lists=16,
                                 max_iter=5)
    # tombstone a slice of the base, compact -> manifest exists
    similarity.ivfpq_index_delete(
        spark, d, base.filter(F.col("vec_id") % 25 == 3)
    )
    assert similarity.ivfpq_index_compact(spark, d)
    # now ADD the delta: every touched compacted list routes to its
    # generation dir; lists never compacted still append to codes/
    similarity.ivfpq_index_add(delta, d)
    manifest = similarity._load_manifest(spark, d)
    redirected = {int(k) for k, v in manifest["roots"].items() if v}

    got = [
        (r.rank, r.vec_id, r.adc_d2)
        for r in similarity.ivfpq_serve_persisted(
            emb, d, query_vec_id=0, k=10, nprobe=2
        ).collect()
    ]
    # from-scratch twin over the same surviving corpus, same constants
    d2 = str(tmp_path / "scratch")
    kept = emb.filter(
        (F.col("vec_id") % 10 == 7) | (F.col("vec_id") % 25 != 3)
    )
    similarity.ivfpq_build_index(
        kept, d2, m=4, n_codes=8, n_lists=16, max_iter=5, train_on=base
    )
    want = [
        (r.rank, r.vec_id, r.adc_d2)
        for r in similarity.ivfpq_serve_persisted(
            emb, d2, query_vec_id=0, k=10, nprobe=2
        ).collect()
    ]
    assert got == want
    # physical routing: every delta row that the live read path shows
    # under a redirected list must actually sit in that list's
    # generation dir (NOT beside the stale codes/ files)
    delta_ids = {r.vec_id for r in delta.select("vec_id").collect()}
    live_redirected = {
        r.vec_id
        for r in similarity._codes_df(spark, d)
        .filter(F.col("list_id").isin(sorted(redirected)))
        .select("vec_id")
        .collect()
    }
    in_gen = {
        r.vec_id
        for r in spark.read.parquet(f"{d}/codes_c1")
        .select("vec_id")
        .collect()
    }
    assert (live_redirected & delta_ids) <= in_gen
    # the fixture is only meaningful if some delta rows DID land in a
    # compacted list
    assert live_redirected & delta_ids


def test_refine_serve_equals_inmemory_refine_and_prunes_both_scans(
    spark, sf_dir, tmp_path
):
    """ann_index_refine_serve's contract: the persisted two-stage serve
    is bit-identical to ann_ivfpq_refine on the same corpus, and BOTH
    table scans (codes/ shortlist, vectors/ re-rank) carry file-level
    PartitionFilters on the probed lists."""
    import contextlib
    import io
    import re

    from kinesis_stream_reader_spark.operators import similarity
    from kinesis_stream_reader_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    d = str(tmp_path / "idx")
    similarity.ivfpq_build_index(emb, d, m=4, n_codes=8, n_lists=16,
                                 max_iter=5)
    similarity.ivfpq_store_vectors(emb, d)
    served = similarity.ivfpq_serve_refine_persisted(
        emb, d, query_vec_id=0, k=10, refine_factor=4, nprobe=2
    )
    want = [
        (r.rank, r.vec_id, r.adc_d2, r.exact_d2)
        for r in similarity.ann_ivfpq_refine(
            emb, query_vec_id=0, k=10, refine_factor=4, nprobe=2,
            m=4, n_codes=8, n_lists=16, max_iter=5,
        ).collect()
    ]
    got = [
        (r.rank, r.vec_id, r.adc_d2, r.exact_d2) for r in served.collect()
    ]
    assert got == want and len(got) == 10

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        served.explain("formatted")
    plan = buf.getvalue()
    # one pruned scan per store: every Scan parquet node that reads
    # codes/ or vectors/ must carry a non-empty list_id PartitionFilter
    scans = re.findall(
        r"Location: InMemoryFileIndex\S* \[\S*(codes|vectors)[^\]]*\]"
        r"[\s\S]*?PartitionFilters: (\[[^\]]*\])",
        plan,
    )
    stores = {s for s, _ in scans}
    assert {"codes", "vectors"} <= stores, plan
    for store, filt in scans:
        # non-empty pruning filter on the partition column, whichever
        # spelling the planner picked (INSET / IN (...))
        assert "list_id" in filt and filt.strip() != "[]", (store, filt)


def test_filtered_serve_equals_inmemory_and_pushes_predicate(
    spark, sf_dir, tmp_path
):
    """ann_index_filtered_serve's contract: bit-equal to
    ann_ivf_filtered on the same fixture, with the label predicate
    PUSHED into the partition-pruned vectors/ scan (PushedFilters
    carries the label equality, PartitionFilters the probed lists)."""
    import contextlib
    import io

    from kinesis_stream_reader_spark.operators import similarity
    from kinesis_stream_reader_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    d = str(tmp_path / "idx")
    similarity.ivfpq_build_index(emb, d, m=4, n_codes=8, n_lists=16,
                                 max_iter=5)
    similarity.ivfpq_store_vectors(emb, d)
    served = similarity.ivf_serve_filtered_persisted(
        emb, d, query_vec_id=0, k=10, nprobe=2, label=1
    )
    got = [
        (r.rank, r.vec_id, r.label, r.d2) for r in served.collect()
    ]
    want = [
        (r.rank, r.vec_id, r.label, r.d2)
        for r in similarity.ann_ivf_filtered(
            emb, query_vec_id=0, k=10, nprobe=2, n_lists=16, max_iter=5,
            label=1,
        ).collect()
    ]
    assert got == want and got

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        served.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "list_id" in plan
    assert "PushedFilters" in plan
    assert "EqualTo(label,1)" in plan.replace(" ", "").replace(
        "label#", "label,"
    ) or "EqualTo(label,1)" in plan


def test_streaming_delete_equals_batch_delete(spark, sf_dir):
    """The streamed DELETE leg must serve exactly what the batch
    tombstone path serves over the same maintained corpus (tombstone
    appends commute; dedup at serve time makes replays harmless)."""
    from kinesis_stream_reader_spark.registry import QUERIES

    streamed = [
        tuple(r)
        for r in QUERIES["streaming_index_delete_serve"](
            spark, sf_dir
        ).collect()
    ]
    batch = [
        tuple(r)
        for r in QUERIES["ann_index_upsert_serve"](spark, sf_dir).collect()
    ]
    assert streamed == batch and len(streamed) == 10


def test_compact_policy_names_lists_and_flags_split(spark, sf_dir):
    """The policy census covers every live list, flags only threshold
    crossers, and its flagged set is exactly what a maintenance loop
    would compact."""
    from kinesis_stream_reader_spark.registry import QUERIES

    rows = QUERIES["ann_index_compact_policy"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_tombstoned <= r.n_vectors
        assert r.tomb_milli == r.n_tombstoned * 1000 // r.n_vectors
        assert r.compact == int(r.n_tombstoned * 1000 >= r.n_vectors * 40)


def test_streaming_minhash_multibatch_equals_batch(spark, sf_dir, tmp_path):
    """The streamed LSH ingest must be arrival-order invariant: with
    the corpus sliced into 4 micro-batches (4 part files), the drained
    mapping equals the batch minhash_dedup — a colliding pair is
    discovered exactly when its later member arrives."""
    from kinesis_stream_reader_spark.operators import dedup
    from kinesis_stream_reader_spark.registry import QUERIES
    from kinesis_stream_reader_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    sf2 = tmp_path / "sf_multibatch"
    sf2.mkdir()
    # 4 part files -> 4 micro-batches under maxFilesPerTrigger=1
    docs.repartition(4, "doc_id").write.parquet(
        str(sf2 / "documents.parquet")
    )
    streamed = [
        (r.doc_id, r.canonical_id, r.is_dup)
        for r in QUERIES["streaming_minhash_dedup"](
            spark, str(sf2)
        ).collect()
    ]
    batch = sorted(
        (r.doc_id, r.canonical_id, r.is_dup)
        for r in dedup.minhash_dedup(docs).collect()
    )
    assert streamed == batch
    assert any(d for _, _, d in streamed), "fixture must contain dups"


def test_jpeg_lossless_multiscan_roundtrip():
    """Non-interleaved (one scan per component) lossless JPEG decodes
    pixel-identically to the interleaved layout of the same array,
    across all 7 predictors, restart intervals, and both precisions."""
    import numpy as np

    from kinesis_stream_reader_spark.operators import multimodal as mm

    per_component = ((0,), (1,), (2,))
    rng = np.random.RandomState(7)
    for pred in range(1, 8):
        a = rng.randint(0, 256, size=(9, 7, 3))
        multi = mm.decode_jpeg(
            mm.encode_jpeg_lossless(
                a, 8, predictor=pred, restart_interval=5,
                scan_groups=per_component,
            )
        )
        inter = mm.decode_jpeg(
            mm.encode_jpeg_lossless(a, 8, predictor=pred, restart_interval=5)
        )
        assert (multi == a).all() and (multi == inter).all(), pred
    a16 = rng.randint(0, 65536, size=(6, 5, 3))
    multi16 = mm.decode_jpeg(
        mm.encode_jpeg_lossless(
            a16, 16, predictor=4, restart_interval=0,
            scan_groups=per_component,
        )
    )
    assert (multi16 == a16).all() and multi16.dtype == np.uint16


def test_bytes_to_unicode_matches_gpt2_reference():
    """The byte->unicode table must be the public GPT-2 one: 256
    entries, printable latin-1 bytes map to themselves, the 68
    remaining bytes map to chr(256+k) in byte order."""
    from kinesis_stream_reader_spark.operators.text import _bytes_to_unicode

    t = _bytes_to_unicode()
    assert len(t) == 256 and len(set(t.values())) == 256
    assert t[ord("!")] == "!" and t[ord("~")] == "~"
    assert t[0xA1] == "\xa1" and t[0xFF] == "\xff"
    # the classic markers: space -> Ġ (U+0120), newline -> Ċ (U+010A)
    assert t[ord(" ")] == "Ġ"
    assert t[ord("\n")] == "Ċ"
    assert t[0] == "Ā"


def test_bytelevel_encode_handles_utf8():
    """Non-ASCII input goes through UTF-8 bytes -> mapped chars: the
    encode kernel is total on arbitrary text even though the oracle
    corpus is ASCII."""
    from kinesis_stream_reader_spark.operators.text import (
        _bytelevel_encode_word,
        _bytes_to_unicode,
    )

    table = _bytes_to_unicode()
    joined, n_pieces = _bytelevel_encode_word("caféab", table, [("a", "b")])
    pieces = joined.split(" ")
    # 'é' is 2 UTF-8 bytes -> 2 mapped symbols; 'ab' merged to one
    assert len(pieces) == 3 + 2 + 1
    assert pieces[-1] == "ab"
    assert n_pieces == 6


def test_batch_refine_serve_equals_single_refine_serve(spark, sf_dir):
    """Each query's rows in the batched two-stage serve must equal its
    single two-stage serve (and thus the in-memory refine) — the
    r11 batch/single equivalence extended to the refine stage."""
    from kinesis_stream_reader_spark.operators import similarity
    from kinesis_stream_reader_spark.registry.r10_round10 import (
        ensure_persisted_ivfpq_index,
    )
    from kinesis_stream_reader_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    d = ensure_persisted_ivfpq_index(spark, sf_dir)
    batch = similarity.ivfpq_serve_refine_persisted_batch(
        emb, d, n_queries=4, k=10, refine_factor=4, nprobe=2
    ).collect()
    qids = sorted({r.query_id for r in batch})
    assert len(qids) == 4
    for qid in qids:
        single = [
            (r.rank, r.vec_id, r.adc_d2, r.exact_d2)
            for r in similarity.ivfpq_serve_refine_persisted(
                emb, d, query_vec_id=qid, k=10, refine_factor=4, nprobe=2
            ).collect()
        ]
        got = [
            (r.rank, r.vec_id, r.adc_d2, r.exact_d2)
            for r in batch
            if r.query_id == qid
        ]
        assert got == single


def test_codes_df_survives_gc_of_fully_compacted_index(
    spark, sf_dir, tmp_path
):
    """After a compaction that touches EVERY list and a gc that
    reclaims every stale codes/ partition dir, the manifest-aware
    reader must still serve (codes/ legitimately holds zero parquet
    files; the explicit read schema keeps the empty branch readable)."""
    from kinesis_stream_reader_spark.operators import similarity
    from kinesis_stream_reader_spark.sources.tables import load_table

    d = str(tmp_path / "idx")
    emb = load_table(spark, sf_dir, "embeddings")
    similarity.ivfpq_build_index(emb, d, m=4, n_codes=8, n_lists=16,
                                 max_iter=5)
    codes = spark.read.parquet(f"{d}/codes")
    victims = (
        codes.groupBy("list_id").agg(F.min("vec_id").alias("vec_id"))
        .select("vec_id")
    )
    similarity.ivfpq_index_delete(spark, d, victims)
    before = [
        tuple(r)
        for r in similarity.ivfpq_serve_persisted(
            emb, d, query_vec_id=0, k=10, nprobe=2
        ).collect()
    ]
    similarity.ivfpq_index_compact(spark, d)
    deleted = similarity.ivfpq_index_gc(spark, d)
    assert deleted  # every list's stale dir reclaimed
    after = [
        tuple(r)
        for r in similarity.ivfpq_serve_persisted(
            emb, d, query_vec_id=0, k=10, nprobe=2
        ).collect()
    ]
    assert before == after
    assert similarity._codes_df(spark, d).count() > 0


def test_filtered_serve_hides_tombstoned_and_compacted_deletes(
    spark, sf_dir, tmp_path
):
    """The filtered serve must hide deleted vectors exactly like every
    other persisted serve — both while they are tombstones AND after
    compaction retires the tombstone set (vectors/ is never rewritten,
    so liveness comes from the codes semi-join)."""
    from kinesis_stream_reader_spark.operators import similarity
    from kinesis_stream_reader_spark.sources.tables import load_table

    d = str(tmp_path / "idx")
    emb = load_table(spark, sf_dir, "embeddings")
    similarity.ivfpq_build_index(emb, d, m=4, n_codes=8, n_lists=16,
                                 max_iter=5)
    similarity.ivfpq_store_vectors(emb, d)
    base = [
        (r.rank, r.vec_id, r.label, r.d2)
        for r in similarity.ivf_serve_filtered_persisted(
            emb, d, query_vec_id=0, k=10, nprobe=2, label=1
        ).collect()
    ]
    assert base
    # delete the top filtered hit
    victim = base[0][1]
    similarity.ivfpq_index_delete(spark, d, [victim])
    tombstoned = similarity.ivf_serve_filtered_persisted(
        emb, d, query_vec_id=0, k=10, nprobe=2, label=1
    ).collect()
    assert all(r.vec_id != victim for r in tombstoned)
    # compact retires the tombstones; the victim must STAY hidden
    assert similarity.ivfpq_index_compact(spark, d)
    compacted = similarity.ivf_serve_filtered_persisted(
        emb, d, query_vec_id=0, k=10, nprobe=2, label=1
    ).collect()
    assert [tuple(r) for r in compacted] == [tuple(r) for r in tombstoned]


def test_refine_filtered_serve_prefilters_prunes_and_converges(
    spark, sf_dir, tmp_path
):
    """ann_index_refine_filtered_serve's contract: every result passes
    the predicate, both stores scan pruned (PartitionFilters on
    list_id; PushedFilters label equality on vectors/), and with a
    shortlist wide enough to cover every eligible candidate the
    two-stage result equals the filtered FLAT serve exactly (the
    shortlist is then a no-op and refine == exact ranking)."""
    import contextlib
    import io
    import re

    from kinesis_stream_reader_spark.operators import similarity
    from kinesis_stream_reader_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    d = str(tmp_path / "idx")
    similarity.ivfpq_build_index(emb, d, m=4, n_codes=8, n_lists=16,
                                 max_iter=5)
    similarity.ivfpq_store_vectors(emb, d)
    served = similarity.ivfpq_serve_refine_filtered_persisted(
        emb, d, query_vec_id=0, k=10, refine_factor=4, nprobe=2, label=1
    )
    rows = served.collect()
    assert rows and all(r.label == 1 for r in rows)
    assert [r.exact_d2 for r in rows] == sorted(r.exact_d2 for r in rows)

    # refine_factor large enough that the shortlist holds EVERY
    # eligible candidate -> exact equality with the filtered flat serve
    wide = similarity.ivfpq_serve_refine_filtered_persisted(
        emb, d, query_vec_id=0, k=10, refine_factor=10**6, nprobe=2,
        label=1,
    )
    got = [(r.rank, r.vec_id, r.label, r.exact_d2) for r in wide.collect()]
    want = [
        (r.rank, r.vec_id, r.label, r.d2)
        for r in similarity.ivf_serve_filtered_persisted(
            emb, d, query_vec_id=0, k=10, nprobe=2, label=1
        ).collect()
    ]
    assert got == want and got

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        served.explain("formatted")
    plan = buf.getvalue()
    scans = re.findall(
        r"Location: InMemoryFileIndex\S* \[\S*(codes|vectors)[^\]]*\]"
        r"[\s\S]*?PartitionFilters: (\[[^\]]*\])",
        plan,
    )
    stores = {s for s, _ in scans}
    assert {"codes", "vectors"} <= stores, plan
    for store, filt in scans:
        assert "list_id" in filt and filt.strip() != "[]", (store, filt)
    flat = plan.replace(" ", "")
    assert "EqualTo(label,1)" in flat, plan


def test_retrain_policy_census_is_exact_and_flags_empty_lists(
    spark, sf_dir, tmp_path
):
    """ivfpq_index_retrain_policy's numbers must equal a pure-Python
    replay of the live census (exact ints), stay quiet on the fresh
    index under default thresholds, and fire once a list is fully
    tombstoned and the empty threshold is tightened."""
    from pyspark.sql import functions as F  # noqa: F811

    from kinesis_stream_reader_spark.operators import similarity
    from kinesis_stream_reader_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    d = str(tmp_path / "idx")
    similarity.ivfpq_build_index(emb, d, m=4, n_codes=8, n_lists=16,
                                 max_iter=5)

    def replay():
        counts = {
            r.list_id: r.c
            for r in similarity._codes_sans_tombstones(spark, d)
            .groupBy("list_id")
            .agg(F.count("*").alias("c"))
            .collect()
        }
        cs = list(counts.values())
        tot = sum(cs)
        return (
            16, len(cs), 16 - len(cs), tot,
            (16 * sum(c * c for c in cs) * 1000) // (tot * tot),
        )

    row = similarity.ivfpq_index_retrain_policy(spark, d).collect()[0]
    exp = replay()
    assert (
        row.n_lists, row.n_live_lists, row.n_empty_lists,
        row.n_live_vectors, row.imbalance_milli,
    ) == exp
    assert row.n_empty_lists == 0 and row.retrain == 0

    # fully tombstone one list -> an empty list appears; a tightened
    # empty threshold (one empty list of 16 = 62.5 milli) must fire
    first_list = (
        similarity._codes_df(spark, d).select("list_id").limit(1)
        .collect()[0].list_id
    )
    similarity.ivfpq_index_delete(
        spark, d,
        similarity._codes_df(spark, d)
        .filter(F.col("list_id") == first_list)
        .select("vec_id"),
    )
    row2 = similarity.ivfpq_index_retrain_policy(
        spark, d, empty_threshold_milli=62
    ).collect()[0]
    assert row2.n_empty_lists == 1 and row2.retrain == 1
    # and the census still replays exactly after the delete
    exp2 = replay()
    assert (
        row2.n_lists, row2.n_live_lists, row2.n_empty_lists,
        row2.n_live_vectors, row2.imbalance_milli,
    ) == exp2


def test_bytelevel_decode_inverts_encode_on_arbitrary_utf8():
    """The decode leg is the exact inverse of the encode kernel on
    arbitrary UTF-8 — multi-byte sequences, the space/newline marker
    bytes, and merged pieces all map back losslessly through the
    inverted byte table."""
    from kinesis_stream_reader_spark.operators.text import (
        _bytelevel_decode_word,
        _bytelevel_encode_word,
        _bytes_to_unicode,
    )

    table = _bytes_to_unicode()
    inv = {ch: b for b, ch in table.items()}
    words = ["café", "日本語", "naïve", "a b\nc", "héllo-wörld", "𝄞clef"]
    merges = [("a", "b"), ("ab", "c")]
    for w in words:
        pieces, _n = _bytelevel_encode_word(w, table, merges)
        assert _bytelevel_decode_word(pieces, inv) == w


def test_retrain_policy_fully_tombstoned_index_reads_zero(
    spark, sf_dir, tmp_path
):
    """The empty-census contract: deleting EVERY vector must read
    n_live_vectors = imbalance_milli = 0 (no NULLs, no ANSI
    divide-by-zero) and fire retrain via the empty-list branch."""
    from pyspark.sql import functions as F  # noqa: F811

    from kinesis_stream_reader_spark.operators import similarity
    from kinesis_stream_reader_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    d = str(tmp_path / "idx")
    similarity.ivfpq_build_index(emb, d, m=4, n_codes=8, n_lists=16,
                                 max_iter=5)
    similarity.ivfpq_index_delete(
        spark, d, similarity._codes_df(spark, d).select("vec_id")
    )
    row = similarity.ivfpq_index_retrain_policy(spark, d).collect()[0]
    assert row.n_live_lists == 0 and row.n_empty_lists == 16
    assert row.n_live_vectors == 0 and row.imbalance_milli == 0
    assert row.retrain == 1


def test_retrain_policy_counts_trained_lists_from_meta(
    spark, sf_dir, tmp_path
):
    """n_lists comes from the TRAINED count in _META, not the
    surviving centroids/ rows: a trained-but-empty cluster (Lloyd can
    drop one) must surface as an empty list in the census."""
    import json

    from kinesis_stream_reader_spark.operators import similarity
    from kinesis_stream_reader_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    d = str(tmp_path / "idx")
    similarity.ivfpq_build_index(emb, d, m=4, n_codes=8, n_lists=16,
                                 max_iter=5)
    meta = similarity._index_meta(spark, d)
    meta["n_lists"] = 17  # as if training declared one more cluster
    similarity._fs_write_text(
        spark, f"{d}/_META.json", json.dumps(meta)
    )
    row = similarity.ivfpq_index_retrain_policy(
        spark, d, empty_threshold_milli=50
    ).collect()[0]
    assert row.n_lists == 17
    assert row.n_empty_lists == row.n_lists - row.n_live_lists >= 1
    # 1/17 empty = 58 milli >= 50 -> the empty branch fires
    assert row.retrain == 1
