"""Round-11 regression tests: the four round-10 advisory fixes plus
the unigram seed-vocab cap (the repo's last unbounded driver collect,
now a distributed TakeOrderedAndProject top-K like wordpiece's)."""

from __future__ import annotations

import pyspark.sql.functions as F


def test_unigram_seed_cap_binds_deterministically(spark, sf_dir):
    """With a tiny explicit seed cap the multi-char seed census
    truncates to the top-K by (wt DESC, piece ASC) and the encode
    stays total (single chars unconditional) — the bounded-broadcast
    contract, same shape as wordpiece's vocab_cap."""
    from kinesis_stream_reader_spark.operators import text
    from kinesis_stream_reader_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    full = {
        r.word: (r.pieces, r.n_pieces)
        for r in text.unigram_lm_encode(docs, seed_vocab_cap=65536).collect()
    }
    capped = {
        r.word: (r.pieces, r.n_pieces)
        for r in text.unigram_lm_encode(docs, seed_vocab_cap=3).collect()
    }
    # totality: the cap can coarsen segmentations but never drop words
    assert set(full) == set(capped)
    # same cap twice -> identical output (deterministic tie-breaks)
    again = {
        r.word: (r.pieces, r.n_pieces)
        for r in text.unigram_lm_encode(docs, seed_vocab_cap=3).collect()
    }
    assert capped == again
    # every piece sequence reassembles its word
    for w, (pieces, np_) in capped.items():
        assert "".join(pieces.split(" ")) == w
        assert len(pieces.split(" ")) == np_


def test_canonical_url_schemeless_passthrough(spark):
    """A string with no '://' passes through unchanged instead of
    silently losing its first two characters (F.locate returns 0 when
    the separator is absent, so the un-guarded substring started at
    index 3)."""
    from kinesis_stream_reader_spark.operators import dedup

    df = spark.createDataFrame(
        [
            ("example.com/path?utm_source=x&b=1",),
            ("HTTPS://Host.Example.COM:443/a/?utm_x=1&z=2&a=3#frag",),
        ],
        ["url"],
    )
    got = [
        r.c
        for r in df.select(
            dedup.canonical_url(F.col("url")).alias("c")
        ).collect()
    ]
    assert got[0] == "example.com/path?utm_source=x&b=1"  # unchanged
    assert got[1] == "https://host.example.com/a?a=3&z=2"


def test_jpeg_lossless_partial_scan_incomplete_fails_loudly():
    """Round 13 decodes partially-interleaved lossless scans (the old
    NotImplementedError gate is gone — positive coverage lives in
    test_multimodal.test_jpeg_lossless_roundtrip_matrix).
    The invariant this test keeps: a file whose scans do NOT cover
    every declared component must still fail loudly, never silently
    decode a subset. This fixture's lone scan names two of three
    components and carries no entropy data at all."""
    import struct

    import pytest

    from kinesis_stream_reader_spark.operators import multimodal as mm

    nc = 3
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xc3" + struct.pack(">HBHHB", 8 + 3 * nc, 8, 4, 4, nc)
    for ci in range(nc):
        out += bytes([ci + 1, 0x11, 0])
    out += b"\xff\xc4" + struct.pack(">H", 19 + len(mm._JLL_DC_SYMBOLS))
    out += bytes([0x00]) + bytes(mm._JLL_DC_COUNTS) + bytes(mm._JLL_DC_SYMBOLS)
    # SOS names TWO of the 3 declared components
    out += b"\xff\xda" + struct.pack(">HB", 10, 2)
    out += bytes([1, 0x00, 2, 0x00, 1, 0, 0])
    with pytest.raises((ValueError, IndexError)):
        mm.decode_jpeg(bytes(out))


def test_reshard_stream_emit_idx_chain_global(spark, tmp_path):
    """Streaming emit_idx now carries the same chain-global monotone
    counter as the batch KinesisReshardReader (shard base = cumulative
    sizes of earlier shards in the chain), so a chain's emission order
    is verifiable from the streamed rows alone."""
    import tempfile

    from kinesis_stream_reader_spark.sources.python_source import (
        KinesisReshardDataSource,
        write_reshard_manifest,
        write_reshard_shard_file,
    )

    spark.dataSource.register(KinesisReshardDataSource)
    d = str(tmp_path)
    write_reshard_shard_file(d, "p", [(i, 1, b"x") for i in range(5)])
    write_reshard_shard_file(d, "c1", [(10 + i, 1, b"y") for i in range(4)])
    write_reshard_shard_file(d, "q", [(i, 2, b"z") for i in range(3)])
    write_reshard_manifest(
        d,
        [
            {"shard_id": "p", "closed": True},
            {"shard_id": "c1", "parent": "p"},
            {"shard_id": "q"},
        ],
    )
    streamed = []

    def obs(df, bid):
        streamed.extend(
            (r.shard_id, r.emit_idx, r.sequence_number) for r in df.collect()
        )

    st = (
        spark.readStream.format("kinesis_reshard")
        .option("path", d)
        .option("maxRecordsPerShardPerBatch", "2")
        .load()
    )
    with tempfile.TemporaryDirectory() as ck:
        q = (
            st.writeStream.foreachBatch(obs)
            .option("checkpointLocation", ck)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
    batch = [
        (r.shard_id, r.emit_idx, r.sequence_number)
        for r in spark.read.format("kinesis_reshard")
        .option("path", d)
        .load()
        .collect()
    ]
    # identical (shard, emit_idx, seq) triples — the streaming reader
    # assigns exactly the batch reader's chain-global counter
    assert sorted(streamed) == sorted(batch)
    # and within the p->c1 chain, every parent emit_idx < every child's
    p_max = max(e for s, e, _ in streamed if s == "p")
    c_min = min(e for s, e, _ in streamed if s == "c1")
    assert p_max < c_min


def _build_upsert_index(spark, sf_dir, d: str):
    from kinesis_stream_reader_spark.operators import similarity
    from kinesis_stream_reader_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 7)
    delta = emb.filter(F.col("vec_id") % 10 == 7)
    similarity.ivfpq_build_index(base, d, m=4, n_codes=8, n_lists=16,
                                 max_iter=5)
    similarity.ivfpq_index_add(delta, d)
    similarity.ivfpq_index_delete(
        spark, d, emb.filter(F.col("vec_id") % 25 == 3)
    )
    return emb, base


def test_upsert_index_equals_from_scratch_rebuild(spark, sf_dir, tmp_path):
    """build(base) -> add(delta) -> tombstone deletes -> serve must be
    bit-identical to a from-scratch encode of the surviving corpus
    under the SAME base-trained constants (ivfpq_build_index's
    train_on) — the FAISS add()/remove_ids() equivalence."""
    from kinesis_stream_reader_spark.operators import similarity
    from kinesis_stream_reader_spark.sources.tables import load_table

    inc_dir = str(tmp_path / "incremental")
    emb, base = _build_upsert_index(spark, sf_dir, inc_dir)

    scratch_dir = str(tmp_path / "fromscratch")
    kept = emb.filter(F.col("vec_id") % 25 != 3)
    similarity.ivfpq_build_index(
        kept, scratch_dir, m=4, n_codes=8, n_lists=16, max_iter=5,
        train_on=base,
    )
    inc = [
        (r.rank, r.vec_id, r.adc_d2)
        for r in similarity.ivfpq_serve_persisted(
            emb, inc_dir, query_vec_id=0, k=10, nprobe=2
        ).collect()
    ]
    scr = [
        (r.rank, r.vec_id, r.adc_d2)
        for r in similarity.ivfpq_serve_persisted(
            emb, scratch_dir, query_vec_id=0, k=10, nprobe=2
        ).collect()
    ]
    assert inc == scr
    assert len(inc) == 10
    # the tombstoned ids really are gone from the candidates
    assert all(v % 25 != 3 for _, v, _ in inc)


def test_delete_is_idempotent_and_add_only_appends(spark, sf_dir, tmp_path):
    """Double-tombstoning an id (or tombstoning an absent id) does not
    change the serve result; an add touches only codes/ (centroids and
    codebook stay frozen)."""
    import os

    from kinesis_stream_reader_spark.operators import similarity

    d = str(tmp_path / "idx")
    emb, _ = _build_upsert_index(spark, sf_dir, d)
    before = [
        (r.rank, r.vec_id, r.adc_d2)
        for r in similarity.ivfpq_serve_persisted(
            emb, d, query_vec_id=0, k=10, nprobe=2
        ).collect()
    ]
    cent_files = sorted(os.listdir(f"{d}/centroids"))
    # re-delete an already-deleted id plus one that never existed
    similarity.ivfpq_index_delete(spark, d, [3, 10 ** 9])
    after = [
        (r.rank, r.vec_id, r.adc_d2)
        for r in similarity.ivfpq_serve_persisted(
            emb, d, query_vec_id=0, k=10, nprobe=2
        ).collect()
    ]
    assert before == after
    assert sorted(os.listdir(f"{d}/centroids")) == cent_files


def test_batch_persisted_serve_equals_single_serves(spark, sf_dir, tmp_path):
    """N queries against the persisted index in one plan must be
    bit-identical to N single ivfpq_serve_persisted calls."""
    from kinesis_stream_reader_spark.operators import similarity
    from kinesis_stream_reader_spark.sources.tables import load_table

    d = str(tmp_path / "idx")
    emb = load_table(spark, sf_dir, "embeddings")
    similarity.ivfpq_build_index(emb, d, m=4, n_codes=8, n_lists=16,
                                 max_iter=5)
    batch = {
        (r.query_id, r.rank): (r.vec_id, r.adc_d2)
        for r in similarity.ivfpq_serve_persisted_batch(
            emb, d, n_queries=4, k=10, nprobe=2
        ).collect()
    }
    qids = sorted({q for q, _ in batch})
    assert len(qids) == 4
    singles = {}
    for qid in qids:
        for r in similarity.ivfpq_serve_persisted(
            emb, d, query_vec_id=qid, k=10, nprobe=2
        ).collect():
            singles[(qid, r.rank)] = (r.vec_id, r.adc_d2)
    assert batch == singles


def test_persisted_serve_plan_prunes_and_broadcasts(spark, sf_dir, tmp_path):
    """Regression-lock the serve plan shape: the codes/ scan must carry
    a list_id PartitionFilter (file-level pruning — the whole point of
    the IVF layout) and the LUT join must be a BroadcastHashJoin, for
    both the single and the batched serve."""
    import contextlib
    import io

    from kinesis_stream_reader_spark.operators import similarity
    from kinesis_stream_reader_spark.sources.tables import load_table

    d = str(tmp_path / "idx")
    emb = load_table(spark, sf_dir, "embeddings")
    similarity.ivfpq_build_index(emb, d, m=4, n_codes=8, n_lists=16,
                                 max_iter=5)
    for df in (
        similarity.ivfpq_serve_persisted(emb, d, query_vec_id=0, k=10,
                                         nprobe=2),
        similarity.ivfpq_serve_persisted_batch(emb, d, n_queries=4, k=10,
                                               nprobe=2),
    ):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        assert "BroadcastHashJoin" in plan
        pf_line = plan.split("PartitionFilters", 1)[1].splitlines()[0]
        assert "list_id" in pf_line and "IN" in pf_line.upper()


def test_kpl_descriptor_set_matches_hand_codec():
    """The programmatically built kpl.proto FileDescriptorSet (the
    from_protobuf JVM path's schema) must round-trip through the
    Python protobuf runtime to exactly the wire bytes the hand-rolled
    codec decodes — proving the descriptor correct even on
    distributions where the spark-protobuf jar is absent."""
    import base64
    import hashlib

    import pytest

    from kinesis_stream_reader_spark.operators import ingest
    from kinesis_stream_reader_spark.schema import KPL_MAGIC
    from kinesis_stream_reader_spark.session import HAVE_PROTOBUF

    if not HAVE_PROTOBUF:
        pytest.skip("no protobuf runtime in this container")
    desc = ingest.kpl_descriptor_set()
    assert desc

    from google.protobuf import descriptor_pb2, descriptor_pool, message_factory

    fds = descriptor_pb2.FileDescriptorSet()
    fds.MergeFromString(desc)
    pool = descriptor_pool.DescriptorPool()
    for f in fds.file:
        pool.Add(f)
    cls = message_factory.GetMessageClass(
        pool.FindMessageTypeByName("AggregatedRecord")
    )
    msg = cls()
    msg.partition_key_table.append("pk")
    for payload in (b'{"x":1}', b"", b'{"y":[2,3]}'):
        r = msg.records.add()
        r.partition_key_index = 0
        r.data = payload
    body = msg.SerializeToString()
    blob = KPL_MAGIC + body + hashlib.md5(body).digest()
    assert ingest.kpl_decode(blob, verify_checksum=True) == [
        base64.b64encode(p).decode()
        for p in (b'{"x":1}', b"", b'{"y":[2,3]}')
    ]


def test_deagg_path_dispatch_and_probe(spark):
    """jvm_protobuf_available is an honest one-shot probe (False on
    this distribution — no spark-protobuf jar) and deagg_explode stays
    green on whichever path is chosen."""
    import base64

    from kinesis_stream_reader_spark.operators import ingest

    ok = ingest.jvm_protobuf_available(spark)
    assert isinstance(ok, bool)
    blob = ingest.kpl_encode([b'{"a":1}', b'{"b":2}'])
    raw = b'{"plain":true}'
    df = spark.createDataFrame([(1, blob), (2, raw)], "id long, data binary")
    rows = sorted(
        (r.id, base64.b64decode(r.payload_b64))
        for r in ingest.deagg_explode(df).collect()
    )
    assert rows == [
        (1, b'{"a":1}'),
        (1, b'{"b":2}'),
        (2, b'{"plain":true}'),
    ]


def test_compact_consumes_tombstones_and_preserves_serve(
    spark, sf_dir, tmp_path
):
    """ivfpq_index_compact physically drops tombstoned rows by
    rewriting ONLY the affected list_id partitions: serve results are
    invariant, tombstones/ is retired, and untouched partitions keep
    their files byte-for-byte."""
    import os

    from kinesis_stream_reader_spark.operators import similarity

    d = str(tmp_path / "idx")
    emb, _ = _build_upsert_index(spark, sf_dir, d)
    before = [
        (r.rank, r.vec_id, r.adc_d2)
        for r in similarity.ivfpq_serve_persisted(
            emb, d, query_vec_id=0, k=10, nprobe=2
        ).collect()
    ]

    def files_of(lid):
        p = f"{d}/codes/list_id={lid}"
        return sorted(os.listdir(p)) if os.path.isdir(p) else None

    all_lids = [
        int(e.split("=", 1)[1])
        for e in os.listdir(f"{d}/codes")
        if e.startswith("list_id=")
    ]
    pre_files = {lid: files_of(lid) for lid in all_lids}

    affected = similarity.ivfpq_index_compact(spark, d)
    assert affected, "fixture tombstones must hit at least one list"
    # tombstones retired ENGINE-side: the relation is rewritten empty
    # (round 12 — no driver-side deletes of Spark-written data)
    assert (
        spark.read.schema("vec_id LONG")
        .parquet(f"{d}/tombstones")
        .count()
        == 0
    )
    for lid in all_lids:
        if lid not in affected:
            assert files_of(lid) == pre_files[lid], lid
    after = [
        (r.rank, r.vec_id, r.adc_d2)
        for r in similarity.ivfpq_serve_persisted(
            emb, d, query_vec_id=0, k=10, nprobe=2
        ).collect()
    ]
    assert before == after
    # compact is idempotent: no tombstones left -> no-op
    assert similarity.ivfpq_index_compact(spark, d) == []


def test_train_only_build_then_add_equals_full_build(spark, sf_dir, tmp_path):
    """encode=False lands constants + _META but no codes; filling the
    index entirely through ivfpq_index_add yields the same serve as a
    one-shot build (appends of disjoint row sets commute)."""
    import os

    from kinesis_stream_reader_spark.operators import similarity
    from kinesis_stream_reader_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    d1 = str(tmp_path / "oneshot")
    similarity.ivfpq_build_index(emb, d1, m=4, n_codes=8, n_lists=16,
                                 max_iter=5)
    d2 = str(tmp_path / "trainonly")
    similarity.ivfpq_build_index(emb, d2, m=4, n_codes=8, n_lists=16,
                                 max_iter=5, encode=False)
    assert not os.path.isdir(f"{d2}/codes")
    assert os.path.exists(f"{d2}/_META.json")
    # fill in two disjoint adds (arbitrary split)
    similarity.ivfpq_index_add(emb.filter("vec_id % 2 = 0"), d2)
    similarity.ivfpq_index_add(emb.filter("vec_id % 2 = 1"), d2)
    s1 = [
        (r.rank, r.vec_id, r.adc_d2)
        for r in similarity.ivfpq_serve_persisted(
            emb, d1, query_vec_id=0, k=10, nprobe=2
        ).collect()
    ]
    s2 = [
        (r.rank, r.vec_id, r.adc_d2)
        for r in similarity.ivfpq_serve_persisted(
            emb, d2, query_vec_id=0, k=10, nprobe=2
        ).collect()
    ]
    assert s1 == s2


def test_serve_with_fully_tombstoned_probed_list(spark, sf_dir, tmp_path):
    """Tombstoning EVERY vector of a probed list must not break the
    serve: the anti-join empties that list's candidates and the top-k
    comes from the remaining probed list; compact then physically
    removes the emptied partition directory."""
    import os

    from kinesis_stream_reader_spark.operators import similarity
    from kinesis_stream_reader_spark.sources.tables import load_table

    d = str(tmp_path / "idx")
    emb = load_table(spark, sf_dir, "embeddings")
    similarity.ivfpq_build_index(emb, d, m=4, n_codes=8, n_lists=16,
                                 max_iter=5)
    codes = spark.read.parquet(f"{d}/codes")
    # pick the first probed list of query 0 by running a serve and
    # reading which lists its candidates came from
    first = similarity.ivfpq_serve_persisted(
        emb, d, query_vec_id=0, k=10, nprobe=2
    ).collect()
    cand_lists = {
        r["list_id"]
        for r in codes.join(
            spark.createDataFrame(
                [(x.vec_id,) for x in first], "vec_id long"
            ),
            "vec_id",
        )
        .select("list_id")
        .distinct()
        .collect()
    }
    kill = sorted(cand_lists)[0]
    victims = codes.filter(codes.list_id == kill).select("vec_id")
    n_victims = victims.count()
    assert n_victims > 0
    similarity.ivfpq_index_delete(spark, d, victims)
    served = similarity.ivfpq_serve_persisted(
        emb, d, query_vec_id=0, k=10, nprobe=2
    ).collect()
    victim_ids = {r.vec_id for r in victims.collect()}
    assert all(r.vec_id not in victim_ids for r in served)
    affected = similarity.ivfpq_index_compact(spark, d)
    assert kill in affected
    # round 12: the stale partition directory is left in place (the
    # manifest drops the list; correctness never depends on deletes)
    # and the manifest-aware reader serves zero rows for it ...
    manifest = similarity._load_manifest(spark, d)
    assert manifest["roots"][str(kill)] == []
    assert (
        similarity._codes_df(spark, d).filter(F.col("list_id") == kill)
        .count()
        == 0
    )
    # ... while gc reclaims the unreferenced bytes whenever convenient
    deleted = similarity.ivfpq_index_gc(spark, d)
    assert f"codes/list_id={kill}" in deleted
    assert not os.path.isdir(f"{d}/codes/list_id={kill}")
    after = similarity.ivfpq_serve_persisted(
        emb, d, query_vec_id=0, k=10, nprobe=2
    ).collect()
    assert [(r.rank, r.vec_id, r.adc_d2) for r in served] == [
        (r.rank, r.vec_id, r.adc_d2) for r in after
    ]


def test_serve_k_exceeding_candidates_returns_all(spark, sf_dir, tmp_path):
    """k larger than the probed candidate count returns every
    candidate ranked, not an error."""
    from kinesis_stream_reader_spark.operators import similarity
    from kinesis_stream_reader_spark.sources.tables import load_table

    d = str(tmp_path / "idx")
    emb = load_table(spark, sf_dir, "embeddings").filter("vec_id < 20")
    similarity.ivfpq_build_index(emb, d, m=4, n_codes=8, n_lists=16,
                                 max_iter=5)
    out = similarity.ivfpq_serve_persisted(
        emb, d, query_vec_id=0, k=10 ** 6, nprobe=2
    ).collect()
    assert 0 < len(out) < 20
    assert [r.rank for r in out] == list(range(1, len(out) + 1))


def test_add_correct_when_lloyd_empties_clusters(spark, tmp_path):
    """Regression: ivfpq_index_add must pack its centroid argmin with
    the TRAINED n_lists (from _META), not len(cids). When Lloyd
    empties clusters the surviving dense cids have max >= len(cids)
    (here: 5 identical seed vectors collapse clusters 1-4), and a
    len(cids) modulus both mis-decodes the argmin and aliases distinct
    centroids — added vectors would land in wrong lists with wrong
    residuals."""
    from kinesis_stream_reader_spark.operators import similarity

    def vec(seed):
        return [float(((seed * 37 + j * 101) % 997) - 498) / 250.0
                for j in range(64)]

    rows = []
    for i in range(24):
        s = 0 if i < 5 else i  # vec_ids 0..4 identical -> empty clusters
        rows.append((i, vec(s)))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    base = emb.filter("vec_id < 20")

    d_inc = str(tmp_path / "inc")
    similarity.ivfpq_build_index(base, d_inc, m=4, n_codes=8, n_lists=16,
                                 max_iter=5)
    # the fixture really does empty clusters: surviving centroid count
    # below n_lists while a high cid survives
    crows = spark.read.parquet(f"{d_inc}/centroids").collect()
    assert len(crows) < 16
    hi_cid = max(r["cid"] for r in crows)
    assert hi_cid >= len(crows)
    # pick a BASE vector assigned to the highest surviving list and
    # add an exact duplicate of it: the duplicate's nearest centroid
    # is hi_cid, so a len(cids) modulus would both pick a wrong argmin
    # winner and decode a wrong list for it
    codes = spark.read.parquet(f"{d_inc}/codes")
    victim_rows = codes.filter(codes.list_id == hi_cid).orderBy(
        "vec_id"
    ).collect()
    assert victim_rows, "some base vector must land in the high list"
    v = victim_rows[0]
    v_emb = {r["vec_id"]: r["embedding"] for r in base.collect()}[v.vec_id]
    dup = spark.createDataFrame(
        [(100, v_emb)], "vec_id long, embedding array<float>"
    )
    similarity.ivfpq_index_add(dup, d_inc)
    added = (
        spark.read.parquet(f"{d_inc}/codes")
        .filter("vec_id = 100")
        .collect()
    )
    assert len(added) == 1
    # identical input vector -> identical assignment and PQ codes
    assert added[0].list_id == v.list_id
    assert list(added[0].codes) == list(v.codes)
