"""Round-13 regression tests: the round-12 advisory fixes (overwrite
manifest rename + tmp-recovery read, vectors-store compaction, the
parent_done gate on reshard size freezing) plus the round-13 verdict
items (retrain execution with serve-invariant staging, crash-safety of
the maintenance flips, SemDeDup on the persisted index, recall after
churn)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest


def _build_maintained_index(spark, sf_dir, d, compact=True):
    """The shared maintained-index construction: build on BASE
    (vec_id % 10 <> 7) with a refine store, add the DELTA with frozen
    constants, tombstone vec_id % 25 = 3, optionally compact."""
    from kinesis_stream_reader_spark.operators import similarity
    from kinesis_stream_reader_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 7)
    delta = emb.filter(F.col("vec_id") % 10 == 7)
    similarity.ivfpq_build_index(base, d, m=4, n_codes=8, n_lists=16,
                                 max_iter=5)
    similarity.ivfpq_store_vectors(base, d)
    similarity.ivfpq_index_add(delta, d)
    similarity.ivfpq_index_delete(
        spark, d, emb.filter(F.col("vec_id") % 25 == 3)
    )
    if compact:
        similarity.ivfpq_index_compact(spark, d)
    return emb


def _serves(emb, d):
    from kinesis_stream_reader_spark.operators import similarity

    return (
        similarity.ivfpq_serve_persisted(emb, d, 0, 10, 2).collect(),
        similarity.ivfpq_serve_refine_persisted(
            emb, d, 0, 10, 4, 2
        ).collect(),
    )


def test_compact_flip_crash_leaves_old_state_and_gc_reclaims(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Crash-safety of the compaction path, proven rather than argued:
    abort BETWEEN the staging write and the manifest flip and assert
    (a) every serve still answers from the old state bit-identically,
    (b) gc reclaims the orphaned staging generation without touching
    live data, (c) re-running the compaction converges."""
    from kinesis_stream_reader_spark.operators import similarity

    d = str(tmp_path / "idx")
    emb = _build_maintained_index(spark, sf_dir, d, compact=False)
    before = _serves(emb, d)

    real_flip = similarity._write_manifest

    def boom(*a, **k):
        raise RuntimeError("injected crash before the manifest flip")

    monkeypatch.setattr(similarity, "_write_manifest", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        similarity.ivfpq_index_compact(spark, d)
    # staging landed, flip did not: no manifest, tombstones intact
    assert similarity._load_manifest(spark, d) is None
    assert os.path.isdir(f"{d}/codes_c1")
    assert _serves(emb, d) == before  # (a)

    deleted = similarity.ivfpq_index_gc(spark, d)  # (b)
    assert any(x.startswith("codes_c") for x in deleted)
    assert not os.path.isdir(f"{d}/codes_c1")
    assert _serves(emb, d) == before

    monkeypatch.setattr(similarity, "_write_manifest", real_flip)
    affected = similarity.ivfpq_index_compact(spark, d)  # (c)
    assert affected
    assert similarity._load_manifest(spark, d) is not None
    assert _serves(emb, d) == before


def test_retrain_flip_crash_old_model_serves_then_converges(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The retrain staging is invisible until its one manifest flip:
    abort the flip and the OLD model (constants, codes, vectors)
    keeps serving bit-identically; gc reclaims the orphaned gen_r*
    tree; re-running the retrain converges to the from-scratch
    build."""
    from kinesis_stream_reader_spark.operators import similarity

    d = str(tmp_path / "idx")
    emb = _build_maintained_index(spark, sf_dir, d, compact=True)
    before = _serves(emb, d)

    real_flip = similarity._write_manifest

    def boom(spark_, index_dir, manifest):
        if "model_root" in manifest:
            raise RuntimeError("injected crash before the retrain flip")
        return real_flip(spark_, index_dir, manifest)

    monkeypatch.setattr(similarity, "_write_manifest", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        similarity.ivfpq_index_retrain(spark, emb, d, max_iter=5)
    # staged model generation exists but nothing references it
    assert os.path.isdir(f"{d}/gen_r2")
    man = similarity._load_manifest(spark, d)
    assert man is not None and "model_root" not in man
    assert _serves(emb, d) == before

    deleted = similarity.ivfpq_index_gc(spark, d)
    assert "gen_r2" in deleted
    assert _serves(emb, d) == before

    monkeypatch.setattr(similarity, "_write_manifest", real_flip)
    stage = similarity.ivfpq_index_retrain(spark, emb, d, max_iter=5)
    assert stage == "gen_r2"

    # bit-equal to a from-scratch build over the same live rows
    d2 = str(tmp_path / "scratch_twin")
    live = emb.filter(F.col("vec_id") % 25 != 3)
    similarity.ivfpq_build_index(live, d2, m=4, n_codes=8, n_lists=16,
                                 max_iter=5)
    similarity.ivfpq_store_vectors(live, d2)
    assert _serves(emb, d) == _serves(emb, d2)


def test_compact_purges_vector_rows_no_duplicate_after_readd(
    spark, sf_dir, tmp_path
):
    """The round-12 advisory scenario: a vec_id deleted, compacted
    (tombstone retired), then RE-ADDED must hold exactly ONE row in
    the resolved vectors store — the re-ranking joins would otherwise
    score both the stale and the fresh embedding and could push a
    genuine candidate out of top-k. Compaction now stages the
    affected lists' vector survivors into vectors_c<gen>/ under the
    same manifest flip, and adds route through vec_roots."""
    from kinesis_stream_reader_spark.operators import similarity
    from kinesis_stream_reader_spark.sources.tables import load_table

    d = str(tmp_path / "idx")
    emb = load_table(spark, sf_dir, "embeddings")
    similarity.ivfpq_build_index(emb, d, m=4, n_codes=8, n_lists=16,
                                 max_iter=5)
    similarity.ivfpq_store_vectors(emb, d)
    x = 42
    old_xq = similarity._vectors_df(spark, d).filter(
        F.col("vec_id") == x
    ).collect()
    assert len(old_xq) == 1
    similarity.ivfpq_index_delete(spark, d, [x])
    similarity.ivfpq_index_compact(spark, d)
    # physically purged, not merely anti-joined
    assert similarity._vectors_df(spark, d).filter(
        F.col("vec_id") == x
    ).count() == 0
    man = similarity._load_manifest(spark, d)
    assert man and man.get("vec_roots")

    # re-add the id with a DIFFERENT embedding
    readd = emb.filter(F.col("vec_id") == x).select(
        "vec_id",
        F.expr(
            "transform(embedding, v -> float(v * 0.5))"
        ).alias("embedding"),
        *[c for c in emb.columns if c not in ("vec_id", "embedding")],
    )
    similarity.ivfpq_index_add(readd, d)
    rows = similarity._vectors_df(spark, d).filter(
        F.col("vec_id") == x
    ).collect()
    assert len(rows) == 1
    assert rows[0]["xq"] != old_xq[0]["xq"]

    # no serve path may return a duplicate vec_id
    ref = similarity.ivfpq_serve_refine_persisted(
        emb, d, 0, 10, 4, 2
    ).collect()
    assert len({r["vec_id"] for r in ref}) == len(ref)


def test_add_routes_vectors_into_generation_roots(
    spark, sf_dir, tmp_path
):
    """After a compaction redirects a list to vectors_c1/, an add
    whose vectors land in that list must append THERE — an append
    into the default base would park the rows beside the list's stale
    pre-compaction files where the manifest reader never looks."""
    from kinesis_stream_reader_spark.operators import similarity
    from kinesis_stream_reader_spark.sources.tables import load_table

    d = str(tmp_path / "idx")
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 7)
    delta = emb.filter(F.col("vec_id") % 10 == 7)
    similarity.ivfpq_build_index(base, d, m=4, n_codes=8, n_lists=16,
                                 max_iter=5)
    similarity.ivfpq_store_vectors(base, d)
    similarity.ivfpq_index_delete(
        spark, d, base.filter(F.col("vec_id") % 25 == 3)
    )
    similarity.ivfpq_index_compact(spark, d)
    man = similarity._load_manifest(spark, d)
    redirected = {int(k) for k, v in man["vec_roots"].items() if v}
    assert redirected
    similarity.ivfpq_index_add(delta, d)
    resolved = similarity._vectors_df(spark, d)
    delta_ids = {r["vec_id"] for r in delta.select("vec_id").collect()}
    got = {
        r["vec_id"]
        for r in resolved.select("vec_id").collect()
    }
    assert delta_ids <= got
    # rows of redirected lists live ONLY under the generation dir
    in_base = (
        spark.read.parquet(f"{d}/vectors")
        .filter(F.col("list_id").isin(sorted(redirected)))
        .join(
            spark.createDataFrame(
                [(int(i),) for i in delta_ids], "vec_id LONG"
            ),
            "vec_id",
            "left_semi",
        )
        .count()
    )
    assert in_base == 0


def test_vectors_df_prunes_generation_branches(spark, sf_dir, tmp_path):
    """Every branch of the manifest-aware vectors reader stays
    file-level partition pruning: with a probed-list filter on top,
    the physical plan carries PartitionFilters on BOTH the default
    base and the generation branch."""
    from kinesis_stream_reader_spark.operators import similarity

    d = str(tmp_path / "idx")
    emb = _build_maintained_index(spark, sf_dir, d, compact=True)
    man = similarity._load_manifest(spark, d)
    redirected = sorted(
        int(k) for k, v in man["vec_roots"].items() if v
    )
    untouched = [
        l for l in range(16)
        if str(l) not in man["vec_roots"]
    ]
    assert redirected and untouched
    probe = [redirected[0], untouched[0]]
    pruned = similarity._vectors_df(spark, d).filter(
        F.col("list_id").isin(probe)
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert plan.count("PartitionFilters") >= 2
    # the files ACTUALLY read (input_file_name, not the unpruned
    # FileIndex snapshot): the redirected list comes from its
    # generation dir, the untouched one from the base, and nothing
    # outside the two probed lists is touched
    rows = pruned.select(
        "list_id", F.input_file_name().alias("f")
    ).collect()
    assert {int(r["list_id"]) for r in rows} == set(probe)
    assert any(
        "vectors_c1" in r["f"] and f"/list_id={redirected[0]}/" in r["f"]
        for r in rows
    )
    assert any(
        "/vectors/" in r["f"] and f"/list_id={untouched[0]}/" in r["f"]
        for r in rows
    )


def test_semdedup_persisted_equals_trained(spark, sf_dir, tmp_path):
    """SemDeDup reading clusters from the persisted index's live
    codes is row-identical to semdedup_trained under the same
    training constants — the paper's pipeline without the in-query
    k-means retrain."""
    from kinesis_stream_reader_spark.operators import dedup, similarity
    from kinesis_stream_reader_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    d = str(tmp_path / "idx")
    similarity.ivfpq_build_index(emb, d, m=4, n_codes=8, n_lists=16,
                                 max_iter=5)
    got = dedup.semdedup_persisted(emb, d, threshold=0.4).collect()
    want = dedup.semdedup_trained(
        emb, n_lists=16, max_iter=5, threshold=0.4
    ).collect()
    assert got == want


def test_churn_recall_perfect_on_fresh_index(spark, sf_dir, tmp_path):
    """Sanity anchor for the recall-after-churn report: on a FRESH
    index with nprobe = n_lists (every list probed, no quantization
    shortfall possible for ADC top-k ranking vs exact... ADC is still
    approximate), recall_milli is bounded and hits <= k; and on the
    maintained fixture the report returns one row per query with
    exact-integer recall."""
    from kinesis_stream_reader_spark.operators import similarity

    d = str(tmp_path / "idx")
    emb = _build_maintained_index(spark, sf_dir, d, compact=False)
    rep = similarity.ivfpq_index_churn_recall(
        emb, d, n_queries=8, k=10, nprobe=2
    ).collect()
    assert len(rep) == 8
    assert [r["query_id"] for r in rep] == sorted(
        r["query_id"] for r in rep
    )
    for r in rep:
        assert 0 <= r["hits"] <= 10
        assert r["recall_milli"] == r["hits"] * 100


def test_manifest_flip_window_recovers_from_tmp(spark, tmp_path):
    """On a store whose FileContext rename fell back to
    delete+rename, a reader catching the post-delete instant sees no
    manifest but the COMPLETE new mapping in _MANIFEST.json.tmp —
    _load_manifest must read it rather than silently serving
    pre-compaction state; with neither file the index is genuinely
    never-compacted."""
    import json

    from kinesis_stream_reader_spark.operators import similarity

    d = str(tmp_path / "idx")
    os.makedirs(d)
    assert similarity._load_manifest(spark, d) is None
    # simulate the crashed fallback flip: tmp written, manifest deleted
    with open(f"{d}/_MANIFEST.json.tmp", "w") as fh:
        json.dump({"generation": 3, "roots": {"1": ["codes_c3"]}}, fh)
    man = similarity._load_manifest(spark, d)
    assert man == {"generation": 3, "roots": {"1": ["codes_c3"]}}
    # gc must NOT delete the tmp while it is the only committed copy
    deleted = similarity.ivfpq_index_gc(spark, d)
    assert "_MANIFEST.json.tmp" not in deleted
    assert os.path.exists(f"{d}/_MANIFEST.json.tmp")
    # once the real manifest exists the tmp is garbage — recreate a
    # stale tmp beside it and gc reclaims it
    similarity._write_manifest(spark, d, man)
    with open(f"{d}/_MANIFEST.json.tmp", "w") as fh:
        json.dump(man, fh)
    deleted = similarity.ivfpq_index_gc(spark, d)
    assert "_MANIFEST.json.tmp" in deleted
    assert similarity._load_manifest(spark, d) == man


def test_overwrite_rename_leaves_no_missing_window(spark, tmp_path):
    """_fs_write_text must not delete the destination before the
    rename: after every flip the file exists with the new content and
    no stale tmp remains (the FileContext OVERWRITE path)."""
    from kinesis_stream_reader_spark.operators import similarity

    p = str(tmp_path / "m.json")
    similarity._fs_write_text(spark, p, "one")
    assert similarity._fs_read_text(spark, p) == "one"
    similarity._fs_write_text(spark, p, "two")
    assert similarity._fs_read_text(spark, p) == "two"
    assert not os.path.exists(p + ".tmp")


def test_incremental_bpe_greedy_overlap_and_counts(spark):
    """The incremental trainer must reproduce the reference greedy
    semantics exactly: overlapping candidates census at full
    multiplicity ('aaaa' has three (a,a) adjacencies), merge
    non-overlapping left-to-right ([aa][aa], never [aa]a[a]), and the
    maintained census must equal a from-scratch recount after every
    round (here: round 2 sees the NEW (aa,aa) adjacency the merge
    created)."""
    from kinesis_stream_reader_spark.operators.text import (
        _bpe_train_incremental,
    )

    sdf = spark.createDataFrame(
        [("aaaa", 2, list("aaaa")), ("ab", 3, list("ab"))],
        "w STRING, freq LONG, syms ARRAY<STRING>",
    )
    merges, final = _bpe_train_incremental(sdf, 3)
    assert merges[0] == ("a", "a", 6)  # 3 adjacencies x freq 2
    assert merges[1] == ("a", "b", 3)
    assert merges[2] == ("aa", "aa", 2)
    rows = {r["w"]: list(r["syms"]) for r in final.collect()}
    assert rows == {"aaaa": ["aaaa"], "ab": ["ab"]}


def test_streaming_bytelevel_bpe_arrival_order_invariant(
    spark, sf_dir, tmp_path
):
    """The streamed byte-level BPE census must not depend on how
    arrival slices the corpus: two stream directories holding the
    same documents in OPPOSITE shard order drain to the identical
    per-piece census (encoding is stateless map-side work; the census
    aggregate is commutative)."""
    import shutil
    import tempfile

    from kinesis_stream_reader_spark.operators import text
    from kinesis_stream_reader_spark.streaming import jobs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words = text.bytelevel_bpe_pretokens(docs)
    merges = text.bytelevel_bpe_train(words, rounds=3)
    table = text._bytes_to_unicode()

    halves = [
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
    ]
    shards = []
    for i, half in enumerate(halves):
        out = str(tmp_path / f"half{i}")
        half.coalesce(1).write.parquet(out)
        part = [
            f for f in os.listdir(out) if f.endswith(".parquet")
        ][0]
        shards.append(os.path.join(out, part))

    def drain(order, tag):
        d = tempfile.mkdtemp(prefix=f"ksr_blbpe_{tag}_")
        for i, src in enumerate(order):
            shutil.copy(src, os.path.join(d, f"part-{i:05d}.parquet"))
        occurrences = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
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
        stream = text.bytelevel_encode_words(occurrences, table, merges).select(
            F.explode(F.split("pieces", " ")).alias("piece")
        )
        out = jobs.run_available_now(
            stream.groupBy("piece").agg(F.count("*").alias("n_uses")),
            f"blbpe_order_{tag}",
        )
        return sorted(
            (r["piece"], int(r["n_uses"])) for r in out.collect()
        )

    fwd = drain(shards, "fwd")
    rev = drain(list(reversed(shards)), "rev")
    assert fwd == rev and fwd


def test_jpeg_lossless_partial_interleave_roundtrip():
    """The last lossless-JPEG scan layout: partially-interleaved
    component groups must decode pixel-identically to the interleaved
    and one-scan-per-component encodings of the same array, across
    precisions, all 7 predictors, restart cadences, group shapes and
    group ORDER (the B-first grouping catches an assembler that
    assumes scan order == component order)."""
    import numpy as np

    from kinesis_stream_reader_spark.operators import multimodal as M

    rng = np.random.RandomState(13)
    for P in (8, 16):
        for pred in (1, 4, 7):
            for ri in (0, 5):
                for groups in (
                    ((0, 1), (2,)),
                    ((2,), (0, 1)),
                    ((1,), (0,), (2,)),
                    ((0, 1, 2),),
                ):
                    px = rng.randint(
                        0, 1 << P, size=(6, 7, 3)
                    ).astype(np.int64)
                    dec = M.decode_jpeg(
                        M.encode_jpeg_lossless(
                            px, P, predictor=pred,
                            restart_interval=ri, scan_groups=groups,
                        )
                    )
                    assert (dec.astype(np.int64) == px).all()
                    ref = M.decode_jpeg(
                        M.encode_jpeg_lossless(
                            px, P, predictor=pred, restart_interval=ri
                        )
                    )
                    assert (dec == ref).all()


def test_reshard_size_freeze_requires_admission(tmp_path):
    """A present-but-EMPTY wire file of a not-yet-admitted shard
    satisfies out >= total (0 >= 0) but must NOT freeze size 0 — if
    records land once the shard is admitted, a frozen 0 would
    permanently undercount every descendant's chain-global emit_idx
    base (round-12 advisory)."""
    from kinesis_stream_reader_spark.sources.python_source import (
        KinesisReshardStreamReader,
        write_reshard_manifest,
        write_reshard_shard_file,
    )

    d = str(tmp_path)
    write_reshard_shard_file(d, "p", [(i, 1, b"x") for i in range(2)])
    write_reshard_shard_file(d, "c1", [])  # present but empty
    write_reshard_manifest(
        d,
        [
            {"shard_id": "p", "closed": True},
            {"shard_id": "c1", "parent": "p"},
        ],
    )
    r = KinesisReshardStreamReader({"path": d})
    o0 = r.initialOffset()
    o1 = r.latestOffset()
    assert o1["sizes"].get("p") == 2
    assert "c1" not in o1["sizes"]  # NOT frozen at 0
    r.partitions(o0, o1)
    # records now land in the (late) child file; admission happens and
    # the size freezes at the true count
    write_reshard_shard_file(d, "c1", [(10 + i, 1, b"y") for i in range(3)])
    o2 = r.latestOffset()
    assert o2["sizes"].get("c1") == 3
    parts = r.partitions(o1, o2)
    c1 = [p for p in parts if p.shard_id == "c1"]
    assert c1 and c1[0].base == 2


def test_bpe_driver_path_matches_distributed(spark, sf_dir, monkeypatch):
    """Optimization round 13: the small-vocabulary driver-side BPE
    training fast path must produce the exact merge sequence AND the
    exact final encoded word relation of the distributed incremental
    path (the cutoff only moves WHERE the loop runs)."""
    from kinesis_stream_reader_spark.operators import text
    from kinesis_stream_reader_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")

    def run():
        import pyspark.sql.functions as F

        words = (
            docs.select(
                F.explode(
                    F.split(F.lower(F.trim(F.col("text"))), r"\s+")
                ).alias("w")
            )
            .filter(F.col("w") != "")
            .groupBy("w")
            .agg(F.count("*").alias("freq"))
        )
        sdf = words.select(
            "w",
            "freq",
            F.filter(F.split(F.col("w"), ""), lambda c: c != "").alias(
                "syms"
            ),
        )
        merges, final = text._bpe_train_incremental(sdf, rounds=4)
        rows = sorted(
            (r["w"], r["freq"], tuple(r["syms"])) for r in final.collect()
        )
        return merges, rows

    monkeypatch.setenv("SPARK_GRAFT_BPE_DRIVER_VOCAB_MAX", "65536")
    merges_driver, rows_driver = run()
    monkeypatch.setenv("SPARK_GRAFT_BPE_DRIVER_VOCAB_MAX", "0")
    merges_dist, rows_dist = run()
    assert merges_driver == merges_dist
    assert rows_driver == rows_dist
    assert len(merges_driver) == 4


def test_textrank_driver_path_matches_distributed(spark, sf_dir, monkeypatch):
    """Optimization round 13: keyword_textrank's driver fast path must
    produce the exact ranked rows of the distributed power-iteration
    loop (the cutoff only moves WHERE the loop runs)."""
    from kinesis_stream_reader_spark.operators import text
    from kinesis_stream_reader_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")

    def run():
        return [
            (r["word"], r["textrank"])
            for r in text.keyword_textrank(docs).collect()
        ]

    monkeypatch.setenv("SPARK_GRAFT_TEXTRANK_DRIVER_EDGES_MAX", "262144")
    rows_driver = run()
    monkeypatch.setenv("SPARK_GRAFT_TEXTRANK_DRIVER_EDGES_MAX", "0")
    rows_dist = run()
    assert rows_driver == rows_dist
    assert len(rows_driver) == 20
