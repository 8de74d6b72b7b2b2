"""Multimodal plumbing tests: schema, batch shape, deterministic fake
features, stubbed codecs."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kinesis_stream_reader_spark.operators import multimodal
from kinesis_stream_reader_spark.sources.tables import load_table


def test_media_schema(spark, sf_dir):
    media = multimodal.documents_as_media(load_table(spark, sf_dir, "documents"))
    assert media.schema.simpleString() == (
        "struct<doc_id:bigint,data:binary,"
        "media_meta:struct<kind:string,n_bytes:bigint,origin:string>>"
    )


def test_map_rows_fans_out_per_row(spark):
    """map_rows hands each kernel call one row as plain Python values and
    keeps every tuple it returns: 1->N, 1->0 (empty payload) and a NaN
    result, which reads back as null as it did through pandas."""
    from kinesis_stream_reader_spark.operators.rowmap import map_rows

    df = spark.createDataFrame(
        [(1, b"ab"), (2, b""), (3, b"xyz")], "k BIGINT, blob BINARY"
    )

    def explode(k, blob):
        assert isinstance(k, int) and isinstance(blob, bytes)
        return [(k, i, blob[i : i + 1], float("nan")) for i in range(len(blob))]

    out = map_rows(df, explode, "k BIGINT, i INT, byte BINARY, x DOUBLE")
    rows = sorted((r.k, r.i, bytes(r.byte), r.x) for r in out.collect())
    assert rows == [
        (1, 0, b"a", None), (1, 1, b"b", None),
        (3, 0, b"x", None), (3, 1, b"y", None), (3, 2, b"z", None),
    ]


def test_map_rows_closure_state_is_per_task(spark):
    """State a kernel keeps in its closure (the byte-level encode memo)
    starts empty in every task, also when a Python worker is reused for
    the next task: it is bounded by one task's rows, never a cache that
    grows across tasks."""
    from kinesis_stream_reader_spark.operators.rowmap import map_rows

    memo: dict = {}

    def seen(i):
        memo[i % 3] = True
        return [(i, len(memo))]

    # 8 tasks of 3 rows on 4 cores: workers are reused across tasks
    out = map_rows(spark.range(0, 24, 1, 8), seen, "i BIGINT, n_seen INT")
    assert sorted((r.i, r.n_seen) for r in out.collect()) == [
        (i, i % 3 + 1) for i in range(24)
    ]


@pytest.mark.parametrize(
    "rows, message",
    [
        ([(1, [1, 2]), (2, None)], "null vector"),
        ([(1, [1, 2]), (2, [3, None])], "null vector element"),
        ([(1, [1, 2]), (2, [3, 4, 5])], "unequal vector widths"),
    ],
)
def test_map_batches_rejects_malformed_vectors(spark, rows, message):
    """A null vector, a null element or ragged widths fail loudly with
    the column named, not with an opaque numpy error — per batch
    (map_batches) and per group (group_batches, one or two sides)."""
    from kinesis_stream_reader_spark.operators.rowmap import (
        group_batches,
        map_batches,
    )

    def identity(batches):  # nested: pickled by value for the workers
        yield from batches

    schema = "id BIGINT, v ARRAY<BIGINT>"
    df = spark.createDataFrame(rows, schema).coalesce(1)
    grouped = df.withColumn("g", F.lit(1))
    outs = [
        map_batches(df, identity, schema),
        group_batches(grouped, ["g"], lambda group: group, schema),
        group_batches(
            grouped, ["g"], lambda left, right: right, schema, other=grouped
        ),
    ]
    for out in outs:
        with pytest.raises(Exception, match=f"ValueError: column 'v': {message}"):
            out.collect()


def test_map_batches_empty_input_keeps_schema(spark):
    from kinesis_stream_reader_spark.operators.rowmap import (
        group_batches,
        map_batches,
    )

    def identity(batches):
        yield from batches

    schema = "id BIGINT, v ARRAY<BIGINT>"
    df = spark.createDataFrame([], schema)
    outs = [
        map_batches(df, identity, schema),
        group_batches(df, ["id"], lambda group: group, schema),
        group_batches(df, ["id"], lambda left, right: left, schema, other=df),
    ]
    for out in outs:
        assert out.collect() == []
        assert out.schema.simpleString() == "struct<id:bigint,v:array<bigint>>"


def test_group_batches_cogroup_empty_side_is_zero_row_dict(spark):
    """A key present on one cogroup side only reaches the kernel with a
    0-row dict for the other side: every column present, 1-D scalars,
    an empty 2-D array column."""
    from kinesis_stream_reader_spark.operators.rowmap import group_batches

    left = spark.createDataFrame(
        [(1, 10, [1, 2]), (1, 11, [3, 4]), (2, 12, [5, 6])],
        "g INT, id BIGINT, v ARRAY<BIGINT>",
    )
    right = spark.createDataFrame([(1, 7), (3, 8)], "g INT, w BIGINT")

    def sizes(lg, rg):
        assert set(lg) == {"g", "id", "v"} and set(rg) == {"g", "w"}
        assert lg["v"].ndim == 2 and lg["v"].shape[0] == len(lg["id"])
        key = lg["g"][0] if len(lg["g"]) else rg["g"][0]
        return {
            "g": [key],
            "n_left": [len(lg["id"])],
            "n_right": [len(rg["w"])],
            "right_sum": [int(rg["w"].sum())],
        }

    out = group_batches(
        left,
        ["g"],
        sizes,
        "g INT, n_left INT, n_right INT, right_sum BIGINT",
        other=right,
    )
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, 2, 1, 7), (2, 1, 0, 0), (3, 0, 1, 8),
    ]


def test_map_batches_long_arrays_round_trip(spark):
    """Array columns arrive 2-D and a 2-D output is an exact ARRAY<LONG>,
    int64 extremes included."""
    import numpy as np

    from kinesis_stream_reader_spark.operators.rowmap import map_batches

    big = 2**63 - 1
    rows = [(i, [i, -big - 1, big, i * 10**15]) for i in range(50)]
    df = spark.createDataFrame(rows, "id BIGINT, v ARRAY<BIGINT>").repartition(3)

    def kernel(batches):
        for b in batches:
            assert b["v"].shape == (len(b["id"]), 4)
            assert b["v"].dtype == np.int64 and b["id"].ndim == 1
            yield {"id": b["id"], "v": b["v"]}

    out = map_batches(df, kernel, "id BIGINT, v ARRAY<BIGINT>")
    assert sorted((r.id, r.v) for r in out.collect()) == rows


def test_map_batches_once_per_partition(spark):
    """A kernel that drains its batches and yields once emits one row set
    per partition (the per-task census shape)."""
    from kinesis_stream_reader_spark.operators.rowmap import map_batches

    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        df = spark.range(0, 100, numPartitions=4).selectExpr(
            "id", "array(id, 2 * id) AS v"
        )

        def census(batches):
            n = total = n_batches = 0
            for b in batches:
                n += len(b["id"])
                total += int(b["v"].sum())
                n_batches += 1
            yield {"n": [n], "total": [total], "n_batches": [n_batches]}

        out = map_batches(df, census, "n BIGINT, total BIGINT, n_batches INT")
        rows = out.collect()
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    assert len(rows) == 4
    assert sum(r.n for r in rows) == 100
    assert sum(r.total for r in rows) == 3 * sum(range(100))
    assert all(r.n_batches == 4 for r in rows)  # 25 rows in batches of 7


def test_extract_features_deterministic(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.documents_as_media(docs)
    feats = {r.doc_id: r for r in multimodal.extract_features(media).collect()}
    texts = {r.doc_id: r.text for r in docs.collect()}
    assert set(feats) == set(texts)
    for doc_id, text in list(texts.items())[:20]:
        raw = text.encode()
        f = feats[doc_id]
        assert f.kind == "image"
        assert f.n_bytes == len(raw)
        assert abs(f.byte_mean - sum(raw) / len(raw)) < 1e-9
        assert f.byte_entropy_proxy == len(set(raw))


def test_codec_stubs_raise():
    for fn in (multimodal.decode_image, multimodal.resample_audio, multimodal.sample_frames):
        with pytest.raises(NotImplementedError):
            fn(b"\x00\x01")


def test_png_roundtrip_all_filters():
    """Every PNG scanline filter (None/Sub/Up/Average/Paeth) must invert
    bit-exactly, including mixed filters within one image."""
    import numpy as np

    rng = np.random.default_rng(7)
    for h, w in [(1, 1), (6, 8), (9, 13)]:
        arr = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        for ft in range(5):
            got = multimodal.decode_png(
                multimodal.encode_png(arr, filter_for_row=lambda y, f=ft: f)
            )
            assert (got == arr).all(), (h, w, ft)
        got = multimodal.decode_png(
            multimodal.encode_png(arr, filter_for_row=lambda y: y)
        )
        assert (got == arr).all()


def test_png_crc_and_grammar_errors():
    import numpy as np

    arr = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    blob = bytearray(multimodal.encode_png(arr))
    blob[20] ^= 0xFF  # corrupt IHDR body -> CRC mismatch
    with pytest.raises(ValueError, match="CRC"):
        multimodal.decode_png(bytes(blob))
    with pytest.raises(ValueError, match="not a PNG"):
        multimodal.decode_png(b"\x00" * 16)
    # every LEGAL depth/color-type combination is real now (round 9
    # closed gray+alpha), so the combination gate's remaining job is
    # rejecting ILLEGAL headers — depth 3 has no legal color type
    import struct
    import zlib

    ihdr = struct.pack(">IIBBBBB", 4, 4, 3, 0, 0, 0, 0)
    chunk = (
        struct.pack(">I", len(ihdr))
        + b"IHDR"
        + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
    )
    with pytest.raises(NotImplementedError):
        multimodal.decode_png(multimodal._PNG_SIG + chunk)


def test_decode_image_dispatches_on_magic_bytes():
    import numpy as np

    arr = np.arange(36, dtype=np.uint8).reshape(3, 4, 3)
    assert (multimodal.decode_image(multimodal.encode_ppm(arr)) == arr).all()
    assert (multimodal.decode_image(multimodal.encode_png(arr)) == arr).all()
    # TIFF now routes to the real round-6 decoder
    assert (multimodal.decode_image(multimodal.encode_tiff(arr)) == arr).all()
    # formats with no in-sandbox codec keep the honest gate
    with pytest.raises(NotImplementedError, match="plug"):
        multimodal.decode_image(b"\x00BPG\xfb not-supported")
    # GIF magic reaches decode_gif, which raises loudly on a truncated
    # container rather than NotImplementedError
    with pytest.raises(ValueError):
        multimodal.decode_image(b"GIF89a" + b"\x00" * 7)


def test_png_media_decodes_like_ppm_media(spark, sf_dir):
    """The PNG and PPM generators share one pixel formula, so the decode
    features must be identical row-for-row — proving inflate + filter
    inversion reproduces the exact bytes, via the Spark plumbing."""
    docs = load_table(spark, sf_dir, "documents").limit(40)
    ppm = multimodal.image_decode_features(
        multimodal.synthetic_ppm_media(docs)
    ).collect()
    png = multimodal.image_decode_features(
        multimodal.synthetic_png_media(docs)
    ).collect()
    key = lambda r: r.doc_id  # noqa: E731
    assert sorted(ppm, key=key) == sorted(png, key=key)
    assert len(png) == 40


def test_sample_frames_features_bytes(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.documents_as_media(docs)
    frames = {r.doc_id: r for r in multimodal.sample_frames_features(media, every_n=4).collect()}
    texts = {r.doc_id: r.text for r in docs.collect()}
    assert set(frames) == set(texts)
    for doc_id, text in list(texts.items())[:20]:
        raw = text.encode()
        sampled = raw[::4]
        f = frames[doc_id]
        assert f.frame_stride == 4
        assert f.n_frames == len(sampled)
        assert f.first_byte == (sampled[0] if sampled else None)
        assert f.last_byte == (sampled[-1] if sampled else None)


def test_sample_frames_empty_payload(spark):
    import pyspark.sql.functions as F

    df = spark.createDataFrame([(1, "")], "doc_id LONG, text STRING")
    df = df.withColumn("source", F.lit("t")).withColumn("lang", F.lit("en"))
    media = multimodal.documents_as_media(df)
    row = multimodal.sample_frames_features(media).collect()[0]
    assert row.n_frames == 0 and row.first_byte is None and row.last_byte is None


def test_resize_features_byte_selection(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.documents_as_media(docs)
    out = {r.doc_id: r for r in multimodal.resize_features(media, target=16).collect()}
    texts = {r.doc_id: r.text for r in docs.collect()}
    for doc_id, text in list(texts.items())[:20]:
        raw = text.encode()
        resized = bytes(raw[(i * len(raw)) // 16] for i in range(16)) if raw else b""
        r = out[doc_id]
        assert r.n_out == len(resized)
        assert r.checksum == sum((i + 1) * v for i, v in enumerate(resized))


def test_audio_chunks_cover_payload_exactly(spark, sf_dir):
    from pyspark.sql import functions as F

    from kinesis_stream_reader_spark.operators import multimodal
    from kinesis_stream_reader_spark.sources.tables import load_table

    media = multimodal.documents_as_media(
        load_table(spark, sf_dir, "documents"), kind="audio"
    )
    chunks = multimodal.audio_chunks(media, chunk_bytes=256)
    # chunk lengths per doc sum exactly to the payload size, offsets
    # are contiguous, and only the final chunk may be short
    recon = chunks.groupBy("doc_id").agg(
        F.sum("chunk_len").alias("total"),
        F.max("offset").alias("last_offset"),
        F.count("*").alias("n"),
    )
    payload = media.select("doc_id", F.length("data").alias("n_bytes"))
    bad = recon.join(payload, "doc_id").filter(
        (F.col("total") != F.col("n_bytes"))
        | (F.col("last_offset") != (F.col("n") - 1) * 256)
    )
    assert bad.count() == 0
    short = chunks.filter(F.col("chunk_len") < 256).groupBy("doc_id").count()
    assert short.filter(F.col("count") > 1).count() == 0


def test_multimodal_dedup_finds_exact_groups(spark, sf_dir):
    """50 objects with payloads repeating every 30 ids -> 30 groups,
    ids 0-19 duplicated twice, 20-29 singletons."""
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["multimodal_dedup"](spark, sf_dir).collect()
    assert len(rows) == 30
    copies = sorted(r.n_copies for r in rows)
    assert copies == [1] * 10 + [2] * 20
    for r in rows:
        assert r.canonical_file.startswith("obj_000")


def test_ppm_decode_shapes_and_values(spark, sf_dir):
    """REAL codec path: PPM payloads decode to the exact (h, w, 3)
    arrays the fixture formulas define."""
    import numpy as np

    from kinesis_stream_reader_spark.operators import multimodal as M

    docs = spark.createDataFrame([(i,) for i in range(7)], "doc_id BIGINT")
    media = {r.doc_id: bytes(r.data) for r in M.synthetic_ppm_media(docs).collect()}
    for doc_id, blob in media.items():
        arr = M.decode_image(blob)
        w, h = 8 + doc_id % 5, 6 + doc_id % 3
        assert arr.shape == (h, w, 3)
        want = ((doc_id * 7 + np.arange(w * h * 3)) % 256).reshape(h, w, 3)
        assert (arr == want).all()
    # non-PPM payloads still gate on the missing codec
    import pytest

    with pytest.raises(NotImplementedError):
        M.decode_image(b"\x89PNG....")


def test_ppm_comment_and_whitespace_grammar():
    """decode_ppm must survive the format's comment/whitespace rules."""
    import numpy as np

    from kinesis_stream_reader_spark.operators import multimodal as M

    arr = (np.arange(2 * 3 * 3) % 256).astype("uint8").reshape(2, 3, 3)
    wire = b"P6\n# a comment\n3   2\n# another\n255\n" + arr.tobytes()
    assert (M.decode_ppm(wire) == arr).all()


def test_wav_decode_resample_shapes(spark, sf_dir):
    """REAL audio path: WAV headers parse, samples roundtrip, and the
    2x nearest-neighbor resample duplicates each sample."""
    import numpy as np

    from kinesis_stream_reader_spark.operators import multimodal as M

    docs = spark.createDataFrame([(i,) for i in range(5)], "doc_id BIGINT")
    media = {r.doc_id: bytes(r.data) for r in M.synthetic_wav_media(docs).collect()}
    for doc_id, blob in media.items():
        rate, samples = M.decode_wav(blob)
        n = 64 + doc_id % 50
        assert rate == 8000 and len(samples) == n
        want = ((doc_id * 13 + np.arange(n) * 31) % 65536) - 32768
        assert (samples == want).all()
        out_rate, resampled = M.resample_audio(blob, 16000)
        assert out_rate == 16000 and len(resampled) == 2 * n
        assert (resampled[::2] == samples).all() and (resampled[1::2] == samples).all()


def test_y4m_roundtrip_and_decode(spark, sf_dir):
    """encode_y4m -> decode_y4m round trip, and the distributed decode
    must equal the per-doc formula."""
    import numpy as np

    from kinesis_stream_reader_spark.operators.multimodal import (
        decode_y4m,
        encode_y4m,
        synthetic_y4m_media,
        video_decode_features,
    )
    from kinesis_stream_reader_spark.sources.tables import load_table

    # pure round trip
    frames = [bytes((i + j) % 256 for j in range(4 * 4 * 3 // 2)) for i in range(3)]
    blob = encode_y4m(4, 4, frames)
    w, h, fr = decode_y4m(blob)
    assert (w, h) == (4, 4)
    assert fr == frames

    docs = load_table(spark, sf_dir, "documents").limit(40)
    media = synthetic_y4m_media(docs)
    got = {r.doc_id: r for r in video_decode_features(media).collect()}
    for doc_id in got:
        w = 4 + 2 * (doc_id % 3)
        h = 4 + 2 * (doc_id % 2)
        nf = 3 + doc_id % 4
        luma = sampled = 0
        for f in range(nf):
            s = int(
                sum((doc_id * 11 + f * 17 + j * 5) % 256 for j in range(w * h))
            )
            luma += s
            if f % 2 == 0:
                sampled += s
        r = got[doc_id]
        assert (r.width, r.height, r.n_frames) == (w, h, nf)
        assert r.luma_sum == luma
        assert r.sampled_luma_sum == sampled


def test_image_phash_reference_and_blocking(spark, sf_dir):
    """pHash must match a pure-python recompute from decoded pixels,
    and the band blocking must find every hamming<=2 pair (pigeonhole
    completeness check against brute force)."""
    from kinesis_stream_reader_spark.operators.multimodal import (
        image_phash,
        synthetic_ppm_media,
    )
    from kinesis_stream_reader_spark.registry import QUERIES
    from kinesis_stream_reader_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    got = {
        r.doc_id: r.phash
        for r in image_phash(synthetic_ppm_media(docs.limit(60))).collect()
    }
    for doc_id in got:
        w, h = 8 + doc_id % 5, 6 + doc_id % 3
        cells = []
        for yy in range(8):
            for xx in range(8):
                y, x = (yy * h) // 8, (xx * w) // 8
                base = doc_id * 7 + 3 * (y * w + x)
                gray = ((base % 256) + ((base + 1) % 256) + ((base + 2) % 256)) // 3
                cells.append(gray)
        total = sum(cells)
        expect = 0
        for p, c in enumerate(cells[:63]):
            if c * 64 > total:
                expect |= 1 << p
        assert got[doc_id] == expect, doc_id
    # blocking completeness on the full corpus report: hash-level
    # near pairs and their doc-mass vs brute force over distinct hashes
    from collections import Counter

    row = QUERIES["multimodal_phash_dedup"](spark, sf_dir).collect()[0]
    full = {
        r.doc_id: r.phash
        for r in image_phash(synthetic_ppm_media(docs)).collect()
    }
    sizes = Counter(full.values())
    hs = sorted(sizes)
    pairs = [
        (a, b)
        for i, a in enumerate(hs)
        for b in hs[i + 1 :]
        if bin(a ^ b).count("1") <= 2
    ]
    assert row.n_images == len(full)
    assert row.n_distinct_hashes == len(sizes)
    assert row.exact_dup_images == len(full) - len(sizes)
    assert row.n_near_hash_pairs == len(pairs)
    assert row.near_dup_mass == sum(sizes[a] * sizes[b] for a, b in pairs)


def test_bmp_roundtrip_padding_and_flip():
    """Odd widths force 4-byte row padding; bottom-up storage and BGR
    order must both invert exactly."""
    import numpy as np

    from kinesis_stream_reader_spark.operators import multimodal as mm

    for w, h in [(3, 2), (5, 4), (8, 1), (1, 3)]:
        arr = (np.arange(w * h * 3) * 37 % 256).astype(np.uint8).reshape(h, w, 3)
        blob = mm.encode_bmp(arr)
        assert blob[:2] == b"BM"
        out = mm.decode_bmp(blob)
        assert out.shape == (h, w, 3)
        assert (out == arr).all()
        # dispatch goes through decode_image too
        assert (mm.decode_image(blob) == arr).all()


def test_bmp_rejects_unsupported():
    import pytest

    from kinesis_stream_reader_spark.operators import multimodal as mm

    with pytest.raises(ValueError):
        mm.decode_bmp(b"XX" + b"\x00" * 60)
    # 8-bit palette BMP (bpp=8) must raise the honest gate
    import struct

    hdr = b"BM" + struct.pack("<IHHI", 100, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 8, 0, 16, 0, 0, 0, 0)
    with pytest.raises(NotImplementedError):
        mm.decode_bmp(hdr + info + b"\x00" * 46)


def test_otsu_matches_bruteforce(spark, sf_dir):
    """Replay Otsu on the synthetic pixel formula for a sample of docs."""
    import numpy as np

    from kinesis_stream_reader_spark.operators import multimodal as mm

    docs = spark.createDataFrame([(i,) for i in range(1, 26)], ["doc_id"])
    rows = {
        r.doc_id: r
        for r in mm.image_histogram_otsu(mm.synthetic_ppm_media(docs)).collect()
    }
    for d in range(1, 26):
        w, h = 8 + d % 5, 6 + d % 3
        pix = ((d * 7 + np.arange(w * h * 3)) % 256).reshape(h, w, 3)
        luma = (pix[:, :, 0] * 299 + pix[:, :, 1] * 587 + pix[:, :, 2] * 114) // 1000
        hist = np.bincount((luma // 16).ravel(), minlength=16)
        n, st = int(hist.sum()), int((np.arange(16) * hist).sum())
        best_t, best = 0, -1.0
        w0 = s0 = 0
        for t in range(15):
            w0 += int(hist[t]); s0 += t * int(hist[t])
            if 0 < w0 < n:
                sc = float((s0 * n - st * w0) ** 2) / float(w0 * (n - w0))
                if sc > best:
                    best, best_t = sc, t
        r = rows[d]
        assert (r.otsu_bin, r.n_px, r.luma_sum) == (best_t, n, int(luma.sum()))
        assert r.n_below + r.n_above == n


def test_audio_pitch_detects_planted_period(spark):
    """A pure square wave of period 10 must yield pitch_lag == 10."""
    import numpy as np

    from kinesis_stream_reader_spark.operators import multimodal as mm

    s = np.tile(np.array([3000] * 5 + [-3000] * 5, dtype="<i2"), 20)
    media = spark.createDataFrame(
        [(1, bytearray(mm.encode_wav(s)))], "doc_id BIGINT, data BINARY"
    )
    row = mm.audio_pitch(media).collect()[0]
    assert row.pitch_lag == 10
    assert row.n_samples == 200


# --- baseline JPEG codec -------------------------------------------------


def _jpeg_fixture_blocks(d: int):
    import numpy as np  # noqa: F401

    w, h = 8 * (2 + d % 3), 8 * (2 + d % 2)
    nb = (w // 8) * (h // 8)
    blocks = [[], [], []]
    for b in range(nb):
        zy = [0] * 64
        zy[0] = (d * 7 + 13 * b) % 120 - 60
        if (d + b) % 3 == 0:
            zy[1] = 1
        zcb = [0] * 64
        zcb[0] = (d * 5 + 11 * b) % 40 - 20
        zcr = [0] * 64
        zcr[0] = (d * 3 + 17 * b) % 40 - 20
        blocks[0].append(zy)
        blocks[1].append(zcb)
        blocks[2].append(zcr)
    return w, h, blocks


def _jpeg_expected_rgb(d: int):
    import numpy as np

    w, h = 8 * (2 + d % 3), 8 * (2 + d % 2)
    bw = w // 8
    ys, xs = np.mgrid[0:h, 0:w]
    b = (ys // 8) * bw + (xs // 8)
    y = 128.0 + ((d * 7 + 13 * b) % 120 - 60)
    cb = 128.0 + ((d * 5 + 11 * b) % 40 - 20)
    cr = 128.0 + ((d * 3 + 17 * b) % 40 - 20)
    r = np.clip(np.floor(y + 1.402 * (cr - 128.0) + 0.5), 0, 255)
    g = np.clip(
        np.floor(y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0) + 0.5), 0, 255
    )
    bl = np.clip(np.floor(y + 1.772 * (cb - 128.0) + 0.5), 0, 255)
    return np.stack([r, g, bl], axis=2).astype("uint8")


def test_jpeg_roundtrip_matches_formula_with_and_without_restarts():
    import numpy as np

    from kinesis_stream_reader_spark.operators import multimodal as mm

    qt_y = [8, 1] + [16] * 62
    qt_c = [8] + [16] * 63
    for d in range(12):
        w, h, blocks = _jpeg_fixture_blocks(d)
        blob = mm.encode_jpeg_blocks(
            w, h, blocks, [qt_y, qt_c], restart_interval=2 if d % 2 == 0 else 0
        )
        got = mm.decode_jpeg(blob)
        assert np.array_equal(got, _jpeg_expected_rgb(d)), f"doc {d}"


def test_jpeg_grayscale_and_crop():
    """Single-component stream with w NOT a multiple of 8: the decoder
    must crop the 8-aligned block grid back to the declared width."""
    import numpy as np

    from kinesis_stream_reader_spark.operators import multimodal as mm

    qt = [8] + [16] * 63
    blocks = [[[10] + [0] * 63, [-20] + [0] * 63]]
    blob = mm.encode_jpeg_blocks(12, 8, blocks, [qt], comp_quant=(0,))
    got = mm.decode_jpeg(blob)
    assert got.shape == (8, 12, 3)
    assert (got[:, :8] == 138).all()  # 10 + 128, replicated across RGB
    assert (got[:, 8:] == 108).all()  # -20 + 128, cropped at x=12


def test_jpeg_hierarchical_rejected():
    """SOF3 lossless is REAL as of round 10; the differential/
    hierarchical frame family (SOF5..SOF15 minus 8/12-bit sequential
    and progressive) stays gated, as does multi-component lossless."""
    import numpy as np
    import pytest

    from kinesis_stream_reader_spark.operators import multimodal as mm

    qt = [8] + [16] * 63
    blob = bytearray(
        mm.encode_jpeg_blocks(16, 8, [[[0] * 64, [0] * 64]], [qt], comp_quant=(0,))
    )
    sof = blob.find(b"\xff\xc0")
    blob[sof + 1] = 0xC5  # differential sequential: still gated
    with pytest.raises(NotImplementedError):
        mm.decode_jpeg(bytes(blob))
    # lossless supports 1 and 3 components; other counts stay gated
    ll = bytearray(
        mm.encode_jpeg_lossless(np.zeros((4, 4), np.int64), 8)
    )
    sof3 = ll.find(b"\xff\xc3")
    ll[sof3 + 9] = 2  # claim 2 components
    with pytest.raises(NotImplementedError):
        mm.decode_jpeg(bytes(ll))


def _progressive_ref_pixels(w, h, comp_blocks, qts, comp_quant=(0, 1, 1)):
    import numpy as np

    from kinesis_stream_reader_spark.operators import multimodal as mm

    planes = []
    nbx, nby = w // 8, h // 8
    for ci, blocks in enumerate(comp_blocks):
        q = qts[comp_quant[ci]]
        coef = np.array(blocks, dtype=np.int64).reshape(nby, nbx, 64)
        planes.append(mm._idct_blocks(coef, q)[:h, :w])
    return mm._planes_to_rgb(
        [np.clip(np.floor(p + 0.5), 0, 255) for p in planes]
    )


def test_jpeg_progressive_roundtrip_exact():
    """Random sparse coefficient blocks (|AC| <= 3: covers newly-
    significant coeffs, correction bits of BOTH values, ZRL runs and
    EOBRUN chains) must decode bit-exactly to the reference IDCT
    through all six progressive scans."""
    import numpy as np

    from kinesis_stream_reader_spark.operators import multimodal as mm

    rng = np.random.RandomState(42)
    for _ in range(6):
        w, h = 8 * rng.randint(1, 4), 8 * rng.randint(1, 4)
        nb = (w // 8) * (h // 8)
        qts = [[8] + [1] * 63, [8] + [2] * 63]
        comp_blocks = [[], [], []]
        for _b in range(nb):
            for ci in range(3):
                zz = [0] * 64
                zz[0] = int(rng.randint(-60, 61))
                for _k in range(rng.randint(0, 6)):
                    zz[int(rng.randint(1, 64))] = int(
                        rng.choice([-3, -2, -1, 1, 2, 3])
                    )
                comp_blocks[ci].append(zz)
        blob = mm.encode_jpeg_progressive(w, h, comp_blocks, qts)
        got = mm.decode_jpeg(blob)
        want = _progressive_ref_pixels(w, h, comp_blocks, qts)
        assert np.array_equal(got, want)


def test_jpeg_progressive_eob_only_stream():
    import numpy as np

    from kinesis_stream_reader_spark.operators import multimodal as mm

    w, h = 40, 16
    nb = (w // 8) * (h // 8)
    qts = [[8] + [1] * 63, [8] + [2] * 63]
    cb = [[[0] * 64 for _ in range(nb)] for _ in range(3)]
    for b in range(nb):
        cb[0][b][0] = (7 * b) % 120 - 60
    blob = mm.encode_jpeg_progressive(w, h, cb, qts)
    assert np.array_equal(
        mm.decode_jpeg(blob), _progressive_ref_pixels(w, h, cb, qts)
    )


def test_jpeg_progressive_spark_features_match_formula(spark):
    from kinesis_stream_reader_spark.operators import multimodal as mm

    docs = spark.createDataFrame([(d,) for d in range(8)], "doc_id BIGINT")
    rows = {
        r.doc_id: r
        for r in mm.image_decode_features(
            mm.synthetic_progressive_jpeg_media(docs)
        ).collect()
    }
    for d in range(8):
        exp = _jpeg_expected_rgb(d)
        r = rows[d]
        assert (r.width, r.height, r.channels) == (exp.shape[1], exp.shape[0], 3)
        assert r.byte_mean == round(float(exp.mean()), 4)


def test_jpeg_spark_features_match_formula(spark):
    import numpy as np

    from kinesis_stream_reader_spark.operators import multimodal as mm

    docs = spark.createDataFrame([(d,) for d in range(8)], "doc_id BIGINT")
    rows = {
        r.doc_id: r
        for r in mm.image_decode_features(mm.synthetic_jpeg_media(docs)).collect()
    }
    for d in range(8):
        exp = _jpeg_expected_rgb(d)
        r = rows[d]
        assert (r.width, r.height, r.channels) == (exp.shape[1], exp.shape[0], 3)
        assert r.byte_mean == round(float(exp.mean()), 4)


# --------------------------------------------------------------------------
# FLAC (round 6)
# --------------------------------------------------------------------------
def test_flac_roundtrip_all_subframe_types():
    from kinesis_stream_reader_spark.operators import multimodal as mm

    def sig(n, a, b):
        return [((a + j * b) % 65536) - 32768 for j in range(n)]

    plans = [("constant",), ("verbatim",), ("lpc", [3, -1], 1, 4),
             ("fixed", 2), ("fixed", 4)]
    ch = [[5] * 32 + sig(128, 99, 513)]
    blob = mm.encode_flac(
        ch, block_size=32,
        plan=lambda f, c, s: ("constant",) if f == 0 else plans[(f + c) % 5],
    )
    rate, out = mm.decode_flac(blob)
    assert rate == 8000 and out == ch


@pytest.mark.parametrize(
    "mode", ["independent", "left_side", "right_side", "mid_side"]
)
def test_flac_stereo_decorrelation_exact(mode):
    from kinesis_stream_reader_spark.operators import multimodal as mm

    ch = [
        [((1234 + j * 317) % 65536) - 32768 for j in range(96)],
        [((777 + j * 911) % 65536) - 32768 for j in range(96)],
    ]
    assert mm.decode_flac(
        mm.encode_flac(ch, block_size=32, stereo_mode=mode)
    )[1] == ch


def test_flac_random_stress_with_partial_tail_frames():
    import random

    from kinesis_stream_reader_spark.operators import multimodal as mm

    rng = random.Random(7)
    for t in range(12):
        n = rng.choice([32, 33, 64, 100, 127, 5])
        ch = [[rng.randint(-32768, 32767) for _ in range(n)] for _ in range(2)]
        mode = rng.choice(
            ["independent", "left_side", "right_side", "mid_side"]
        )
        blob = mm.encode_flac(
            ch, block_size=32, stereo_mode=mode,
            plan=lambda f, c, s: ("verbatim",) if rng.random() < 0.3
            else ("fixed", rng.randint(0, 4)),
        )
        assert mm.decode_flac(blob)[1] == ch, f"stress {t} {mode} n={n}"


def test_flac_crc_detects_corruption():
    from kinesis_stream_reader_spark.operators import multimodal as mm

    ch = [[((7 + j * 31) % 65536) - 32768 for j in range(64)]]
    blob = bytearray(mm.encode_flac(ch, block_size=32))
    blob[-10] ^= 0x40  # flip a bit inside the last frame's payload
    with pytest.raises(ValueError):
        mm.decode_flac(bytes(blob))


def test_flac_spark_features_match_formula(spark):
    from kinesis_stream_reader_spark.operators import multimodal as mm

    docs = spark.createDataFrame([(d,) for d in range(8)], "doc_id BIGINT")
    rows = {
        r.doc_id: r
        for r in mm.flac_decode_features(mm.synthetic_flac_media(docs)).collect()
    }
    for d in range(8):
        n = 64 + 32 * (d % 3)
        left = [((d * 13 + j * 31) % 65536) - 32768 for j in range(n)]
        right = [((d * 7 + j * 17) % 65536) - 32768 for j in range(n)]
        r = rows[d]
        assert (r.sample_rate, r.n_samples) == (8000, n)
        assert r.sum_abs_l == sum(abs(v) for v in left)
        assert r.sum_abs_r == sum(abs(v) for v in right)
        assert r.first_l == left[0]


# --------------------------------------------------------------------------
# Interlaced GIF + G.711 (round 6)
# --------------------------------------------------------------------------
def test_gif_interlace_roundtrip_restores_raster_order():
    import numpy as np

    from kinesis_stream_reader_spark.operators import multimodal as mm

    for w, h in [(8, 6), (11, 8), (9, 17)]:
        idx = (np.arange(w * h) * 37 + 5) % 256
        got = mm.decode_gif(mm.encode_gif_interlaced(idx, w, h))
        want = mm.decode_gif(mm.encode_gif(idx, w, h))
        assert np.array_equal(got, want), (w, h)


def test_gif_interlace_row_order_is_the_spec_permutation():
    from kinesis_stream_reader_spark.operators import multimodal as mm

    assert mm._gif_interlace_rows(8) == [0, 4, 2, 6, 1, 3, 5, 7]
    assert sorted(mm._gif_interlace_rows(17)) == list(range(17))


def test_gif_local_table_overrides_global():
    import numpy as np

    from kinesis_stream_reader_spark.operators import multimodal as mm

    idx = np.zeros(48, dtype=np.int64)  # every pixel palette entry 0
    got = mm.decode_gif(mm.encode_gif_interlaced(idx, 8, 6, lct_rotate=16))
    # LCT entry 0 = global palette entry 16 = (16, 48, 112)
    assert tuple(got[0, 0]) == (16, 48, 112)


def test_g711_decode_reference_values():
    from kinesis_stream_reader_spark.operators import multimodal as mm

    # mu-law: code 0xFF is +0 by the biased expansion; 0x7F is -0
    assert mm.g711_decode_sample(0xFF, "ulaw") == 0
    assert mm.g711_decode_sample(0x7F, "ulaw") == 0
    # A-law: sign bit set after the 0x55 toggle means POSITIVE (ITU-T
    # G.711 / audioop convention): 0xD5 -> +8, 0x55 -> -8
    assert mm.g711_decode_sample(0xD5, "alaw") == 8
    assert mm.g711_decode_sample(0x55, "alaw") == -8
    # vectorized path agrees with the scalar formula on every byte
    blob = bytes(range(256))
    for law in ("ulaw", "alaw"):
        vec = mm.g711_decode(blob, law)
        assert [int(v) for v in vec] == [
            mm.g711_decode_sample(b, law) for b in range(256)
        ]


def test_g711_encode_decode_quantization_bounded():
    from kinesis_stream_reader_spark.operators import multimodal as mm

    for law in ("ulaw", "alaw"):
        for pcm in [-30000, -5000, -100, -5, 0, 3, 90, 1000, 20000, 32000]:
            code = mm.g711_encode_sample(pcm, law)
            back = mm.g711_decode_sample(code, law)
            # companding error is bounded by the segment step size
            step = max(16, (abs(pcm) >> 4) + 16)
            assert abs(back - pcm) <= step, (law, pcm, back)


# --------------------------------------------------------------------------
# IMA ADPCM (round 6)
# --------------------------------------------------------------------------
def test_adpcm_encode_decode_tracks_signal():
    import math

    from kinesis_stream_reader_spark.operators import multimodal as mm

    # a smooth signal the 4-bit quantizer can track closely
    sig = [int(8000 * math.sin(j / 6.0)) for j in range(200)]
    nibs = mm.ima_adpcm_encode(sig)
    out = mm.ima_adpcm_decode(nibs)
    # after the step table adapts, tracking error stays well under the
    # largest adapted step
    err = max(abs(a - b) for a, b in zip(sig[20:], out[20:]))
    assert err < 2000, err


def test_adpcm_decode_known_prefix():
    from kinesis_stream_reader_spark.operators import multimodal as mm

    # hand-walked: index 0 (step 7), nibble 0 -> +0 diff floor => +0?
    # step>>3 = 0 ... predictor stays 0; nibble 7 -> 0+7//8? compute:
    # diff = 0 + (1)*(7>>2=1) + (2)*(7>>1=3) + (4)*7 = 1+3+7 = 11
    assert mm.ima_adpcm_decode([0]) == [0]
    assert mm.ima_adpcm_decode([7]) == [11]
    # sign nibble mirrors magnitude
    assert mm.ima_adpcm_decode([15]) == [-11]


def test_adpcm_clamps_at_int16_bounds():
    from kinesis_stream_reader_spark.operators import multimodal as mm

    out = mm.ima_adpcm_decode([7] * 200, predictor=0, index=88)
    assert max(out) == 32767  # saturates, never wraps
    out = mm.ima_adpcm_decode([15] * 200, predictor=0, index=88)
    assert min(out) == -32768


def test_flac_wasted_bits_roundtrip():
    """Signals sharing k low zero bits code at bps-k with the
    wasted-bits flag and shift back exactly on decode — for every
    subframe type (round-6 gate closure)."""
    from kinesis_stream_reader_spark.operators import multimodal as mm

    for k in (1, 3):
        ch = [[(((7 + j * 31) % 4096) - 2048) << k for j in range(96)]]
        for plan in [("fixed", 2), ("fixed", 4), ("verbatim",),
                     ("lpc", [3, -1], 1, 4)]:
            blob = mm.encode_flac(
                ch, block_size=32, plan=lambda f, c, s, p=plan: p
            )
            assert mm.decode_flac(blob)[1] == ch, (k, plan)
    ch = [[48] * 64]
    blob = mm.encode_flac(ch, block_size=32, plan=lambda f, c, s: ("constant",))
    assert mm.decode_flac(blob)[1] == ch


# --------------------------------------------------------------------------
# Paletted PNG (round 6)
# --------------------------------------------------------------------------
def test_png_palette_roundtrip_depths_and_filters():
    import numpy as np

    from kinesis_stream_reader_spark.operators import multimodal as mm

    pal256 = np.array(
        [(i, (i * 3) % 256, (i * 7) % 256) for i in range(256)], dtype=np.uint8
    )
    rng = np.random.RandomState(3)
    for depth, pal, maxv in ((8, pal256, 256), (4, pal256[:16], 16)):
        for h, w in [(1, 1), (6, 8), (9, 13)]:
            idx = rng.randint(0, maxv, (h, w))
            want = pal[idx]
            for ft in range(5):
                blob = mm.encode_png(
                    idx, palette=pal, depth=depth, filter_for_row=lambda y, f=ft: f
                )
                assert np.array_equal(mm.decode_png(blob), want), (depth, ft)


def test_png_palette_index_out_of_range_raises():
    import numpy as np

    from kinesis_stream_reader_spark.operators import multimodal as mm

    pal8 = np.array([(i, i, i) for i in range(8)], dtype=np.uint8)
    idx = np.full((4, 4), 9)  # beyond the 8-entry PLTE
    blob = mm.encode_png(idx, palette=pal8, depth=8)
    with pytest.raises(ValueError, match="palette index"):
        mm.decode_png(blob)


def test_flac_rice2_and_escaped_partitions():
    """Method-1 (rice2, 5-bit parameters) partitions and ESCAPED
    (verbatim n-bit residual) partitions — the last FLAC wire forms —
    roundtrip exactly; 20-bit escapes cover fixed-order-2 residual
    range on full-scale int16 input."""
    import random

    from kinesis_stream_reader_spark.operators import multimodal as mm

    rng = random.Random(5)
    for method, escape in [(1, None), (0, 20), (1, 20)]:
        for _ in range(4):
            n = rng.choice([32, 64, 100])
            ch = [
                [rng.randint(-30000, 30000) for _ in range(n)] for _ in range(2)
            ]
            blob = mm.encode_flac(
                ch, block_size=32,
                stereo_mode=rng.choice(["independent", "mid_side"]),
                rice_method=method, rice_escape_bits=escape,
                plan=lambda f, c, s: ("fixed", rng.randint(0, 2)),
            )
            assert mm.decode_flac(blob)[1] == ch, (method, escape)


def test_jpeg_progressive_restart_roundtrip_exact():
    """RSTn markers inside EVERY progressive scan kind (DC first/refine
    with predictor resets, AC first/refine with EOBRUN resets) must not
    change the decoded pixels."""
    import numpy as np

    from kinesis_stream_reader_spark.operators import multimodal as mm

    rng = np.random.RandomState(9)
    for ri in (1, 2, 3):
        w, h = 32, 24
        nb = (w // 8) * (h // 8)
        qts = [[8] + [1] * 63, [8] + [2] * 63]
        cb = [[], [], []]
        for b in range(nb):
            for ci in range(3):
                zz = [0] * 64
                zz[0] = int(rng.randint(-60, 61))
                for _ in range(rng.randint(0, 5)):
                    zz[int(rng.randint(1, 64))] = int(
                        rng.choice([-3, -2, -1, 1, 2, 3])
                    )
                cb[ci].append(zz)
        plain = mm.decode_jpeg(mm.encode_jpeg_progressive(w, h, cb, qts))
        with_rst = mm.decode_jpeg(
            mm.encode_jpeg_progressive(w, h, cb, qts, restart_interval=ri)
        )
        assert np.array_equal(plain, with_rst), ri


def test_tiff_roundtrip_both_endians_all_strips():
    import numpy as np

    from kinesis_stream_reader_spark.operators import multimodal as mm

    rng = np.random.RandomState(4)
    for be in (False, True):
        for h, w in [(1, 1), (6, 8), (9, 13)]:
            for rps in (1, 3, 16):
                arr = rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
                got = mm.decode_tiff(
                    mm.encode_tiff(arr, big_endian=be, rows_per_strip=rps)
                )
                assert np.array_equal(got, arr), (be, h, w, rps)


def test_tiff_unsupported_forms_gated():
    import struct

    import numpy as np

    from kinesis_stream_reader_spark.operators import multimodal as mm

    arr = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    blob = bytearray(mm.encode_tiff(arr))
    # flip the Compression SHORT (tag 259) to 7 (JPEG-in-TIFF): LZW (5)
    # and PackBits (32773) are REAL since round 7, so the gate narrowed
    # to the still-unimplemented compressions
    idx = blob.find(struct.pack("<HHI", 259, 3, 1))
    assert idx > 0
    blob[idx + 8] = 7
    with pytest.raises(NotImplementedError, match="compression 7"):
        mm.decode_tiff(bytes(blob))


def test_qoi_roundtrip_all_op_families():
    import numpy as np

    from kinesis_stream_reader_spark.operators import multimodal as mm

    rng = np.random.RandomState(11)
    cases = []
    for h, w in [(1, 1), (5, 9), (13, 7)]:
        cases.append(rng.randint(0, 256, (h, w, 3), dtype=np.uint8))  # RGB-heavy
        cases.append(np.full((h, w, 3), 77, dtype=np.uint8))  # RUN-heavy
        walk = rng.randint(-2, 2, (h * w, 3)).cumsum(axis=0)  # DIFF/LUMA
        cases.append(((walk + 128) % 256).astype(np.uint8).reshape(h, w, 3))
        pal = rng.randint(0, 256, (4, 3), dtype=np.uint8)  # INDEX-heavy
        cases.append(pal[rng.randint(0, 4, h * w)].reshape(h, w, 3))
    # runs longer than the 62 cap must split into chained RUN chunks
    cases.append(np.full((3, 70, 3), 9, dtype=np.uint8))
    for arr in cases:
        blob = mm.encode_qoi(arr)
        assert np.array_equal(mm.decode_qoi(blob), arr)
        assert np.array_equal(mm.decode_image(blob), arr)  # dispatch


def test_qoi_fixture_exercises_every_rgb_op():
    """The registry fixture formula must keep hitting all five RGB-path
    chunk ops (RUN/INDEX/DIFF/LUMA/RGB) — that is the point of the
    fixture design; a drift in the formula would silently weaken the
    decode coverage."""
    import numpy as np

    from kinesis_stream_reader_spark.operators import multimodal as mm

    seen = set()
    for d in range(40):
        w, h = 8 + d % 5, 6 + d % 3
        p = np.arange(w * h, dtype=np.int64)
        base = (d * 7 + 11 * (p // 3)) % 256
        px = np.stack([base, (base + 1) % 256, (base + 2) % 256], 1)
        ramp = (d * 3 + p) % 256
        first = p < w
        px[first] = np.stack([ramp, ramp, ramp], 1)[first]
        mark = (~first) & (p % 17 == 16)
        px[mark] = (10, 20, 30)
        arr = px.astype(np.uint8).reshape(h, w, 3)
        blob = mm.encode_qoi(arr)
        assert np.array_equal(mm.decode_qoi(blob), arr)
        pos = 14
        while pos < len(blob) - 8:
            b1 = blob[pos]
            if b1 == 0xFE:
                seen.add("RGB")
                pos += 4
            elif b1 >> 6 == 0:
                seen.add("INDEX")
                pos += 1
            elif b1 >> 6 == 1:
                seen.add("DIFF")
                pos += 1
            elif b1 >> 6 == 2:
                seen.add("LUMA")
                pos += 2
            else:
                seen.add("RUN")
                pos += 1
    assert seen == {"RGB", "INDEX", "DIFF", "LUMA", "RUN"}


def test_qoi_malformed_streams_rejected():
    import numpy as np

    from kinesis_stream_reader_spark.operators import multimodal as mm

    arr = np.arange(27, dtype=np.uint8).reshape(3, 3, 3)
    blob = bytearray(mm.encode_qoi(arr))
    with pytest.raises(ValueError, match="not a QOI"):
        mm.decode_qoi(b"nope" + bytes(blob[4:]))
    with pytest.raises(ValueError, match="end marker"):
        mm.decode_qoi(bytes(blob[:-1]))
    # a run overflowing the pixel count must be detected, not wrapped
    overflow = bytes(blob[:14]) + bytes([0xC0 | 61]) * 3 + b"\x00" * 7 + b"\x01"
    with pytest.raises(ValueError, match="overflow"):
        mm.decode_qoi(overflow)


def test_aiff_roundtrip_and_f80_rates():
    import numpy as np

    from kinesis_stream_reader_spark.operators import multimodal as mm

    rng = np.random.RandomState(21)
    for rate in (8000, 11025, 22050, 44100, 192000):
        # the 80-bit extended-float rate must be EXACT, incl. odd rates
        assert mm._f80_decode(mm._f80_encode(rate)) == rate
        for n in (0, 1, 77):
            s = rng.randint(-32768, 32768, n).astype(np.int16)
            r2, s2 = mm.decode_aiff(mm.encode_aiff(s, rate))
            assert r2 == rate
            assert np.array_equal(s2, s)


def test_f80_decode_shift_exact_and_gated():
    import struct

    from kinesis_stream_reader_spark.operators import multimodal as mm

    # exact beyond 53 mantissa bits — a float round-trip would lose this
    big = (1 << 62) + 1
    assert mm._f80_decode(mm._f80_encode(big)) == big
    assert mm._f80_decode(b"\x00" * 10) == 0
    # denormal (exp==0, mant!=0) raises instead of misdecoding
    with pytest.raises(ValueError, match="denormal"):
        mm._f80_decode(struct.pack(">HQ", 0, 123))
    # fractional rate (exp biased below integer range) raises
    with pytest.raises(ValueError, match="non-integer"):
        mm._f80_decode(struct.pack(">HQ", 16383 - 1, 1 << 63))  # 0.5
    # 44100.5: mantissa keeps a dropped bit below the integer point
    e = 15  # 44100 < 2^16
    mant = (44100 << (63 - e)) | (1 << (63 - e - 1))
    with pytest.raises(ValueError, match="non-integer"):
        mm._f80_decode(struct.pack(">HQ", 16383 + e, mant))
    with pytest.raises(ValueError, match="negative"):
        mm._f80_decode(struct.pack(">HQ", 0x8000 | (16383 + 3), 8 << 60))


def test_aiff_media_split_decodes_via_separate_stage(spark):
    """The media stage and decoder are separate operators (house codec
    contract): decode features over synthetic media must match the
    fixture formula computed independently."""
    import numpy as np

    from kinesis_stream_reader_spark.operators import multimodal as mm

    docs = spark.range(12).withColumnRenamed("id", "doc_id")
    got = {
        r["doc_id"]: r
        for r in mm.aiff_decode_features(mm.synthetic_aiff_media(docs)).collect()
    }
    for d in range(12):
        n = 48 + d % 40
        v = ((d * 17 + 37 * np.arange(n, dtype=np.int64)) % 65536) - 32768
        w = np.arange(1, n + 1, dtype=np.int64)
        assert got[d]["sample_rate"] == mm.AIFF_FIXTURE_RATES[d % 4]
        assert got[d]["n_samples"] == n
        assert got[d]["checksum"] == int((w * v).sum())


def test_aiff_malformed_rejected():
    import numpy as np

    from kinesis_stream_reader_spark.operators import multimodal as mm

    blob = bytearray(mm.encode_aiff(np.zeros(4, dtype=np.int16), 8000))
    with pytest.raises(ValueError, match="not an AIFF"):
        mm.decode_aiff(b"RIFF" + bytes(blob[4:]))
    # stereo flag must be gated, not mis-decoded
    stereo = bytearray(blob)
    comm = stereo.find(b"COMM") + 8
    stereo[comm : comm + 2] = (0, 2)
    with pytest.raises(ValueError, match="PCM16 mono"):
        mm.decode_aiff(bytes(stereo))


# --------------------------------------------------------------------------
# Compressed TIFF: LZW + PackBits (round 7)
# --------------------------------------------------------------------------
def test_packbits_reference_vectors():
    from kinesis_stream_reader_spark.operators import multimodal as mm

    # the spec's §9 worked example (Apple PackBits documentation):
    # FE AA | 02 80 00 2A | FD AA | 03 80 00 2A 22 | F7 AA
    enc = bytes.fromhex("FEAA0280002AFDAA0380002A22F7AA")
    dec = bytes.fromhex("AAAAAA80002A" + "AA" * 4 + "80002A22" + "AA" * 10)
    assert mm._packbits_decode(enc) == dec
    # -128 is a noop the decoder must skip
    assert mm._packbits_decode(b"\x80\x00A") == b"A"
    # roundtrip across run/literal boundaries incl. >128 spans
    for blob in [b"", b"A", b"A" * 200, bytes(range(256)) * 2, b"AB" * 130,
                 b"A" * 3 + bytes(range(40)) + b"B" * 129]:
        assert mm._packbits_decode(mm._packbits_encode(blob)) == blob


def test_tiff_lzw_roundtrip_across_width_boundaries():
    import numpy as np

    from kinesis_stream_reader_spark.operators import multimodal as mm

    rng = np.random.RandomState(3)
    # quasi-random 40 KB drives next_code through 511 / 1023 / 2047 and
    # the NextCode-4094 ClearCode reset (verified by instrumentation)
    i = np.arange(40_320, dtype=np.int64)
    patterned = bytes(((3 * i + (i * i) % 31) % 256).astype(np.uint8))
    noise = bytes(rng.randint(0, 256, 50_000, dtype=np.int64).astype(np.uint8))
    for blob in [b"", b"A", patterned, noise, b"AB" * 30_000]:
        assert mm._lzw_decode_tiff(mm._lzw_encode_tiff(blob), len(blob)) == blob


def test_tiff_compressed_decode_both_orders_and_strips():
    import numpy as np

    from kinesis_stream_reader_spark.operators import multimodal as mm

    rng = np.random.RandomState(9)
    arr = rng.randint(0, 256, (40, 50, 3), dtype=np.uint8)
    for comp in (1, 5, 32773):
        for be in (False, True):
            for rps in (3, 64):
                blob = mm.encode_tiff(
                    arr, big_endian=be, rows_per_strip=rps, compression=comp
                )
                assert np.array_equal(mm.decode_tiff(blob), arr)
    # the gate is narrowed: unknown compressions still refuse honestly
    import pytest as _pytest

    blob = bytearray(mm.encode_tiff(arr))
    # flip the Compression SHORT (tag 259) to 7 (JPEG-in-TIFF)
    idx = blob.find((259).to_bytes(2, "little"))
    blob[idx + 8] = 7
    with _pytest.raises(NotImplementedError, match="compression 7"):
        mm.decode_tiff(bytes(blob))


def test_lzw_fast_and_sequential_decoders_agree():
    """The round-8 numpy fast path (schedule-driven code extraction)
    and the sequential reference bit reader must produce identical
    bytes on every stream shape: random (incompressible, multi-reset),
    run-heavy (long table entries), cyclic (deep table reuse), plus
    truncated streams (missing EOI) and expected-capped decodes."""
    import numpy as np

    from kinesis_stream_reader_spark.operators import multimodal as mm

    rng = np.random.RandomState(61)
    for trial in range(60):
        n = int(rng.randint(1, 40000)) if trial % 5 == 0 else int(rng.randint(1, 2500))
        m = trial % 3
        if m == 0:
            p = rng.randint(0, 256, n).astype(np.uint8).tobytes()
        elif m == 1:
            p = np.repeat(
                rng.randint(0, 4, n), rng.randint(1, 9)
            ).astype(np.uint8).tobytes()[:n]
        else:
            p = (bytes(range(int(rng.randint(1, 40)))) * 2000)[:n]
        e = mm._lzw_encode_tiff(p)
        assert mm._lzw_decode_tiff(e) == p
        assert mm._lzw_decode_tiff(e, expected=len(p)) == p
        assert mm._lzw_decode_tiff_seq(e, expected=len(p)) == p
        if len(e) > 4:
            cut = int(rng.randint(1, 4))
            assert mm._lzw_decode_tiff(e[:-cut]) == mm._lzw_decode_tiff_seq(e[:-cut])


def test_tiff_lzw_cross_validated_against_jdk_imageio(tmp_path):
    """Independent-implementation check: the JDK's ImageIO TIFF codec
    (Java 9+) must read our LZW/PackBits TIFFs pixel-exactly, and we
    must read its — a symmetric early-change off-by-one would pass a
    roundtrip test but fail here (the G.711 lesson)."""
    import shutil
    import struct
    import subprocess

    import numpy as np
    import pytest as _pytest

    from kinesis_stream_reader_spark.operators import multimodal as mm

    java_home = os.environ.get("JAVA_HOME", "")
    javac = shutil.which("javac") or (
        os.path.join(java_home, "bin", "javac") if java_home else None
    )
    if not javac or not os.path.exists(javac):
        _pytest.skip("no JDK available for cross-validation")
    java = os.path.join(os.path.dirname(javac), "java")
    src = tmp_path / "TiffTool.java"
    src.write_text(
        """
import javax.imageio.*; import javax.imageio.stream.*;
import java.awt.image.*; import java.io.*; import java.util.Iterator;
public class TiffTool {
  public static void main(String[] a) throws Exception {
    if (a[0].equals("decode")) {
      BufferedImage img = ImageIO.read(new File(a[1]));
      if (img == null) System.exit(2);
      DataOutputStream o = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(a[2])));
      o.writeInt(img.getHeight()); o.writeInt(img.getWidth());
      for (int y = 0; y < img.getHeight(); y++) for (int x = 0; x < img.getWidth(); x++) {
        int p = img.getRGB(x, y);
        o.writeByte((p>>16)&0xFF); o.writeByte((p>>8)&0xFF); o.writeByte(p&0xFF);
      } o.close();
    } else {
      DataInputStream in = new DataInputStream(new BufferedInputStream(new FileInputStream(a[1])));
      int h = in.readInt(), w = in.readInt();
      BufferedImage img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB);
      for (int y = 0; y < h; y++) for (int x = 0; x < w; x++) {
        int r = in.readUnsignedByte(), g = in.readUnsignedByte(), b = in.readUnsignedByte();
        img.setRGB(x, y, (r<<16)|(g<<8)|b);
      } in.close();
      ImageWriter wr = ImageIO.getImageWritersByFormatName("tiff").next();
      ImageWriteParam p = wr.getDefaultWriteParam();
      p.setCompressionMode(ImageWriteParam.MODE_EXPLICIT);
      p.setCompressionType(a[3]);
      ImageOutputStream ios = ImageIO.createImageOutputStream(new File(a[2]));
      wr.setOutput(ios); wr.write(null, new IIOImage(img, null, null), p); ios.close();
    }
  }
}
"""
    )
    subprocess.run([javac, str(src)], check=True, cwd=tmp_path)
    rng = np.random.RandomState(11)
    arr = rng.randint(0, 256, (120, 100, 3), dtype=np.uint8)  # crosses 511/1023+

    # ours -> JDK
    for comp, cname in ((5, "LZW"), (8, "Deflate"), (32773, "PackBits")):
        (tmp_path / "ours.tif").write_bytes(
            mm.encode_tiff(arr, rows_per_strip=512, compression=comp)
        )
        subprocess.run(
            [java, "TiffTool", "decode", "ours.tif", "out.raw"],
            check=True, cwd=tmp_path,
        )
        raw = (tmp_path / "out.raw").read_bytes()
        h, w = struct.unpack(">II", raw[:8])
        got = np.frombuffer(raw[8:], dtype=np.uint8).reshape(h, w, 3)
        assert np.array_equal(got, arr), cname

    # JDK -> ours
    raw = struct.pack(">II", *arr.shape[:2]) + arr.tobytes()
    (tmp_path / "in.raw").write_bytes(raw)
    for cname in ("LZW", "Deflate", "PackBits"):
        subprocess.run(
            [java, "TiffTool", "encode", "in.raw", "jdk.tif", cname],
            check=True, cwd=tmp_path,
        )
        got = mm.decode_tiff((tmp_path / "jdk.tif").read_bytes())
        assert np.array_equal(got, arr), cname


# --------------------------------------------------------------------------
# Adam7 interlaced PNG (round 7)
# --------------------------------------------------------------------------
def test_png_adam7_roundtrip_all_shapes_filters_depths():
    import numpy as np

    from kinesis_stream_reader_spark.operators import multimodal as mm

    rng = np.random.RandomState(5)
    # degenerate sizes leave some passes EMPTY (zero bytes in stream)
    for h, w in [(1, 1), (2, 3), (5, 9), (8, 8), (13, 17), (32, 24)]:
        arr = rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
        for ff in [None, (lambda y: y), (lambda y: 4)]:
            got = mm.decode_png(mm.encode_png(arr, filter_for_row=ff, interlace=True))
            assert np.array_equal(got, arr), ("rgb", h, w)
    for depth, nmax in [(8, 200), (4, 16)]:
        pal = rng.randint(0, 256, (nmax, 3), dtype=np.uint8)
        for h, w in [(1, 1), (3, 5), (7, 7), (13, 17), (9, 4)]:
            idx = rng.randint(0, nmax, (h, w))
            got = mm.decode_png(
                mm.encode_png(
                    idx, palette=pal, depth=depth, filter_for_row=lambda y: y,
                    interlace=True,
                )
            )
            assert np.array_equal(got, pal[idx]), ("pal", depth, h, w)


def test_png_adam7_cross_validated_against_jdk_imageio(tmp_path):
    """The JDK's ImageIO PNG reader must decode our Adam7 files
    pixel-exactly — an independent implementation check on the pass
    grid and per-pass packing (a self-consistent permutation error
    would survive roundtrip tests)."""
    import shutil
    import struct
    import subprocess

    import numpy as np
    import pytest as _pytest

    from kinesis_stream_reader_spark.operators import multimodal as mm

    java_home = os.environ.get("JAVA_HOME", "")
    javac = shutil.which("javac") or (
        os.path.join(java_home, "bin", "javac") if java_home else None
    )
    if not javac or not os.path.exists(javac):
        _pytest.skip("no JDK available for cross-validation")
    java = os.path.join(os.path.dirname(javac), "java")
    src = tmp_path / "PngDump.java"
    src.write_text(
        """
import javax.imageio.*; import java.awt.image.*; import java.io.*;
public class PngDump {
  public static void main(String[] a) throws Exception {
    BufferedImage img = ImageIO.read(new File(a[0]));
    if (img == null) System.exit(2);
    DataOutputStream o = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(a[1])));
    o.writeInt(img.getHeight()); o.writeInt(img.getWidth());
    for (int y = 0; y < img.getHeight(); y++) for (int x = 0; x < img.getWidth(); x++) {
      int p = img.getRGB(x, y);
      o.writeByte((p>>16)&0xFF); o.writeByte((p>>8)&0xFF); o.writeByte(p&0xFF);
    } o.close();
  }
}
"""
    )
    subprocess.run([javac, str(src)], check=True, cwd=tmp_path)
    rng = np.random.RandomState(17)

    def jdk_decode(blob):
        (tmp_path / "in.png").write_bytes(blob)
        subprocess.run(
            [java, "PngDump", "in.png", "out.raw"], check=True, cwd=tmp_path
        )
        raw = (tmp_path / "out.raw").read_bytes()
        h, w = struct.unpack(">II", raw[:8])
        return np.frombuffer(raw[8:], dtype=np.uint8).reshape(h, w, 3)

    for h, w in [(5, 9), (32, 24), (60, 41)]:
        arr = rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
        blob = mm.encode_png(arr, filter_for_row=lambda y: y, interlace=True)
        assert np.array_equal(jdk_decode(blob), arr), ("rgb", h, w)
    for depth, nmax in [(8, 200), (4, 16)]:
        pal = rng.randint(0, 256, (nmax, 3), dtype=np.uint8)
        idx = rng.randint(0, nmax, (13, 17))
        blob = mm.encode_png(idx, palette=pal, depth=depth, interlace=True)
        assert np.array_equal(jdk_decode(blob), pal[idx]), ("pal", depth)


# --------------------------------------------------------------------------
# Planar + tiled TIFF (round 7, second pass)
# --------------------------------------------------------------------------
def test_tiff_planar_and_tiled_roundtrips():
    """Every strip/tile x chunky/planar layout round-trips at 8 and 16
    bits, RGB and gray (gray comes back replicated to 3 channels)."""
    import numpy as np

    from kinesis_stream_reader_spark.operators import multimodal as mm

    rng = np.random.RandomState(23)
    for h, w in [(1, 1), (5, 9), (40, 50), (33, 17)]:
        for depth, shape in (
            (8, (h, w, 3)), (16, (h, w, 3)), (8, (h, w)), (16, (h, w))
        ):
            arr = rng.randint(0, 1 << depth, shape).astype(f"u{depth // 8}")
            want = arr if arr.ndim == 3 else np.repeat(arr[:, :, None], 3, axis=2)
            for comp in (1, 5, 32773):
                for be in (False, True):
                    kw = dict(big_endian=be, compression=comp, depth=depth)
                    got = mm.decode_tiff(
                        mm.encode_tiff(arr, rows_per_strip=3, planar=True, **kw)
                    )
                    assert got.dtype == want.dtype
                    assert np.array_equal(got, want), ("planar", h, w, depth, comp, be)
                    for pl in (False, True):
                        got = mm.decode_tiff(
                            mm.encode_tiff(arr, planar=pl, tile=(16, 16), **kw)
                        )
                        assert np.array_equal(got, want), (
                            "tiled", h, w, depth, comp, be, pl
                        )
    with pytest.raises(ValueError, match="multiples of 16"):
        mm.encode_tiff(np.zeros((4, 4, 3), dtype=np.uint8), tile=(8, 8))


def test_tiff_planar_tiled_cross_validated_against_jdk(tmp_path):
    """JDK ImageIO must read every planar/tiled layout pixel-exactly —
    plane-major segment ordering and edge-tile padding are exactly the
    kind of self-consistent layout conventions a roundtrip cannot
    falsify."""
    import shutil
    import struct
    import subprocess

    import numpy as np
    import pytest as _pytest

    from kinesis_stream_reader_spark.operators import multimodal as mm

    java_home = os.environ.get("JAVA_HOME", "")
    javac = shutil.which("javac") or (
        os.path.join(java_home, "bin", "javac") if java_home else None
    )
    if not javac or not os.path.exists(javac):
        _pytest.skip("no JDK available for cross-validation")
    java = os.path.join(os.path.dirname(javac), "java")
    src = tmp_path / "PngDump.java"
    src.write_text(
        """
import javax.imageio.*; import java.awt.image.*; import java.io.*;
public class PngDump {
  public static void main(String[] a) throws Exception {
    BufferedImage img = ImageIO.read(new File(a[0]));
    if (img == null) System.exit(2);
    DataOutputStream o = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(a[1])));
    o.writeInt(img.getHeight()); o.writeInt(img.getWidth());
    for (int y = 0; y < img.getHeight(); y++) for (int x = 0; x < img.getWidth(); x++) {
      int p = img.getRGB(x, y);
      o.writeByte((p>>16)&0xFF); o.writeByte((p>>8)&0xFF); o.writeByte(p&0xFF);
    } o.close();
  }
}
"""
    )
    subprocess.run([javac, str(src)], check=True, cwd=tmp_path)
    rng = np.random.RandomState(29)
    arr = rng.randint(0, 256, (40, 50, 3), dtype=np.uint8)
    cases = {
        "planar-strips": dict(planar=True, rows_per_strip=3),
        "tiled-chunky": dict(tile=(16, 16)),
        "tiled-planar": dict(planar=True, tile=(16, 16)),
    }
    for tag, kw in cases.items():
        for comp in (1, 5, 32773):
            (tmp_path / "in.tif").write_bytes(
                mm.encode_tiff(arr, compression=comp, **kw)
            )
            subprocess.run(
                [java, "PngDump", "in.tif", "out.raw"], check=True, cwd=tmp_path
            )
            raw = (tmp_path / "out.raw").read_bytes()
            h, w = struct.unpack(">II", raw[:8])
            got = np.frombuffer(raw[8:], dtype=np.uint8).reshape(h, w, 3)
            assert np.array_equal(got, arr), (tag, comp)


# --------------------------------------------------------------------------
# PNG grayscale + RGBA color types (round 7, second pass)
# --------------------------------------------------------------------------
def test_png_gray_rgba_roundtrips():
    import numpy as np

    from kinesis_stream_reader_spark.operators import multimodal as mm

    rng = np.random.RandomState(31)
    for h, w in [(1, 1), (5, 9), (13, 17), (32, 24)]:
        g = rng.randint(0, 256, (h, w), dtype=np.uint8)
        a4 = rng.randint(0, 256, (h, w, 4), dtype=np.uint8)
        for il in (False, True):
            for ff in [None, (lambda y: y)]:
                got = mm.decode_png(
                    mm.encode_png(g, filter_for_row=ff, interlace=il)
                )
                assert np.array_equal(got, np.repeat(g[:, :, None], 3, axis=2))
                got = mm.decode_png(
                    mm.encode_png(a4, filter_for_row=ff, interlace=il)
                )
                assert np.array_equal(got, a4[:, :, :3])


def test_png_gray_rgba_cross_validated_against_jdk(tmp_path):
    """JDK raster samples (not getRGB, which gamma-converts gray to
    sRGB) must match our wire bytes exactly, all four bands of RGBA
    included."""
    import shutil
    import struct
    import subprocess

    import numpy as np
    import pytest as _pytest

    from kinesis_stream_reader_spark.operators import multimodal as mm

    java_home = os.environ.get("JAVA_HOME", "")
    javac = shutil.which("javac") or (
        os.path.join(java_home, "bin", "javac") if java_home else None
    )
    if not javac or not os.path.exists(javac):
        _pytest.skip("no JDK available for cross-validation")
    java = os.path.join(os.path.dirname(javac), "java")
    (tmp_path / "RasterDump.java").write_text(
        """
import javax.imageio.*; import java.awt.image.*; import java.io.*;
public class RasterDump {
  public static void main(String[] a) throws Exception {
    BufferedImage img = ImageIO.read(new File(a[0]));
    if (img == null) System.exit(2);
    Raster r = img.getRaster();
    int h = img.getHeight(), w = img.getWidth(), b = r.getNumBands();
    DataOutputStream o = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(a[1])));
    o.writeInt(h); o.writeInt(w); o.writeInt(b);
    for (int y = 0; y < h; y++) for (int x = 0; x < w; x++)
      for (int c = 0; c < b; c++) o.writeByte(r.getSample(x, y, c));
    o.close();
  }
}
"""
    )
    subprocess.run([javac, "RasterDump.java"], check=True, cwd=tmp_path)
    rng = np.random.RandomState(37)

    def jdk_raster(blob):
        (tmp_path / "in.png").write_bytes(blob)
        subprocess.run(
            [java, "RasterDump", "in.png", "out.raw"], check=True, cwd=tmp_path
        )
        raw = (tmp_path / "out.raw").read_bytes()
        h, w, b = struct.unpack(">III", raw[:12])
        return np.frombuffer(raw[12:], dtype=np.uint8).reshape(h, w, b)

    for il in (False, True):
        g = rng.randint(0, 256, (13, 17), dtype=np.uint8)
        got = jdk_raster(mm.encode_png(g, filter_for_row=lambda y: y, interlace=il))
        assert np.array_equal(got, g[:, :, None]), ("gray", il)
        a4 = rng.randint(0, 256, (13, 17, 4), dtype=np.uint8)
        got = jdk_raster(mm.encode_png(a4, filter_for_row=lambda y: y, interlace=il))
        assert np.array_equal(got, a4), ("rgba", il)


# --------------------------------------------------------------------------
# Stereo / multichannel WAV (round 7, second pass)
# --------------------------------------------------------------------------
def test_wav_multichannel_roundtrip_and_gates():
    import numpy as np

    from kinesis_stream_reader_spark.operators import multimodal as mm

    rng = np.random.RandomState(41)
    for ch in (1, 2, 4):
        for n in (0, 1, 77):
            frames = rng.randint(-32768, 32768, (n, ch)).astype(np.int16)
            rate, got = mm.decode_wav_multichannel(
                mm.encode_wav_multichannel(frames, 22050)
            )
            assert rate == 22050
            assert got.shape == (n, ch)
            assert np.array_equal(got, frames)
    # mono decode_wav reads a 1-channel multichannel file unchanged
    frames = rng.randint(-32768, 32768, (50, 1)).astype(np.int16)
    rate, mono = mm.decode_wav(mm.encode_wav_multichannel(frames, 8000))
    assert np.array_equal(mono, frames[:, 0])
    # but the strict mono decoder refuses stereo rather than misreading
    stereo = mm.encode_wav_multichannel(
        rng.randint(-32768, 32768, (10, 2)).astype(np.int16), 8000
    )
    with pytest.raises(ValueError, match="mono"):
        mm.decode_wav(stereo)
    # channel swap breaks equality (the per-channel checksum rationale)
    f2 = rng.randint(-32768, 32768, (10, 2)).astype(np.int16)
    _, got = mm.decode_wav_multichannel(mm.encode_wav_multichannel(f2, 8000))
    assert not np.array_equal(got, f2[:, ::-1])


# --------------------------------------------------------------------------
# 16-bit PNG (round 7, second pass)
# --------------------------------------------------------------------------
def test_png16_roundtrip_all_filters_and_adam7():
    import numpy as np

    from kinesis_stream_reader_spark.operators import multimodal as mm

    rng = np.random.RandomState(43)
    for h, w in [(1, 1), (5, 9), (13, 17), (32, 24)]:
        a = rng.randint(0, 65536, (h, w, 3)).astype(np.uint16)
        for il in (False, True):
            for ff in [None, (lambda y: y), (lambda y: 4)]:
                got = mm.decode_png(
                    mm.encode_png(a, depth=16, filter_for_row=ff, interlace=il)
                )
                assert got.dtype == np.uint16
                assert np.array_equal(got, a), (h, w, il)


def test_png16_cross_validated_against_jdk(tmp_path):
    """JDK 16-bit raster samples must match our wire exactly — the
    big-endian sample recombination and the 6-byte filter unit are the
    two conventions a self-consistent pair could get wrong together."""
    import shutil
    import struct
    import subprocess

    import numpy as np
    import pytest as _pytest

    from kinesis_stream_reader_spark.operators import multimodal as mm

    java_home = os.environ.get("JAVA_HOME", "")
    javac = shutil.which("javac") or (
        os.path.join(java_home, "bin", "javac") if java_home else None
    )
    if not javac or not os.path.exists(javac):
        _pytest.skip("no JDK available for cross-validation")
    java = os.path.join(os.path.dirname(javac), "java")
    (tmp_path / "Raster16.java").write_text(
        """
import javax.imageio.*; import java.awt.image.*; import java.io.*;
public class Raster16 {
  public static void main(String[] a) throws Exception {
    BufferedImage img = ImageIO.read(new File(a[0]));
    if (img == null) System.exit(2);
    Raster r = img.getRaster();
    int h = img.getHeight(), w = img.getWidth(), b = r.getNumBands();
    DataOutputStream o = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(a[1])));
    o.writeInt(h); o.writeInt(w); o.writeInt(b);
    for (int y = 0; y < h; y++) for (int x = 0; x < w; x++)
      for (int c = 0; c < b; c++) o.writeShort(r.getSample(x, y, c));
    o.close();
  }
}
"""
    )
    subprocess.run([javac, "Raster16.java"], check=True, cwd=tmp_path)
    rng = np.random.RandomState(47)
    for il in (False, True):
        a = rng.randint(0, 65536, (13, 17, 3)).astype(np.uint16)
        (tmp_path / "in.png").write_bytes(
            mm.encode_png(a, depth=16, filter_for_row=lambda y: y, interlace=il)
        )
        subprocess.run(
            [java, "Raster16", "in.png", "out.raw"], check=True, cwd=tmp_path
        )
        raw = (tmp_path / "out.raw").read_bytes()
        h, w, b = struct.unpack(">III", raw[:12])
        got = np.frombuffer(raw[12:], dtype=">u2").reshape(h, w, b).astype(np.uint16)
        assert np.array_equal(got, a), il
        # 16-bit GRAYSCALE (round 8): JDK reads color type 0 depth 16 as
        # a 1-band unsigned-short raster — must match our wire samples
        g = rng.randint(0, 65536, (13, 17)).astype(np.uint16)
        (tmp_path / "in.png").write_bytes(
            mm.encode_png(g, depth=16, filter_for_row=lambda y: y, interlace=il)
        )
        subprocess.run(
            [java, "Raster16", "in.png", "out.raw"], check=True, cwd=tmp_path
        )
        raw = (tmp_path / "out.raw").read_bytes()
        h, w, b = struct.unpack(">III", raw[:12])
        got = np.frombuffer(raw[12:], dtype=">u2").reshape(h, w, b).astype(np.uint16)
        assert (h, w, b) == (13, 17, 1), il
        assert np.array_equal(got[:, :, 0], g), il
        # 16-bit RGBA (round 8, second pass): 4-band unsigned-short
        # raster, alpha included — our wire must carry all four planes
        a4 = rng.randint(0, 65536, (13, 17, 4)).astype(np.uint16)
        (tmp_path / "in.png").write_bytes(
            mm.encode_png(a4, depth=16, filter_for_row=lambda y: y, interlace=il)
        )
        subprocess.run(
            [java, "Raster16", "in.png", "out.raw"], check=True, cwd=tmp_path
        )
        raw = (tmp_path / "out.raw").read_bytes()
        h, w, b = struct.unpack(">III", raw[:12])
        got = np.frombuffer(raw[12:], dtype=">u2").reshape(h, w, b).astype(np.uint16)
        assert (h, w, b) == (13, 17, 4), il
        assert np.array_equal(got, a4), il


def test_png16_gray_roundtrip_all_filters_and_adam7():
    import numpy as np

    from kinesis_stream_reader_spark.operators import multimodal as mm

    rng = np.random.RandomState(53)
    for h, w in [(1, 1), (5, 9), (13, 17), (32, 24)]:
        a = rng.randint(0, 65536, (h, w)).astype(np.uint16)
        for il in (False, True):
            for ff in [None, (lambda y: y), (lambda y: 4)]:
                got = mm.decode_png(
                    mm.encode_png(a, depth=16, filter_for_row=ff, interlace=il)
                )
                assert got.dtype == np.uint16
                assert np.array_equal(
                    got, np.repeat(a[:, :, None], 3, axis=2)
                ), (h, w, il)


# --------------------------------------------------------------------------
# Round 8, second pass: Deflate TIFF + 16-bit RGBA PNG
# --------------------------------------------------------------------------
def test_tiff_deflate_roundtrip_all_layouts():
    import numpy as np

    from kinesis_stream_reader_spark.operators import multimodal as mm

    rng = np.random.RandomState(73)
    for be in (False, True):
        for kwargs in (
            {},
            {"planar": True},
            {"tile": (16, 16)},
            {"planar": True, "tile": (16, 16)},
        ):
            arr = rng.randint(0, 256, (23, 37, 3)).astype(np.uint8)
            blob = mm.encode_tiff(arr, big_endian=be, compression=8, **kwargs)
            assert np.array_equal(mm.decode_tiff(blob), arr), (be, kwargs)


def test_png16_rgba_roundtrip_all_filters_and_adam7():
    import numpy as np

    from kinesis_stream_reader_spark.operators import multimodal as mm

    rng = np.random.RandomState(79)
    for h, w in [(1, 1), (5, 9), (13, 17)]:
        a = rng.randint(0, 65536, (h, w, 4)).astype(np.uint16)
        for il in (False, True):
            for ff in [None, (lambda y: y), (lambda y: 4)]:
                got = mm.decode_png(
                    mm.encode_png(a, depth=16, filter_for_row=ff, interlace=il)
                )
                assert got.dtype == np.uint16
                assert np.array_equal(got, a[:, :, :3]), (h, w, il)


# --------------------------------------------------------------------------
# Sub-8-bit grayscale + paletted PNG (round 9)
# --------------------------------------------------------------------------
def test_png_lowdepth_roundtrips():
    """Gray depths 1/2/4 and paletted depths 2/1 must roundtrip through
    decode_png at every filter and both interlace modes, including
    widths that exercise trailing-bit padding in every Adam7 pass."""
    import numpy as np

    from kinesis_stream_reader_spark.operators import multimodal as mm

    rng = np.random.RandomState(59)
    for depth in (1, 2, 4):
        for il in (False, True):
            for h, w in [(1, 1), (3, 7), (13, 17), (9, 30)]:
                a = rng.randint(0, 1 << depth, size=(h, w))
                got = mm.decode_png(
                    mm.encode_png(
                        a, depth=depth, filter_for_row=lambda y: y, interlace=il
                    )
                )
                assert np.array_equal(
                    got, np.repeat(a[:, :, None].astype(np.uint8), 3, axis=2)
                ), ("gray", depth, il, h, w)
    for depth in (1, 2):
        n = 1 << depth
        pal = rng.randint(0, 256, size=(n, 3), dtype=np.uint8)
        for il in (False, True):
            idx = rng.randint(0, n, size=(11, 19))
            got = mm.decode_png(
                mm.encode_png(
                    idx, palette=pal, depth=depth,
                    filter_for_row=lambda y: 4 - (y % 5), interlace=il,
                )
            )
            assert np.array_equal(got, pal[idx]), ("pal", depth, il)


def test_png_lowdepth_cross_validated_against_jdk(tmp_path):
    """JDK raster samples must match our sub-8-bit wire bytes exactly —
    MSB-first bit order and per-row/per-pass trailing-bit padding are
    self-consistent conventions a roundtrip cannot falsify. getSample
    (not getRGB) because gray promotes through sRGB in getRGB."""
    import os
    import shutil
    import struct
    import subprocess

    import numpy as np
    import pytest as _pytest

    from kinesis_stream_reader_spark.operators import multimodal as mm

    java_home = os.environ.get("JAVA_HOME", "")
    javac = shutil.which("javac") or (
        os.path.join(java_home, "bin", "javac") if java_home else None
    )
    if not javac or not os.path.exists(javac):
        _pytest.skip("no JDK available for cross-validation")
    java = os.path.join(os.path.dirname(javac), "java")
    (tmp_path / "RasterDump.java").write_text(
        """
import javax.imageio.*; import java.awt.image.*; import java.io.*;
public class RasterDump {
  public static void main(String[] a) throws Exception {
    BufferedImage img = ImageIO.read(new File(a[0]));
    if (img == null) System.exit(2);
    Raster r = img.getRaster();
    int h = img.getHeight(), w = img.getWidth(), b = r.getNumBands();
    DataOutputStream o = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(a[1])));
    o.writeInt(h); o.writeInt(w); o.writeInt(b);
    for (int y = 0; y < h; y++) for (int x = 0; x < w; x++)
      for (int c = 0; c < b; c++) o.writeByte(r.getSample(x, y, c));
    o.close();
  }
}
"""
    )
    subprocess.run([javac, "RasterDump.java"], check=True, cwd=tmp_path)
    rng = np.random.RandomState(61)

    def jdk_raster(blob):
        (tmp_path / "in.png").write_bytes(blob)
        subprocess.run(
            [java, "RasterDump", "in.png", "out.raw"], check=True, cwd=tmp_path
        )
        raw = (tmp_path / "out.raw").read_bytes()
        h, w, b = struct.unpack(">III", raw[:12])
        return np.frombuffer(raw[12:], dtype=np.uint8).reshape(h, w, b)

    for depth in (1, 2, 4):
        for il in (False, True):
            g = rng.randint(0, 1 << depth, size=(13, 17))
            blob = mm.encode_png(
                g, depth=depth, filter_for_row=lambda y: y, interlace=il
            )
            got = jdk_raster(blob)
            assert np.array_equal(got, g[:, :, None]), ("gray", depth, il)
    for depth in (1, 2):
        n = 1 << depth
        pal = rng.randint(0, 256, size=(n, 3), dtype=np.uint8)
        idx = rng.randint(0, n, size=(13, 17))
        blob = mm.encode_png(idx, palette=pal, depth=depth, interlace=True)
        # JDK raster for an indexed image returns the palette INDEX
        got = jdk_raster(blob)
        assert np.array_equal(got, idx[:, :, None]), ("pal", depth)


# --------------------------------------------------------------------------
# Bilevel TIFF: CCITT Group 3 1-D Modified Huffman (round 9)
# --------------------------------------------------------------------------
def test_tiff_bilevel_roundtrips():
    """Uncompressed and CCITT-MH bilevel TIFF must roundtrip at both
    byte orders, including all-white/all-black lines, zero-length
    leading white runs, and runs long enough to need makeup codes and
    the shared extended (1792-2560) set."""
    import numpy as np

    from kinesis_stream_reader_spark.operators import multimodal as mm

    rng = np.random.RandomState(67)
    for comp in (1, 2, 3, 4):
        for be in (False, True):
            for h, w in [(1, 1), (3, 7), (13, 17), (4, 100), (2, 3000)]:
                a = (rng.rand(h, w) < 0.4).astype(np.int64)
                got = mm.decode_tiff(
                    mm.encode_tiff_bilevel(
                        a, compression=comp, big_endian=be, rows_per_strip=3
                    )
                )
                assert np.array_equal(
                    got, np.repeat(a[:, :, None], 3, 2)
                ), (comp, be, h, w)
    for row in [
        np.zeros(2700, np.int64),          # one black run > 2623
        np.ones(2700, np.int64),           # one white run > 2623
        np.r_[np.ones(1700, np.int64), np.zeros(900, np.int64)],
        np.r_[np.zeros(64, np.int64), np.ones(128, np.int64),
              np.zeros(63, np.int64)],     # exact makeup boundaries
    ]:
        a = row[None, :]
        for comp in (2, 3, 4):
            got = mm.decode_tiff(mm.encode_tiff_bilevel(a, compression=comp))
            assert np.array_equal(got[:, :, 0], a), comp
    # G4 2-D structure: identical rows (all-V0), alternating checker
    rng2 = np.random.RandomState(68)
    for a in [
        np.tile((rng2.rand(1, 50) < 0.5).astype(np.int64), (6, 1)),
        np.indices((6, 50)).sum(0) % 2,
    ]:
        got = mm.decode_tiff(mm.encode_tiff_bilevel(a, compression=4))
        assert np.array_equal(got[:, :, 0], a)


@pytest.mark.parametrize("comp", [1, 2, 3, 4])
def test_tiff_flipped_width_bit_refused_before_allocating(comp):
    """One flipped bit in a bilevel file's ImageWidth asks for a
    (9, 2**30 + 21) image: decode_tiff must refuse it with ValueError
    before any array is allocated, not try a 77 GB np.zeros."""
    import struct
    import tracemalloc

    import numpy as np

    from kinesis_stream_reader_spark.operators import multimodal as mm

    a = (np.random.RandomState(5).rand(9, 21) < 0.5).astype(np.int64)
    blob = bytearray(mm.encode_tiff_bilevel(a, compression=comp))
    idx = blob.find(struct.pack("<HHII", 256, 4, 1, 21))  # ImageWidth LONG
    assert idx > 0
    blob[idx + 11] ^= 0x40  # bit 30 of the little-endian width
    tracemalloc.start()
    try:
        with pytest.raises(ValueError, match="exceeds"):
            mm.decode_tiff(bytes(blob))
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < 1 << 20, peak


def _set_tiff_long(blob: bytearray, tag: int, value: int) -> None:
    """Overwrite the inline value of a little-endian one-LONG IFD entry."""
    import struct

    idx = blob.find(struct.pack("<HHI", tag, 4, 1))
    assert idx > 0, tag
    struct.pack_into("<I", blob, idx + 8, value)


@pytest.mark.parametrize("rows_per_strip", [9 + 5, 0xFFFFFFFF])
def test_tiff_rows_per_strip_beyond_image_length_decodes(rows_per_strip):
    """RowsPerStrip may exceed ImageLength; 2**32-1 is the TIFF 6.0
    default for a one-strip image. Such single-strip files must decode
    to their input, not trip the pixel cap on width * RowsPerStrip."""
    import numpy as np

    from kinesis_stream_reader_spark.operators import multimodal as mm

    rng = np.random.RandomState(9)
    rgb = rng.randint(0, 256, (9, 21, 3)).astype(np.uint8)
    bilevel = (rng.rand(9, 21) < 0.5).astype(np.int64)
    files = [
        (mm.encode_tiff(rgb, compression=c, rows_per_strip=9), rgb)
        for c in (1, 5, 8, 32773)
    ] + [
        (
            mm.encode_tiff_bilevel(bilevel, compression=c, rows_per_strip=9),
            np.repeat(bilevel[:, :, None], 3, 2).astype(np.uint8),
        )
        for c in (1, 2, 3, 4)
    ]
    for blob, want in files:
        blob = bytearray(blob)
        _set_tiff_long(blob, 278, rows_per_strip)
        assert np.array_equal(mm.decode_tiff(bytes(blob)), want)


def test_tiff_deflate_bomb_inflates_bounded():
    """A Deflate strip that inflates to 16 MiB for a 9x21 gray image is
    cropped to the strip's size without ever inflating the rest; a
    stream cut short (also just its adler32 trailer) raises ValueError."""
    import tracemalloc
    import zlib

    import numpy as np

    from kinesis_stream_reader_spark.operators import multimodal as mm

    a = np.random.RandomState(8).randint(0, 256, (9, 21)).astype(np.uint8)
    good = mm.encode_tiff(a, compression=8, rows_per_strip=9)
    bomb = zlib.compress(bytes(16 << 20), 9)
    blob = bytearray(good) + bomb
    _set_tiff_long(blob, 273, len(good))  # StripOffsets
    _set_tiff_long(blob, 279, len(bomb))  # StripByteCounts
    tracemalloc.start()
    try:
        got = mm.decode_tiff(bytes(blob))
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < 1 << 20, peak
    assert np.array_equal(got, np.zeros((9, 21, 3), np.uint8))

    seg = zlib.compress(a.tobytes())
    for cut in (4, len(seg) // 2):  # trailer only; half the stream
        blob = bytearray(good)
        _set_tiff_long(blob, 279, len(seg) - cut)
        with pytest.raises(ValueError, match="truncated|shorter"):
            mm.decode_tiff(bytes(blob))


def test_tiff_ccitt_cross_validated_against_jdk(tmp_path):
    """The JDK ImageIO TIFF codec must read our CCITT-MH files and we
    must read its 'CCITT RLE' output, pixel-exactly — the only honest
    check on ~190 hand-entered T.4 table codes (a self-consistent
    wrong entry survives any roundtrip)."""
    import os
    import shutil
    import struct
    import subprocess

    import numpy as np
    import pytest as _pytest

    from kinesis_stream_reader_spark.operators import multimodal as mm

    java_home = os.environ.get("JAVA_HOME", "")
    javac = shutil.which("javac") or (
        os.path.join(java_home, "bin", "javac") if java_home else None
    )
    if not javac or not os.path.exists(javac):
        _pytest.skip("no JDK available for cross-validation")
    java = os.path.join(os.path.dirname(javac), "java")
    (tmp_path / "TiffBw.java").write_text(
        """
import javax.imageio.*; import javax.imageio.stream.*; import java.awt.image.*; import java.io.*;
public class TiffBw {
  public static void main(String[] a) throws Exception {
    if (a[0].equals("decode")) {
      BufferedImage img = ImageIO.read(new File(a[1]));
      if (img == null) System.exit(2);
      Raster r = img.getRaster();
      int h = img.getHeight(), w = img.getWidth();
      DataOutputStream o = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(a[2])));
      o.writeInt(h); o.writeInt(w);
      for (int y = 0; y < h; y++) for (int x = 0; x < w; x++) o.writeByte(r.getSample(x, y, 0));
      o.close();
    } else {
      DataInputStream in = new DataInputStream(new BufferedInputStream(new FileInputStream(a[1])));
      int h = in.readInt(), w = in.readInt();
      BufferedImage img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_BINARY);
      WritableRaster r = img.getRaster();
      for (int y = 0; y < h; y++) for (int x = 0; x < w; x++) r.setSample(x, y, 0, in.readByte());
      in.close();
      ImageWriter wr = ImageIO.getImageWritersByFormatName("tiff").next();
      ImageWriteParam p = wr.getDefaultWriteParam();
      p.setCompressionMode(ImageWriteParam.MODE_EXPLICIT);
      p.setCompressionType(a[3]);
      ImageOutputStream os = ImageIO.createImageOutputStream(new File(a[2]));
      wr.setOutput(os); wr.write(null, new IIOImage(img, null, null), p); os.close();
    }
  }
}
"""
    )
    subprocess.run([javac, "TiffBw.java"], check=True, cwd=tmp_path)
    rng = np.random.RandomState(71)

    def jdk_decode(blob):
        (tmp_path / "in.tif").write_bytes(blob)
        subprocess.run(
            [java, "TiffBw", "decode", "in.tif", "out.raw"],
            check=True, cwd=tmp_path,
        )
        raw = (tmp_path / "out.raw").read_bytes()
        h, w = struct.unpack(">II", raw[:8])
        return np.frombuffer(raw[8:], dtype=np.uint8).reshape(h, w)

    def jdk_encode(a, ctype):
        h, w = a.shape
        (tmp_path / "in.raw").write_bytes(
            struct.pack(">II", h, w) + a.astype(np.uint8).tobytes()
        )
        subprocess.run(
            [java, "TiffBw", "encode", "in.raw", "jdk.tif", ctype],
            check=True, cwd=tmp_path,
        )
        return (tmp_path / "jdk.tif").read_bytes()

    for h, w in [(3, 7), (13, 17), (4, 100), (2, 1730), (1, 2700)]:
        a = (rng.rand(h, w) < 0.35).astype(np.int64)  # luma: 1 = white
        for comp in (1, 2, 4):
            for be in (False, True):
                got = jdk_decode(
                    mm.encode_tiff_bilevel(a, compression=comp, big_endian=be)
                )
                assert np.array_equal(got, a), ("ours->jdk", comp, be, h, w)
    for h, w in [(5, 9), (13, 17), (3, 200), (2, 1800)]:
        a = (rng.rand(h, w) < 0.5).astype(np.int64)
        for ctype in ("CCITT RLE", "CCITT T.6", "CCITT T.4"):
            got = mm.decode_tiff(jdk_encode(a, ctype))
            assert np.array_equal(got[:, :, 0], a), ("jdk->ours", ctype, h, w)
    # ours -> JDK for T.4, guarded: the JDK's TIFFFaxDecompressor
    # crashes (AIOOBE in decodeT4) on SOME valid T.4 streams including
    # ITS OWN writer's output — a JDK decoder bug, verified by feeding
    # jdk.tif back to ImageIO. Cross-check ours only on images whose
    # own-encoding the JDK can decode.
    checked = 0
    for h, w in [(3, 7), (13, 17), (4, 100), (6, 31), (9, 57)]:
        a = (rng.rand(h, w) < 0.4).astype(np.int64)
        jdk_encode(a, "CCITT T.4")
        try:
            own = jdk_decode((tmp_path / "jdk.tif").read_bytes())
        except subprocess.CalledProcessError:
            continue
        got = jdk_decode(mm.encode_tiff_bilevel(a, compression=3))
        assert np.array_equal(got, a), ("ours->jdk T.4", h, w)
        checked += 1
    assert checked >= 3


def test_block_motion_search_recovers_known_shift():
    """A frame pair differing by a pure in-window translation must
    yield that exact vector (zero SAD) for every block; with the
    sparse brightness bump the vector survives and SAD counts exactly
    the bumped pixels."""
    import numpy as np

    from kinesis_stream_reader_spark.operators import multimodal as mm

    yy, xx = np.mgrid[0:16, 0:16]
    p1 = (13 * yy + 29 * xx) % 251
    for mx, my in [(0, 0), (1, -1), (-2, 1), (2, 1)]:
        # p2's tile content is p1 shifted, so the matching offset into
        # p1 (prev) is (-mx, -my) — valid only where the cyclic shift
        # did not wrap any pixel of the cur tile's source region
        p2 = (13 * ((yy - my) % 16) + 29 * ((xx - mx) % 16)) % 251
        for bx, by, dx, dy, sad in mm.block_motion_search(p1, p2, 8, 2):
            x0, y0 = bx * 8, by * 8
            no_wrap = (
                0 <= x0 - mx and x0 + 8 - mx <= 16
                and 0 <= y0 - my and y0 + 8 - my <= 16
            )
            if no_wrap:
                assert (dx, dy, sad) == (-mx, -my, 0), (bx, by, mx, my)
    bump = np.where((xx + yy) % 7 == 0, 3, 0)
    p2 = p1 + bump
    for bx, by, dx, dy, sad in mm.block_motion_search(p1, p2, 8, 2):
        assert (dx, dy) == (0, 0)
        assert sad == int(
            bump[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8].sum()
        )


def test_png_gray_alpha_roundtrips_and_jdk(tmp_path):
    """Color type 4 (gray+alpha) at depths 8/16: roundtrips at every
    filter and both interlace modes (alpha rides the filters, is
    dropped on decode), plus the JDK raster cross-check at both depths
    (band 0 = gray must equal our wire samples; ImageIO reads GA
    natively)."""
    import os
    import shutil
    import struct
    import subprocess

    import numpy as np
    import pytest as _pytest

    from kinesis_stream_reader_spark.operators import multimodal as mm

    rng = np.random.RandomState(89)
    for il in (False, True):
        for h, w in [(1, 1), (3, 7), (13, 17)]:
            a = rng.randint(0, 256, (h, w, 2)).astype(np.uint8)
            got = mm.decode_png(
                mm.encode_png(
                    a, filter_for_row=lambda y: y, interlace=il
                )
            )
            assert np.array_equal(got, np.repeat(a[:, :, :1], 3, 2))
            a16 = rng.randint(0, 65536, (h, w, 2)).astype(np.uint16)
            got = mm.decode_png(
                mm.encode_png(
                    a16, depth=16, filter_for_row=lambda y: y, interlace=il
                )
            )
            assert np.array_equal(got, np.repeat(a16[:, :, :1], 3, 2))

    java_home = os.environ.get("JAVA_HOME", "")
    javac = shutil.which("javac") or (
        os.path.join(java_home, "bin", "javac") if java_home else None
    )
    if not javac or not os.path.exists(javac):
        _pytest.skip("no JDK available for cross-validation")
    java = os.path.join(os.path.dirname(javac), "java")
    (tmp_path / "Raster16.java").write_text(
        """
import javax.imageio.*; import java.awt.image.*; import java.io.*;
public class Raster16 {
  public static void main(String[] a) throws Exception {
    BufferedImage img = ImageIO.read(new File(a[0]));
    if (img == null) System.exit(2);
    Raster r = img.getRaster();
    int h = img.getHeight(), w = img.getWidth(), b = r.getNumBands();
    DataOutputStream o = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(a[1])));
    o.writeInt(h); o.writeInt(w); o.writeInt(b);
    for (int y = 0; y < h; y++) for (int x = 0; x < w; x++)
      for (int c = 0; c < b; c++) o.writeInt(r.getSample(x, y, c));
    o.close();
  }
}
"""
    )
    subprocess.run([javac, "Raster16.java"], check=True, cwd=tmp_path)

    def jdk_raster(blob):
        (tmp_path / "in.png").write_bytes(blob)
        subprocess.run(
            [java, "Raster16", "in.png", "out.raw"], check=True, cwd=tmp_path
        )
        raw = (tmp_path / "out.raw").read_bytes()
        h, w, b = struct.unpack(">III", raw[:12])
        return np.frombuffer(raw[12:], dtype=">i4").reshape(h, w, b)

    for il in (False, True):
        a = rng.randint(0, 256, (11, 15, 2)).astype(np.uint8)
        got = jdk_raster(
            mm.encode_png(a, filter_for_row=lambda y: y, interlace=il)
        )
        assert np.array_equal(got, a), ("ga8", il)
        a16 = rng.randint(0, 65536, (11, 15, 2)).astype(np.uint16)
        got = jdk_raster(
            mm.encode_png(
                a16, depth=16, filter_for_row=lambda y: y, interlace=il
            )
        )
        assert np.array_equal(got, a16), ("ga16", il)


def test_ms_adpcm_known_values_and_floor_semantics():
    """The second-order prediction uses FLOOR division by 256 (an
    arithmetic shift), which differs from truncation exactly when the
    prediction is negative — pin that path, the int16 clamps, and the
    delta lower bound with a hand replay."""
    from kinesis_stream_reader_spark.operators import multimodal as mm

    # negative prediction: s1=-300, c=(256,0) -> pred = floor(-300)>>0?
    # (-300*256)>>8 = -300; with code 7 (+7*16=112) -> -188
    got = mm.ms_adpcm_decode([7], 0, 16, -300, 100)
    assert got == [-188]
    # truncation-vs-floor witness: s1=-1, coeffs (256,0): (-256)>>8=-1;
    # s1=-1 with pair (240,0): (-240)>>8 = floor(-0.9375) = -1, NOT 0
    got = mm.ms_adpcm_decode([0], 4, 16, -1, 0)
    assert got == [-1]
    # clamps + delta floor at 16: huge positive code run saturates
    got = mm.ms_adpcm_decode([7] * 40, 0, 30000, 0, 0)
    assert max(got) == 32767
    # adaptation lower bound: code 0 shrinks delta (230/256) to >= 16
    pcm = mm.ms_adpcm_decode([0] * 50 + [7], 2, 16, 0, 0)  # coeffs (0,0)
    assert pcm[-1] == 7 * 16  # delta pinned at its floor of 16


def test_gif_animated_compositing_and_gates():
    """Disposal semantics pinned with a hand replay (paint, show,
    dispose-2 erases ONLY the frame's own rectangle); transparency and
    disposal 3 raise clear gates; single-frame decode_gif still reads
    the first frame of an animation payload's image block."""
    import numpy as np
    import pytest as _pytest

    from kinesis_stream_reader_spark.operators import multimodal as mm

    w, h = 11, 8
    rng = np.random.RandomState(101)
    frames_in = []
    for f in range(4):
        left, top = (5 + f) % 4, f % 3
        fw, fh = w - 4, h - 3
        idx = rng.randint(0, 256, fw * fh)
        frames_in.append(
            (left, top, fw, fh, idx.astype(np.int64), 1 if f % 2 else 2)
        )
    outs = mm.decode_gif_animated(mm.encode_gif_animated(frames_in, w, h))
    pal = np.frombuffer(mm._gif_palette(), dtype=np.uint8).reshape(256, 3)
    canvas = np.zeros((h, w), np.int64)
    for f, (left, top, fw, fh, idx, disp) in enumerate(frames_in):
        canvas[top : top + fh, left : left + fw] = idx.reshape(fh, fw)
        assert np.array_equal(outs[f], pal[canvas]), f
        if disp == 2:
            canvas[top : top + fh, left : left + fw] = 0
    # gates
    blob = bytearray(mm.encode_gif_animated(frames_in[:1], w, h))
    gce = blob.index(b"\x21\xf9")
    blob[gce + 3] |= 1  # transparency flag
    with _pytest.raises(NotImplementedError, match="transparency"):
        mm.decode_gif_animated(bytes(blob))
    blob[gce + 3] = 3 << 2  # disposal 3
    with _pytest.raises(NotImplementedError, match="disposal"):
        mm.decode_gif_animated(bytes(blob))


def test_tiff_gray16_roundtrip_all_compressions():
    import numpy as np

    from kinesis_stream_reader_spark.operators import multimodal as mm

    rng = np.random.RandomState(16)
    for comp in (1, 5, 8, 32773):
        for be in (False, True):
            for h, w in [(1, 1), (5, 9), (13, 4), (16, 16)]:
                a = rng.randint(0, 65536, (h, w), dtype=np.uint16)
                got = mm.decode_tiff(
                    mm.encode_tiff(
                        a, compression=comp, big_endian=be, rows_per_strip=3, depth=16
                    )
                )
                assert got.dtype == np.uint16
                assert np.array_equal(got[:, :, 0], a), (comp, be, h, w)
                assert np.array_equal(got[:, :, 1], got[:, :, 2])


def test_tiff_gray16_cross_validated_against_jdk_imageio(tmp_path):
    """The JDK's ImageIO TIFF codec must read our 16-bit gray files
    sample-exactly and we must read its — raster access, because
    getRGB truncates 16-bit samples (the round-8 PNG16 lesson)."""
    import shutil
    import struct
    import subprocess

    import numpy as np
    import pytest as _pytest

    from kinesis_stream_reader_spark.operators import multimodal as mm

    java_home = os.environ.get("JAVA_HOME", "")
    javac = shutil.which("javac") or (
        os.path.join(java_home, "bin", "javac") if java_home else None
    )
    if not javac or not os.path.exists(javac):
        _pytest.skip("no JDK available for cross-validation")
    java = os.path.join(os.path.dirname(javac), "java")
    src = tmp_path / "Tiff16Tool.java"
    src.write_text(
        """
import javax.imageio.*; import javax.imageio.stream.*;
import java.awt.image.*; import java.io.*;
public class Tiff16Tool {
  public static void main(String[] a) throws Exception {
    if (a[0].equals("decode")) {
      BufferedImage img = ImageIO.read(new File(a[1]));
      if (img == null) System.exit(2);
      Raster r = img.getRaster();
      DataOutputStream o = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(a[2])));
      o.writeInt(img.getHeight()); o.writeInt(img.getWidth());
      for (int y = 0; y < img.getHeight(); y++) for (int x = 0; x < img.getWidth(); x++)
        o.writeShort(r.getSample(x, y, 0));
      o.close();
    } else {
      DataInputStream in = new DataInputStream(new BufferedInputStream(new FileInputStream(a[1])));
      int h = in.readInt(), w = in.readInt();
      BufferedImage img = new BufferedImage(w, h, BufferedImage.TYPE_USHORT_GRAY);
      WritableRaster r = img.getRaster();
      for (int y = 0; y < h; y++) for (int x = 0; x < w; x++)
        r.setSample(x, y, 0, in.readUnsignedShort());
      in.close();
      ImageWriter wr = ImageIO.getImageWritersByFormatName("tiff").next();
      ImageWriteParam p = wr.getDefaultWriteParam();
      p.setCompressionMode(ImageWriteParam.MODE_EXPLICIT);
      p.setCompressionType(a[3]);
      ImageOutputStream ios = ImageIO.createImageOutputStream(new File(a[2]));
      wr.setOutput(ios); wr.write(null, new IIOImage(img, null, null), p); ios.close();
    }
  }
}
"""
    )
    subprocess.run([javac, str(src)], check=True, cwd=tmp_path)
    rng = np.random.RandomState(23)
    arr = rng.randint(0, 65536, (40, 33), dtype=np.uint16)

    # ours -> JDK
    for comp in (1, 5, 8, 32773):
        for be in (False, True):
            (tmp_path / "ours.tif").write_bytes(
                mm.encode_tiff(
                    arr, compression=comp, big_endian=be, rows_per_strip=7, depth=16
                )
            )
            subprocess.run(
                [java, "Tiff16Tool", "decode", "ours.tif", "out.raw"],
                check=True, cwd=tmp_path,
            )
            raw = (tmp_path / "out.raw").read_bytes()
            h, w = struct.unpack(">II", raw[:8])
            got = np.frombuffer(raw[8:], dtype=">u2").reshape(h, w)
            assert np.array_equal(got, arr), (comp, be)

    # JDK -> ours
    raw = struct.pack(">II", *arr.shape) + arr.astype(">u2").tobytes()
    (tmp_path / "in.raw").write_bytes(raw)
    for cname in ("LZW", "Deflate", "PackBits"):
        subprocess.run(
            [java, "Tiff16Tool", "encode", "in.raw", "jdk.tif", cname],
            check=True, cwd=tmp_path,
        )
        got = mm.decode_tiff((tmp_path / "jdk.tif").read_bytes())
        assert got.dtype == np.uint16
        assert np.array_equal(got[:, :, 0], arr), cname


def test_tiff_rgb16_roundtrip_all_compressions():
    import numpy as np

    from kinesis_stream_reader_spark.operators import multimodal as mm

    rng = np.random.RandomState(61)
    for comp in (1, 5, 8, 32773):
        for be in (False, True):
            for h, w in [(1, 1), (5, 9), (16, 12)]:
                a = rng.randint(0, 65536, (h, w, 3), dtype=np.uint16)
                got = mm.decode_tiff(
                    mm.encode_tiff(
                        a, compression=comp, big_endian=be, rows_per_strip=3, depth=16
                    )
                )
                assert got.dtype == np.uint16
                assert np.array_equal(got, a), (comp, be, h, w)


def test_jpeg12_roundtrip_and_gates():
    """12-bit extended sequential: DC-only blocks land exactly on
    dc + 2048 at full 12-bit range (uint16 out, restarts included);
    12-bit progressive and 12-bit color stay gated."""
    import numpy as np
    import pytest as _pytest

    from kinesis_stream_reader_spark.operators import multimodal as mm

    q = [8, 1] + [16] * 62
    for d in range(6):
        w, h = 8 * (2 + d % 3), 8 * (2 + d % 2)
        nb = (w // 8) * (h // 8)
        blocks, want = [], np.zeros((h, w), np.int64)
        for b in range(nb):
            dc = (d * 19 + 29 * b) % 3800 - 1900
            zz = [0] * 64
            zz[0] = dc
            if (d + b) % 3 == 0:
                zz[1] = 1
            blocks.append(zz)
            by, bx = divmod(b, w // 8)
            want[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = dc + 2048
        got = mm.decode_jpeg(
            mm.encode_jpeg12_gray(
                w, h, blocks, q, restart_interval=2 if d % 2 == 0 else 0
            )
        )
        assert got.dtype == np.uint16
        assert np.array_equal(got[:, :, 0].astype(np.int64), want), d
    # gate: 12-bit 3-component must raise, not mis-decode
    blob = bytearray(mm.encode_jpeg12_gray(8, 8, [[0] * 64], q))
    sof = blob.find(b"\xff\xc1")
    blob[sof + 9] = 3  # claim 3 components
    with _pytest.raises(NotImplementedError):
        mm.decode_jpeg(bytes(blob))


def test_jpeg_lossless_roundtrip_matrix():
    """SOF3: every precision x predictor x restart x scan layout decodes
    to the EXACT source samples (the format's defining property). The
    RGB layouts — one interleaved scan, one scan per component, and
    partially interleaved groups in both orders (the B-first grouping
    catches an assembler that assumes scan order == component order) —
    decode pixel-identically to each other, 16-bit samples as uint16;
    the scan groups must cover each component once."""
    import numpy as np

    from kinesis_stream_reader_spark.operators import multimodal as mm

    rng = np.random.RandomState(33)
    layouts = (
        ((0,), (1,), (2,)),
        ((1,), (0,), (2,)),
        ((0, 1), (2,)),
        ((2,), (0, 1)),
    )
    for P in (8, 12, 16):
        for pred in range(1, 8):
            a = rng.randint(0, 1 << P, (9, 7)).astype(np.int64)
            rgb = rng.randint(0, 1 << P, (6, 7, 3)).astype(np.int64)
            for ri in (0, 4, 5):
                kw = dict(predictor=pred, restart_interval=ri)
                got = mm.decode_jpeg(mm.encode_jpeg_lossless(a, P, **kw))
                assert np.array_equal(
                    got[:, :, 0].astype(np.int64), a
                ), (P, pred, ri)
                ref = mm.decode_jpeg(mm.encode_jpeg_lossless(rgb, P, **kw))
                assert np.array_equal(ref.astype(np.int64), rgb), (P, pred, ri)
                if P == 16:
                    assert ref.dtype == np.uint16
                for groups in layouts:
                    dec = mm.decode_jpeg(
                        mm.encode_jpeg_lossless(rgb, P, scan_groups=groups, **kw)
                    )
                    assert dec.dtype == ref.dtype
                    assert np.array_equal(dec, ref), (P, pred, ri, groups)
    for bad in (((0, 1),), ((0, 1), (1, 2)), ((0,), (1,), (2,), (3,))):
        with pytest.raises(ValueError, match="cover each component once"):
            mm.encode_jpeg_lossless(rgb, 8, scan_groups=bad)


def test_decoders_fail_cleanly_on_truncation_and_bitflips():
    """Robustness sweep (round 10): at 100 TB corrupt media is a
    certainty — every decoder must raise a clean Python exception on
    truncated or bit-flipped wire, never hang, loop, or return
    silently wrong shapes. Each decoder gets a VALID blob, then every
    truncation at 16 byte-positions and a deterministic bit-flip
    sweep; the only acceptable outcomes are a normal decode (a flip
    may land in an ignorable byte) or ValueError /
    NotImplementedError / EOFError-family errors within a bounded
    walltime (the suite's own timeout is the hang detector)."""
    import zlib as _zlib

    import numpy as np

    from kinesis_stream_reader_spark.operators import multimodal as mm

    rng = np.random.RandomState(77)
    g8 = rng.randint(0, 256, (8, 9), dtype=np.uint8)
    rgb8 = rng.randint(0, 256, (8, 9, 3), dtype=np.uint8)
    g16 = rng.randint(0, 65536, (8, 9), dtype=np.uint16)

    q12 = [8, 1] + [16] * 62
    blocks12 = []
    for b in range(2):
        zz = [0] * 64
        zz[0] = 100 * b - 50
        blocks12.append(zz)

    cases = [
        ("png", mm.decode_png, mm.encode_png(rgb8)),
        ("bmp", mm.decode_bmp, mm.encode_bmp(rgb8)),
        ("tiff_lzw", mm.decode_tiff, mm.encode_tiff(rgb8, compression=5)),
        ("tiff16", mm.decode_tiff, mm.encode_tiff(g16, compression=8, depth=16)),
        ("qoi", mm.decode_qoi, mm.encode_qoi(rgb8)),
        ("jpeg12", mm.decode_jpeg, mm.encode_jpeg12_gray(16, 8, blocks12, q12)),
        (
            "jpeg_lossless",
            mm.decode_jpeg,
            mm.encode_jpeg_lossless(g16.astype(np.int64), 16, predictor=4),
        ),
        ("gif", mm.decode_gif, mm.encode_gif((g8 % 4).reshape(-1).tolist(), 9, 8)),
        (
            "wav",
            mm.decode_wav,
            mm.encode_wav((np.arange(64) * 371 % 65536 - 32768).astype(np.int16)),
        ),
        (
            "aiff",
            mm.decode_aiff,
            mm.encode_aiff((np.arange(64) * 371 % 65536 - 32768).astype(np.int16)),
        ),
        (
            "flac",
            mm.decode_flac,
            mm.encode_flac(
                [(np.arange(64) * 371 % 65536 - 32768).astype(np.int64).tolist()]
            ),
        ),
    ]
    ok_errors = (
        ValueError,
        NotImplementedError,
        IndexError,
        struct_error := __import__("struct").error,
        KeyError,
        EOFError,
        _zlib.error,
    )
    for name, dec, blob in cases:
        dec(blob)  # the pristine blob must decode
        for cut in range(1, 17):
            t = blob[: max(2, len(blob) - cut * max(1, len(blob) // 20))]
            try:
                dec(t)
            except ok_errors:
                pass
        for i in range(0, len(blob), max(1, len(blob) // 24)):
            f = bytearray(blob)
            f[i] ^= 0x55
            try:
                dec(bytes(f))
            except ok_errors:
                pass


# sha256 per encoder family over _codec_fixture_digests' grid, taken
# from the per-variant encoders the merged ones replaced.
CODEC_FIXTURE_SHA256 = {
    "tiff-rgb8": (
        "797b83b3dc026b94e527996408cb32fd1c57681ffb95120a1e61d6e35ba4ea5a"
    ),
    "tiff-gray8": (
        "b2f8f37fece4cb7c93d4294939bb5a91e59d6b8b83acd51f5cc8aac7d859fb5a"
    ),
    "tiff-gray16": (
        "340d953ef300f1451bc4ab960f483156339c2a526f35b5bc891f403408ea667d"
    ),
    # the one family whose bytes changed: 16-bit RGB now writes
    # PlanarConfiguration (tag 284) like 8-bit RGB (decoded pixels are
    # unchanged); the per-variant encoder's digest was
    # 59dd9711716dc36c942210128a5d0f5060aade5511dd68520605aabb317a780b
    "tiff-rgb16": (
        "9dfd98aa3e7a64ada09d8a2e7865d18b80593e9f2704bbd382b0e061fed0c34f"
    ),
    "tiff-bilevel": (
        "346c154fc971f2c1e4ec42300271b002f7084d3d473aa5d47657feff2793adce"
    ),
    "png-gray1": (
        "c03921aa8dd0d949fe418b5874b3e57566501108dc4f461cd83c908c6fc733d1"
    ),
    "png-gray2": (
        "3813f32be90825a2964f0c7dc88a44e32bba579f5f3e38daf6be76729105b23b"
    ),
    "png-gray4": (
        "a54f1dccf88330a0cf0d8e5f5d30a7133461ae19e925de1e0dd400f7441a87c8"
    ),
    "png-gray8": (
        "4fec0587b426fc0c10688ddbc8295926894e0bb0892b4a0a76502766586dd427"
    ),
    "png-gray16": (
        "0c60102ca5f5aa09ce6bfc5d3a69a840a1578bd77c0e8990ba25a324893e7313"
    ),
    "png-ga8": (
        "5892973e6b5e2b00acd9f1ddbc1446a8d2403ba91b1ac78188450bff2d0cceea"
    ),
    "png-rgb8": (
        "3903cd9427db09016cc7a59f6b3e7cb8c107e863049032bed613b6a9cf5493df"
    ),
    "png-rgba8": (
        "52b0dfaec11c3d48913f9ba3d792384958b277d2a8af90c4e833353d41763fe6"
    ),
    "png-ga16": (
        "04baa6816ad3827447ba957003f308070da82ee2720aca54d9798ef1797a3368"
    ),
    "png-rgb16": (
        "aa58c66f6856d812a7e0e3973e479086488719167e55e230c859689da2d145ad"
    ),
    "png-rgba16": (
        "0367ceca17522b689c832a3930619eb261276319a31d75b75a78b06f61439880"
    ),
    "png-pal1": (
        "c11644d273070aafe9f1fd63bd3f08322aeaa327b7f0a80487fa12ad3179bd01"
    ),
    "png-pal2": (
        "a0364c3c31c9ec02ab54021ef35fef20d8f33b45ab2f6c901cb857d8a722734b"
    ),
    "png-pal4": (
        "982f197fca1d27fed44f9eeebeb684a3b9266a881c46c25f2ebeac890177209f"
    ),
    "png-pal8": (
        "ccdf1ca22a71c3be07babef0f6b80add1e1d992c9b5d0ce0d087d6857f95ec89"
    ),
    "jpegll-gray": (
        "ccf1c80ece5229d762e5c2117178cafa99b89b8b217750867dd4ddcebfa39416"
    ),
    "jpegll-interleaved": (
        "d20bafcc690e8808e18dd024967ec1a9229ac66585adcc583893102821511fbd"
    ),
    "jpegll-per-component": (
        "274f527106ae03c980edfb1e479fe22f7e9f61c83c86e4c9cb14663f891f1cfc"
    ),
    "jpegll-partial": (
        "87ebc67d587335cf03c82b554ba5f1e87caadab9de94100bc00e17bc30d6e70f"
    ),
    "jpeg-baseline": (
        "9b29fb91083fd5d6125c95caa9b44c1335d227b528703014b34a960535f91972"
    ),
    "jpeg12": (
        "843912dc26eb0f0a2ad727923423aa66471cf5a962dfd2c139073c976468e0b3"
    ),
    "jpeg-progressive": (
        "17dba4f90c737db4e5643fabb4d8c4cd58dfb98d9ae2b968c2e3f95bc41c3260"
    ),
}


def _codec_fixture_digests(mm):
    """{encoder family: sha256 over its outputs on a fixed, seeded grid
    of inputs and parameters}; `mm` is the module holding the encoders."""
    import functools
    import hashlib

    import numpy as np

    rng = np.random.RandomState(4172)
    digests = {}

    def add(family, blob):
        digests.setdefault(family, hashlib.sha256()).update(
            hashlib.sha256(blob).digest()
        )

    def image(shape, hi):
        a = rng.randint(0, hi, shape)
        a[: shape[0] // 2, :5] = hi // 3  # a flat run for RLE/LZW
        return a

    # TIFF: compression x byte order x layout, per depth / channel count
    rgb_layouts = (
        dict(rows_per_strip=4),
        dict(rows_per_strip=64),
        dict(rows_per_strip=3, planar=True),
        dict(tile=(16, 16)),
        dict(tile=(32, 32)),
        dict(tile=(16, 16), planar=True),
    )
    strip_layouts = (dict(rows_per_strip=4), dict(rows_per_strip=64))
    tiff_images = (
        ("tiff-rgb8", image((19, 21, 3), 256).astype(np.uint8), 8, rgb_layouts),
        ("tiff-gray8", image((19, 21), 256).astype(np.uint8), 8, strip_layouts),
        ("tiff-gray16", image((19, 21), 65536).astype(np.uint16), 16, strip_layouts),
        ("tiff-rgb16", image((19, 21, 3), 65536).astype(np.uint16), 16, strip_layouts),
    )
    for family, arr, depth, layouts in tiff_images:
        for comp in (1, 5, 8, 32773):
            for be in (False, True):
                for kw in layouts:
                    add(family, mm.encode_tiff(
                        arr, compression=comp, big_endian=be, depth=depth, **kw
                    ))
    bits = (image((13, 37), 2) > 0).astype(np.int64)
    for comp in (1, 2, 3, 4):
        for be in (False, True):
            for rps in (3, 64):
                add("tiff-bilevel", mm.encode_tiff_bilevel(
                    bits, compression=comp, big_endian=be, rows_per_strip=rps
                ))

    # PNG: color type x depth x filter x interlace, two sizes (the 3x2
    # image leaves some Adam7 passes empty)
    png_cases = []
    for d in (1, 2, 4, 8, 16):
        png_cases.append((f"png-gray{d}", (), d, None))
    for d in (8, 16):
        for ch, name in ((2, "ga"), (3, "rgb"), (4, "rgba")):
            png_cases.append((f"png-{name}{d}", (ch,), d, None))
    pal = rng.randint(0, 256, (256, 3)).astype(np.uint8)
    for d in (1, 2, 4, 8):
        png_cases.append((f"png-pal{d}", (), d, pal[: 1 << d]))
    filters = (None, 0, 1, 2, 3, 4, "cycle")
    for family, chans, depth, palette in png_cases:
        for h, w in ((11, 13), (2, 3)):
            arr = image((h, w) + chans, 1 << depth)
            if palette is None:
                arr = arr.astype(np.uint16 if depth == 16 else np.uint8)
            for ft in filters:
                ffr = None if ft is None else (
                    (lambda y: y) if ft == "cycle" else (lambda y, f=ft: f)
                )
                for il in (False, True):
                    add(family, mm.encode_png(
                        arr, depth=depth, palette=palette,
                        filter_for_row=ffr, interlace=il,
                    ))

    # lossless JPEG: precision x predictor x restart x scan layout
    layouts = (
        ("jpegll-gray", 2, None),
        ("jpegll-interleaved", 3, None),
        ("jpegll-per-component", 3, ((0,), (1,), (2,))),
        ("jpegll-partial", 3, ((0, 1), (2,))),
        ("jpegll-partial", 3, ((2,), (0, 1))),
    )
    for P in (8, 12, 16):
        for pred in range(1, 8):
            for ri in (0, 5):
                for family, ndim, groups in layouts:
                    shape = (6, 7) if ndim == 2 else (6, 7, 3)
                    add(family, mm.encode_jpeg_lossless(
                        image(shape, 1 << P), P, predictor=pred,
                        restart_interval=ri, scan_groups=groups,
                    ))

    # baseline / 12-bit / progressive JPEG from quantized zigzag blocks
    def blocks(n, dc_span, ac, draw):
        out = []
        for _ in range(n):
            zz = [0] * 64
            zz[0] = int(rng.randint(-dc_span, dc_span))
            for k in ac:
                zz[k] = int(draw())
            out.append(zz)
        return out

    # the fixture AC tables: baseline codes +-1 after runs of 0 or 1 (mod
    # 16, ZRL between); progressive any run, |coefficient| <= 3
    base_ac = (1, 3, 20, 38)  # runs 0, 1, 16 (ZRL + 0) and 17 (ZRL + 1)
    unit = functools.partial(rng.choice, [-1, 1])
    small = functools.partial(rng.randint, -3, 4)
    qt8 = [int(q) for q in rng.randint(1, 256, 64)]
    qt12 = [int(q) for q in rng.randint(1, 4096, 64)]
    for ri in (0, 2):
        add("jpeg-baseline", mm.encode_jpeg_blocks(
            12, 16, [blocks(4, 1000, base_ac, unit) for _ in range(3)],
            [qt8, qt8], restart_interval=ri,
        ))
        add("jpeg-baseline", mm.encode_jpeg_blocks(
            24, 8, [blocks(3, 1000, base_ac, unit)], [qt8], comp_quant=(0,),
            restart_interval=ri,
        ))
        add("jpeg12", mm.encode_jpeg12_gray(
            20, 12, blocks(6, 16000, base_ac, unit), qt12, restart_interval=ri
        ))
        add("jpeg-progressive", mm.encode_jpeg_progressive(
            16, 16, [blocks(4, 500, range(1, 64, 7), small) for _ in range(3)],
            [qt8, qt8], restart_interval=ri,
        ))
    return {k: v.hexdigest() for k, v in digests.items()}


def test_codec_fixture_bytes_pinned():
    """The merged TIFF / PNG / lossless-JPEG encoders and the shared
    JPEG block coder write the same bytes as the per-variant encoders
    they replaced, over every compression, byte order, strip/tile/
    planar layout, depth, CCITT mode, color type, filter, interlace,
    predictor, restart interval and scan layout in the grid."""
    got = _codec_fixture_digests(multimodal)
    assert {k: v for k, v in got.items() if v != CODEC_FIXTURE_SHA256[k]} == {}
    assert set(got) == set(CODEC_FIXTURE_SHA256)


def test_decode_tiff_rejects_inconsistent_segment_tables():
    """A StripByteCounts / TileByteCounts array with fewer entries than
    its offsets array must fail loudly in every layout — tiled, planar,
    stripped, 16-bit and bilevel — never decode a partly zero image or
    a short one; so must a zero RowsPerStrip or tile size."""
    import struct

    import numpy as np

    from kinesis_stream_reader_spark.operators import multimodal as mm

    def patched(blob: bytes, tag: int, value=None) -> bytes:
        """`tag` rewritten to one inline entry: `value`, or by default
        the first entry of its array (little-endian files)."""
        out = bytearray(blob)
        (ifd,) = struct.unpack_from("<I", out, 4)
        (n,) = struct.unpack_from("<H", out, ifd)
        for i in range(n):
            at = ifd + 2 + 12 * i
            t, typ, count, v = struct.unpack_from("<HHII", out, at)
            if t == tag:
                if value is None:
                    value = struct.unpack_from("<I", out, v)[0] if count > 1 else v
                if typ == 3:  # SHORT, left-justified in the value slot
                    struct.pack_into("<IHH", out, at + 4, 1, value, 0)
                else:
                    struct.pack_into("<II", out, at + 4, 1, value)
                return bytes(out)
        raise AssertionError(f"tag {tag} not found")

    rng = np.random.RandomState(9)
    rgb = rng.randint(0, 256, (32, 32, 3)).astype(np.uint8)
    bits = rng.randint(0, 2, (12, 20))
    cases = [
        (rgb, mm.encode_tiff(rgb, tile=(16, 16)), 325),
        (rgb, mm.encode_tiff(rgb, tile=(16, 16), planar=True, compression=8), 325),
        (rgb, mm.encode_tiff(rgb, rows_per_strip=4), 279),
        (rgb, mm.encode_tiff(rgb, rows_per_strip=4, planar=True), 279),
        (rgb[:, :, :1], mm.encode_tiff(rgb[:, :, 0], depth=16, compression=5), 279),
    ] + [
        (
            bits[:, :, None],
            mm.encode_tiff_bilevel(bits, compression=c, rows_per_strip=3),
            279,
        )
        for c in (1, 2, 3, 4)
    ]
    for want, blob, tag in cases:
        got = mm.decode_tiff(blob)
        assert np.array_equal(got, np.broadcast_to(want, got.shape))
        with pytest.raises(ValueError, match="byte counts do not match"):
            mm.decode_tiff(patched(blob, tag))
    for blob, tag in ((cases[0][1], 322), (cases[2][1], 278), (cases[-1][1], 278)):
        with pytest.raises(ValueError, match="dimensions must be positive"):
            mm.decode_tiff(patched(blob, tag, 0))
