"""Multimodal tests: binary columns, Arrow batch featurize, frame-sample
explode shape, and the REAL stdlib decode tier (operators/media.py)."""

from __future__ import annotations

import hashlib

import pytest

from etl_project_gcp_spark.operators import multimodal as MM


def test_extract_media_meta_schema_and_values(spark):
    df = spark.createDataFrame([(1, "hello"), (2, ""), (3, "wörld")], ["id", "txt"])
    out = MM.extract_media_meta(MM.attach_binary(df, "txt"), "id", "content").collect()
    by_id = {r.id: r for r in out}
    assert by_id[1].n_bytes == 5
    assert by_id[1].sha256 == hashlib.sha256(b"hello").hexdigest()
    assert by_id[2].n_bytes == 0 and by_id[2].format == "empty"
    assert by_id[3].n_bytes == len("wörld".encode())  # utf-8 aware
    assert by_id[1].format in ("jpeg", "png", "webp")
    assert by_id[1].width > 0 and by_id[1].height > 0


def test_decode_stub_off_raises_for_undecodable_format(spark):
    df = spark.createDataFrame([(1, "x")], ["id", "txt"])
    meta = MM.extract_media_meta(
        MM.attach_binary(df, "txt"), "id", "content", decode_stub=False
    )
    with pytest.raises(Exception, match="NotImplementedError|no stdlib decoder"):
        meta.collect()


def test_frame_sample_plan_shape(spark):
    df = spark.createDataFrame([(1, "a" * 450)], ["id", "txt"])
    rows = MM.frame_sample_plan(
        MM.attach_binary(df, "txt"), "id", "content", every_n=2
    ).collect()
    # 450 bytes -> 5 fake frames -> sampled indices 0,2,4
    assert [r.frame_index for r in rows] == [0, 2, 4]
    assert all(r.payload_sha256 == hashlib.sha256(b"a" * 450).hexdigest() for r in rows)


def test_resize_images_schema_and_determinism(spark):
    df = spark.createDataFrame([(1, "payload-one"), (2, "")], ["id", "txt"])
    out = MM.resize_images(
        MM.attach_binary(df, "txt"), target_w=64, target_h=32
    )
    assert [f.simpleString() for f in out.schema.fields] == [
        "id:bigint", "resized:binary", "width:int", "height:int",
    ]
    rows = {r.id: r for r in out.collect()}
    assert rows[1].width == 64 and rows[1].height == 32
    assert len(bytes(rows[1].resized)) == (64 * 32) // 64
    assert bytes(rows[2].resized) == b""
    # deterministic across runs
    again = {r.id: bytes(r.resized) for r in out.collect()}
    assert again[1] == bytes(rows[1].resized)


def test_extract_features_feeds_vector_topk(spark):
    """The multimodal→similarity handoff: stub embeddings from binary
    payloads flow into the vector operators unchanged."""
    from etl_project_gcp_spark.operators import vector as VX

    docs = spark.createDataFrame(
        [(i, f"payload-{i % 4}") for i in range(20)], ["id", "txt"]
    )
    emb = MM.extract_features(MM.attach_binary(docs, "txt"), dim=16)
    assert dict(emb.dtypes)["embedding"] == "array<float>"
    # unit-norm stub vectors
    import math

    v = emb.filter("id = 0").collect()[0].embedding
    assert math.isclose(sum(x * x for x in v), 1.0, rel_tol=1e-5)
    topk = VX.brute_force_topk(
        emb, emb.filter("id < 2"), k=3, id_col="id", vec_col="embedding"
    ).collect()
    assert len(topk) == 2 * 3
    # id 0 and id 4 share payload "payload-0" -> identical stub vectors,
    # so the top neighbor of query 0 is an exact match at cosine 1.0
    top0 = [r for r in topk if r.query_id == 0 and r.rk == 1][0]
    assert top0.cosine == 1.0 and top0.neighbor_id in (4, 8, 12, 16)


# --- Real stdlib decode tier ----------------------------------------------


def test_png_codec_roundtrip_and_foreign_filters():
    """png_encode → png_decode is pixel-exact, and the decoder reverses
    Sub/Up/Average/Paeth filtered scanlines it did not itself produce."""
    import struct
    import zlib

    from etl_project_gcp_spark.operators import media as M

    px = [[(x * 7 % 256, y * 11 % 256, (x + y) % 256) for x in range(13)]
          for y in range(9)]
    b = M.png_encode(px)
    w, h, rows = M.png_decode(b)
    assert (w, h) == (13, 9) and rows == px
    assert M.png_meta(b) == (13, 9)
    assert M.sniff_format(b) == "png"

    # hand-built 3x5 PNG using every filter type once
    width, height = 3, 5
    base = [bytes((x * 37 + y * 11 + c) % 256 for x in range(width)
                  for c in range(3)) for y in range(height)]
    def sub(line, prev):    # noqa: E306
        out = bytearray(line)
        for i in range(3, len(out)):
            out[i] = (line[i] - line[i - 3]) & 0xFF
        return bytes(out)
    def up(line, prev):
        return bytes((line[i] - prev[i]) & 0xFF for i in range(len(line)))
    def avg(line, prev):
        return bytes((line[i] - ((line[i - 3] if i >= 3 else 0) + prev[i]) // 2)
                     & 0xFF for i in range(len(line)))
    def paeth(line, prev):
        out = bytearray()
        for i in range(len(line)):
            a = line[i - 3] if i >= 3 else 0
            c = prev[i - 3] if i >= 3 else 0
            out.append((line[i] - M._paeth(a, prev[i], c)) & 0xFF)
        return bytes(out)
    filters = [(0, lambda l, p: l), (1, sub), (2, up), (3, avg), (4, paeth)]
    raw = bytearray()
    prev = bytes(width * 3)
    for y, (ftype, fn) in zip(range(height), filters):
        raw.append(ftype)
        raw += fn(base[y], prev)
        prev = base[y]
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    foreign = (M._PNG_SIG + M._chunk(b"IHDR", ihdr)
               + M._chunk(b"IDAT", zlib.compress(bytes(raw)))
               + M._chunk(b"IEND", b""))
    w2, h2, rows2 = M.png_decode(foreign)
    expect = [[tuple(base[y][x * 3:x * 3 + 3]) for x in range(width)]
              for y in range(height)]
    assert (w2, h2) == (width, height) and rows2 == expect


def test_png_resize_nearest_samples_real_pixels():
    from etl_project_gcp_spark.operators import media as M

    px = [[(x, y, 0) for x in range(8)] for y in range(4)]
    out = M.png_resize_nearest(M.png_encode(px), 4, 2)
    w, h, rows = M.png_decode(out)
    assert (w, h) == (4, 2)
    assert rows[0][0] == (0, 0, 0) and rows[1][3] == (6, 2, 0)


def test_wav_codec_roundtrip():
    from etl_project_gcp_spark.operators import media as M

    b = M.wav_encode(b"\x00\x01" * 500, n_channels=2, sampwidth=2, framerate=16000)
    assert M.wav_meta(b) == (2, 2, 16000, 250)
    assert M.sniff_format(b) == "wav"


def test_real_decode_tier_on_synthesized_media(spark):
    """synthesize_media emits payloads the real decoders open: PNG dims
    and WAV headers match the id formulas, and extract_media_meta with
    decode_stub=False reports them."""
    ids = spark.createDataFrame([(i,) for i in range(6)], ["doc_id"])
    png = MM.synthesize_media(ids, "doc_id", kind="png")
    meta = {r.id: r for r in MM.extract_media_meta(
        png, "id", "content", decode_stub=False).collect()}
    for i in range(6):
        assert meta[i].format == "png"
        assert meta[i].width == 8 + i % 13 and meta[i].height == 8 + i % 7

    wav = MM.synthesize_media(ids, "doc_id", kind="wav")
    wmeta = {r.id: r for r in MM.wav_meta_table(wav).collect()}
    for i in range(6):
        assert wmeta[i].n_channels == 1 + i % 2
        assert wmeta[i].sample_rate == 8000 + 1000 * (i % 3)
        assert wmeta[i].n_frames == 100 + i % 50


def test_real_resize_roundtrip_meta(spark):
    ids = spark.createDataFrame([(3,), (10,)], ["doc_id"])
    media = MM.synthesize_media(ids, "doc_id", kind="png")
    out = {r.id: r for r in MM.png_roundtrip_meta(media, 16, 16).collect()}
    assert out[3].orig_w == 11 and out[3].orig_h == 11
    assert out[10].orig_w == 18 and out[10].orig_h == 11
    assert all(r.res_w == 16 and r.res_h == 16 for r in out.values())


def test_real_features_are_content_sensitive(spark):
    """Two different images must embed differently; identical images
    identically — the features come from decoded pixels, not digests."""
    ids = spark.createDataFrame([(1,), (1,), (2,)], ["doc_id"])
    media = MM.synthesize_media(ids, "doc_id", kind="png")
    vecs = [r.embedding for r in MM.extract_features(
        media, dim=16, decode_stub=False).collect()]
    assert len(vecs) == 3
    same = [v for v in vecs if vecs.count(v) >= 2]
    assert same, "identical payloads must produce identical embeddings"
    assert any(v != same[0] for v in vecs), "distinct payloads must differ"
    for v in vecs:
        assert abs(sum(x * x for x in v) - 1.0) < 1e-5  # unit norm


def test_read_binary_dir_glob_recursive_and_length_pushdown(spark, tmp_path):
    """The real-file ingest source: pathGlobFilter skips non-matching
    files at the SOURCE, recursiveFileLookup walks sharded subdirs,
    and a length predicate reaches the scan's PushedFilters (the
    oversized-blob guard costs no byte of content I/O)."""
    from etl_project_gcp_spark.operators import media as M
    from etl_project_gcp_spark.sources.readers import read_binary_dir

    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    png = M.png_encode([[(1, 2, 3), (4, 5, 6)]])
    (tmp_path / "a" / "x.png").write_bytes(png)
    (tmp_path / "b" / "y.png").write_bytes(png + b"\x00" * 4096)
    (tmp_path / "a" / "junk.txt").write_text("not a png")

    flat = read_binary_dir(spark, str(tmp_path / "a"), glob="*.png")
    assert [r.path.rsplit("/", 1)[-1] for r in flat.collect()] == ["x.png"]
    assert set(flat.columns) == {
        "path", "modificationTime", "length", "content"
    }

    rec = read_binary_dir(spark, str(tmp_path), glob="*.png", recursive=True)
    assert rec.count() == 2
    small = rec.filter(rec.length < len(png) + 100)
    plan = small._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "length" in plan.split(
        "PushedFilters"
    )[1][:120]
    assert [r.path.rsplit("/", 1)[-1] for r in small.collect()] == ["x.png"]
    # content actually round-trips: decode the ingested bytes
    got = bytes(small.first().content)
    assert M.png_meta(got) == (2, 1)


def test_binary_file_ingest_meta_decoy_and_rebuild(spark, tmp_path, monkeypatch):
    """The registry entry's landing fixture: built once (atomic,
    _SUCCESS-marked), contains a .txt decoy the entry's glob must
    skip, and a cache wipe forces a clean rebuild with identical
    results."""
    import shutil

    from etl_project_gcp_spark import queries as Q

    monkeypatch.setenv("ETL_GCP_SPARK_CACHE_DIR", str(tmp_path / "cache"))
    fn = Q.queries()["binary_file_ingest_meta"]
    sf = "/root/testdata/sf0.001"
    a = sorted(map(tuple, fn(spark, sf).collect()))
    assert len(a) == 60 and all(len(r) == 3 for r in a)
    land = Q._binary_landing_ensure(60)
    import os

    names = set(os.listdir(land))
    assert "notes.txt" in names and "_SUCCESS" in names
    shutil.rmtree(os.path.dirname(land))
    b = sorted(map(tuple, fn(spark, sf).collect()))
    assert a == b
