"""Round-4 additions: real stdlib media header kernels, bench estimator,
merge-view uniqueness, ownership propagation helper."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from kgx import multimodal as mm


# ---------------------------------------------------------------------------
# real header parsers (pure functions — no Spark needed)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("w,h", [(1, 1), (16, 104), (640, 480), (65535, 2)])
def test_image_header_roundtrip(w, h):
    assert mm.parse_image_header(mm.make_png(w, h)) == (w, h, "png")
    assert mm.parse_image_header(mm.make_gif(w, h)) == (w, h, "gif")
    assert mm.parse_image_header(mm.make_jpeg(w, h)) == (w, h, "jpeg")


def test_png_fixture_is_spec_valid():
    # the PNG fixture must be a COMPLETE file (sig + IHDR + IDAT + IEND,
    # correct CRCs, decompressible scanlines), not just a parseable prefix
    import struct
    import zlib

    raw = mm.make_png(5, 3)
    assert raw[:8] == b"\x89PNG\r\n\x1a\n"
    i, chunks = 8, []
    while i < len(raw):
        (length,) = struct.unpack(">I", raw[i : i + 4])
        tag = raw[i + 4 : i + 8]
        data = raw[i + 8 : i + 8 + length]
        (crc,) = struct.unpack(">I", raw[i + 8 + length : i + 12 + length])
        assert crc == zlib.crc32(tag + data) & 0xFFFFFFFF
        chunks.append(tag)
        if tag == b"IDAT":
            scan = zlib.decompress(data)
            assert len(scan) == 3 * (1 + 5)  # h rows of (filter + w px)
        i += 12 + length
    assert chunks == [b"IHDR", b"IDAT", b"IEND"]


@pytest.mark.parametrize(
    "sr,n,ch,bits", [(8000, 800, 1, 16), (44100, 4410, 2, 16), (22050, 99, 1, 8)]
)
def test_wav_header_roundtrip(sr, n, ch, bits):
    dur, s, c, b = mm.parse_wav_header(mm.make_wav(sr, n, ch, bits))
    assert (s, c, b) == (sr, ch, bits)
    assert dur == n * 1000 // sr


def test_parsers_reject_garbage_without_raising():
    assert mm.parse_image_header(None) == (None, None, None)
    assert mm.parse_image_header(b"") == (None, None, None)
    assert mm.parse_image_header(b"notanimage" * 3) == (None, None, None)
    assert mm.parse_image_header(mm.make_png(10, 10)[:20]) == (None, None, None)
    assert mm.parse_image_header(mm.make_jpeg(10, 10)[:6]) == (None, None, None)
    # JPEG truncated right after the SOF dims: still parseable
    assert mm.parse_image_header(mm.make_jpeg(10, 10)[:-4]) == (10, 10, "jpeg")
    # JPEG truncated mid-SOF (dims cut off): None, no exception
    assert mm.parse_image_header(mm.make_jpeg(10, 10)[:26]) == (None, None, None)
    assert mm.parse_wav_header(b"RIFFxxxxWAVE") == (None, None, None, None)
    assert mm.parse_wav_header(b"junk") == (None, None, None, None)
    assert mm.parse_wav_header(mm.make_wav(8000, 10)[:16])[0] is None


def test_wav_parser_walks_past_extra_chunks():
    # LIST/INFO chunk between fmt and data (word-aligned odd-size chunk)
    import struct

    base = mm.make_wav(16000, 1600)
    # splice an odd-length junk chunk right after the fmt chunk (ends at 36)
    junk = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # pad byte
    spliced = base[:36] + junk + base[36:]
    spliced = b"RIFF" + struct.pack("<I", len(spliced) - 8) + spliced[8:]
    dur, sr, ch, bits = mm.parse_wav_header(spliced)
    assert (sr, ch, bits) == (16000, 1, 16) and dur == 100


# ---------------------------------------------------------------------------
# fake=False DataFrame surfaces (real kernel end-to-end through mapInPandas)
# ---------------------------------------------------------------------------

def test_decode_image_features_real_kernel(spark):
    rows = [
        (0, "image", "image/png", mm.make_png(20, 30), None, None, None),
        (1, "image", "image/gif", mm.make_gif(7, 9), None, None, None),
        (2, "image", "image/jpeg", mm.make_jpeg(101, 55), None, None, None),
        (3, "image", None, b"corrupt", None, None, None),
        (4, "audio", "audio/wav", mm.make_wav(8000, 80), None, None, None),
    ]
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    got = {
        r["media_id"]: r
        for r in mm.decode_image_features(media).collect()  # fake defaults False
    }
    assert set(got) == {0, 1, 2, 3}  # audio row filtered out
    assert (got[0]["width"], got[0]["height"]) == (20, 30)
    assert (got[1]["width"], got[1]["height"]) == (7, 9)
    assert (got[2]["width"], got[2]["height"]) == (101, 55)
    assert got[3]["width"] is None and got[3]["height"] is None
    # model features are honestly NULL on the real path (no vision model)
    assert all(r["features"] is None for r in got.values())


def test_audio_metadata_real_kernel(spark):
    rows = [
        (0, "audio", "audio/wav", mm.make_wav(44100, 44100, 2, 16), None, None, None),
        (1, "audio", None, b"\x00" * 64, None, None, None),
    ]
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in mm.audio_metadata(media).collect()}
    assert got[0]["duration_ms"] == 1000
    assert got[0]["sample_rate"] == 44100 and got[0]["channels"] == 2
    assert got[1]["sample_rate"] is None and got[1]["duration_ms"] is None


def test_video_frame_sampling_real_from_round5(spark):
    """Round 4 pinned fake=False as NotImplementedError; round 5 made it
    REAL via the header-only sample-table index (VERDICT r4 #5). Fake
    media has no sample tables, so the real path yields zero rows for it
    — corrupt/table-less media is data, not an exception."""
    media = mm.make_fake_media(spark, 6)
    assert mm.sample_video_frames(media, fake=False).count() == 0


# ---------------------------------------------------------------------------
# merge_upsert view uniqueness (fallback path; engine path needs jars)
# ---------------------------------------------------------------------------

def test_merge_upsert_leaves_no_temp_views(spark, tmp_path):
    from kgx import materialize

    df = spark.range(5).withColumn("k", F.col("id") % 2)
    path = str(tmp_path / "t")
    materialize.merge_upsert(spark, path, df, ["k"])
    leftovers = [t.name for t in spark.catalog.listTables() if "_kgx_merge_src" in t.name]
    assert leftovers == []


# ---------------------------------------------------------------------------
# OWL / RDF-XML ontology ingestion (S9 production path)
# ---------------------------------------------------------------------------

def _fixture_owl() -> str:
    import os

    return os.path.join(os.path.dirname(__file__), "fixtures", "mini_onto.owl")


def test_load_owl_first_style_fixture():
    """Every FIRST-style RDF/XML shape flattens correctly: typed-node
    indicators, nested-subClassOf punning, deep orientation root names,
    the shipped 'InlfuencesObject' misspelling, no-correlation skip."""
    from kgx import owl

    kb = owl.load_owl(_fixture_owl())
    # subtype preserved (downstream "Stock"-style canonicalization needs it)
    fizzo = [r for r in kb.gazetteer if r[0].endswith("#Fizzo")]
    assert [r[3] for r in fizzo] == ["Fizzo Cola", "Fizzo", "fizzo classic"]
    assert all(r[1] == "Fizzo Cola" and r[2] == "SparklingBeverage" for r in fizzo)
    assert ("http://example.org/mini#Brewly", "Brewly", "Beverage", "Brewly") in kb.gazetteer
    # punned class-with-label under the root is a gazetteer entry too
    assert any(r[0].endswith("#Consumable") for r in kb.gazetteer)
    assert sorted(kb.lexicon) == [
        ("crisp", "positive"), ("refreshing", "positive"), ("stale", "negative")
    ]
    # typed-node indicator joined to its correlation definition
    assert set(kb.indicators) == {
        ("http://example.org/mini#Shelf_Velocity", "shelf velocity",
         "shelf velocity", "Technical", -1, "Beverage", "expectedFuturePriceChange"),
        ("http://example.org/mini#Shelf_Velocity", "shelf velocity",
         "restock rate", "Technical", -1, "Beverage", "expectedFuturePriceChange"),
    }
    # indicator without a correlation definition is skipped
    assert not any(u.endswith("#Foam_Index") for u, *_ in kb.indicators)
    assert ("Price", "expectedFuturePriceChange") in kb.feature_alias
    assert ("sticker price", "expectedFuturePriceChange") in kb.feature_surfaces


def test_owl_roundtrip_full_default_kb():
    """save_owl → load_owl is identity on every dimension of the FULL
    default KB, including KnowledgeBase.version() (the lineage snapshot
    id), so an OWL file is a first-class KB source equivalent to the
    TSV/parquet snapshot."""
    import tempfile

    from kgx import owl, resources as res

    kb = res.default_kb()
    with tempfile.NamedTemporaryFile(suffix=".owl", delete=False) as f:
        path = f.name
    owl.save_owl(kb, path)
    kb2 = owl.load_owl(path)
    for dim in ("gazetteer", "lexicon", "indicators", "feature_alias", "feature_surfaces"):
        assert sorted(getattr(kb, dim)) == sorted(getattr(kb2, dim)), dim
    assert kb.version() == kb2.version()


def test_owl_roundtrip_name_not_first_surface(tmp_path):
    """Canonical names that are NOT the entity's first surface form (or not
    a surface at all) must survive save_owl → load_owl: the name rides an
    explicit kgx:canonicalName literal, never reconstructed as labels[0].
    Regression: before round 4 this silently rewrote name to the first
    surface, changing every downstream fact and the KB lineage version."""
    from kgx import owl, resources as res

    kb = res.KnowledgeBase(
        gazetteer=[
            ("u#apple", "Apple Inc", "Company", "AAPL"),
            ("u#apple", "Apple Inc", "Company", "Apple"),
        ],
        lexicon=[("good", "positive")],
        indicators=[
            ("u#rate", "Policy Rate", "rate hike", "Macro", -1, "Company", "price"),
        ],
        feature_alias=[("cost", "price")],
        feature_surfaces=[("price", "price")],
    )
    path = str(tmp_path / "kb.owl")
    owl.save_owl(kb, path)
    kb2 = owl.load_owl(path)
    assert sorted(kb2.gazetteer) == sorted(kb.gazetteer)
    assert sorted(kb2.indicators) == sorted(kb.indicators)
    assert kb2.version() == kb.version()


def test_owl_equivalent_to_snapshot_and_dispatch(tmp_path):
    """load_kb_any dispatches: .owl file → owl parser, dir → snapshot
    loader; both yield the same KB version as the in-memory source."""
    from kgx import owl, resources as res

    kb = res.default_kb()
    owl_path = str(tmp_path / "kb.owl")
    snap_dir = str(tmp_path / "snap")
    owl.save_owl(kb, owl_path)
    res.save_knowledge(kb, snap_dir)
    assert res.load_kb_any(owl_path).version() == kb.version()
    assert res.load_kb_any(snap_dir).version() == kb.version()


# ---------------------------------------------------------------------------
# skew-stress probe (salted rollup evidence, SURVEY §7.4 watch item)
# ---------------------------------------------------------------------------

def test_skew_probe_salting_preserves_answer_and_flattens_keys(spark):
    """At Zipf a=1.2 with a hot conversation: (1) the salted rollup yields
    byte-identical groups to the plain rollup, (2) the salted shuffle-key
    histogram's max bucket is strictly smaller than the plain one."""
    from kgx import aggregate, bench_skew

    facts = bench_skew.skewed_facts(spark, 60_000, zipf_a=1.2, n_convs=500)
    plain = bench_skew._plain_rollup(facts)
    salted = aggregate.salted_doc_rollup(facts, 16)
    cols = ["conv_id", "name_lc", "pred", "pos", "neg"]
    a = sorted(map(tuple, plain.select(*cols).collect()))
    b = sorted(map(tuple, salted.select(*cols).collect()))
    assert a == b
    s = bench_skew.straggler_metric(facts, 32, 16)
    assert s["salted"]["max_rows"] < s["plain"]["max_rows"]
    assert s["salted"]["max_share"] < s["plain"]["max_share"]


@pytest.mark.parametrize(
    "dms,ts,v1", [(1000, 48000, False), (98765, 600, False), (7321, 90000, True)]
)
def test_mp4_header_roundtrip(dms, ts, v1):
    dur, scale, brand = mm.parse_mp4_header(mm.make_mp4(dms, ts, v1=v1))
    assert (scale, brand) == (ts, "isom")
    assert dur == ((dms * ts) // 1000) * 1000 // ts  # two floors, as written


def test_mp4_parser_rejects_garbage():
    assert mm.parse_mp4_header(b"garbage") == (None, None, None)
    assert mm.parse_mp4_header(None) == (None, None, None)
    assert mm.parse_mp4_header(mm.make_mp4(5000)[:20])[0] is None


def test_video_metadata_real_kernel(spark):
    rows = [
        (0, "video", "video/mp4", mm.make_mp4(2500, 1000), None, None, None),
        (1, "video", None, b"not a video", None, None, None),
    ]
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in mm.video_metadata(media).collect()}
    assert got[0]["duration_ms"] == 2500 and got[0]["timescale"] == 1000
    assert got[1]["duration_ms"] is None
