"""Edge cases: empty training input, single-class input, and scoring
out-of-range values (shoulder coverage end-to-end)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def test_fit_empty_input_raises(spark):
    from chi_frbcs_bigdatacs_spark.fuzzy.estimator import ChiFRBCSClassifier
    from chi_frbcs_bigdatacs_spark.fuzzy.partitions import LINEITEM_CLF_PARTITIONS
    from chi_frbcs_bigdatacs_spark.sources.testdata import lineitem_clf

    df = lineitem_clf(spark, SF_SMALL).filter(F.lit(False))
    with pytest.raises(ValueError, match="empty training set"):
        ChiFRBCSClassifier(parts=LINEITEM_CLF_PARTITIONS).fit(df)


def test_fit_single_class(spark):
    """Degenerate one-class data: every rule predicts that class with
    weight 1 (PCF numerator == denominator)."""
    from chi_frbcs_bigdatacs_spark.fuzzy.estimator import ChiFRBCSClassifier
    from chi_frbcs_bigdatacs_spark.fuzzy.partitions import LINEITEM_CLF_PARTITIONS
    from chi_frbcs_bigdatacs_spark.sources.testdata import lineitem_clf

    df = lineitem_clf(spark, SF_SMALL).filter(F.col("label") == 1)
    model = ChiFRBCSClassifier(parts=LINEITEM_CLF_PARTITIONS).fit(df)
    assert model.default_cls == 1
    assert all(r[-2] == 1 and r[-1] == 1.0 for r in model.rules_rows)
    pred = model.transform(df)
    assert pred.filter(F.col("prediction") != 1).count() == 0


def test_score_out_of_range_values(spark):
    """Values outside the declared ranges hit the shoulders and still
    classify (never unmatched-by-degeneracy)."""
    from chi_frbcs_bigdatacs_spark.fuzzy.estimator import ChiFRBCSClassifier
    from chi_frbcs_bigdatacs_spark.fuzzy.partitions import LINEITEM_CLF_PARTITIONS
    from chi_frbcs_bigdatacs_spark.sources.testdata import lineitem_clf

    df = lineitem_clf(spark, SF_SMALL)
    model = ChiFRBCSClassifier(parts=LINEITEM_CLF_PARTITIONS).fit(df)
    wild = spark.createDataFrame(
        [(1, -1e6, 1e9, -5.0, 99.0, 0), (2, 1e6, -1e9, 5.0, -99.0, 1)],
        "id long, f1 double, f2 double, f3 double, f4 double, label int",
    )
    out = model.transform(wild).collect()
    assert len(out) == 2
    assert all(r["prediction"] in (0, 1) for r in out)


@pytest.mark.parametrize("frm", ["wr", "ac"])
def test_null_weight_rules_score_as_the_join_does(spark, frm):
    """A cost dict whose costs sum to 0 on a cell gives its rule a NULL
    weight (Spark's x / 0). The numpy kernel drops it, as the join
    scorer's weight > 0 does, and both score the same."""
    from chi_frbcs_bigdatacs_spark.fuzzy.estimator import ChiFRBCSClassifier
    from chi_frbcs_bigdatacs_spark.fuzzy.partitions import LINEITEM_CLF_PARTITIONS
    from chi_frbcs_bigdatacs_spark.sources.testdata import lineitem_clf

    df = lineitem_clf(spark, SF_SMALL).filter(F.col("id") % 16 == 0)
    model = ChiFRBCSClassifier(
        parts=LINEITEM_CLF_PARTITIONS, frm=frm, cost_mode={0: 0.0, 1: 0.0}
    ).fit(df)
    assert any(r[-1] is None for r in model.rules_rows)
    auto = model.transform(df)
    assert "MapInPandas" in auto._jdf.queryExecution().executedPlan().toString()
    joined = model.transform(df, broadcast_rules=True)
    assert sorted(auto.collect()) == sorted(joined.collect())


def test_media_fixture_is_ascii(spark):
    """The media oracles (media_decode byte features, media_resize
    char-indexed sampling) are byte-exact only while documents.text is
    pure ASCII and non-empty; this pins that fixture property so a
    future testdata change fails loudly instead of hash-mismatching."""
    from pyspark.sql import functions as F

    from chi_frbcs_bigdatacs_spark.sources.testdata import load_table

    d = load_table(spark, SF_SMALL, "documents")
    bad = d.filter(
        (F.octet_length("text") != F.length("text"))
        | F.col("text").isNull()
        | (F.length("text") == 0)
    ).count()
    assert bad == 0, "documents.text must be non-empty ASCII for media oracles"


def test_connected_components_transitive_chain(spark):
    """A-B, B-C, plus isolated pair D-E: transitivity must put A,B,C
    in ONE component labeled by the min id, never the pairwise-only
    grouping — and a long chain exercises multi-iteration
    propagation (diameter 4 > 1 hop)."""
    from chi_frbcs_bigdatacs_spark.operators.dedup_near import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "doc_a long, doc_b long"
    )
    got = {
        r.doc_id: r.component for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}


def test_chunking_empty_text_one_empty_chunk(spark, duck):
    """Empty/short text emits exactly ONE chunk on both engines
    (ADVICE r4: unclamped floor((0-1)/stride) = -1 made Spark's
    sequence(0,-1) descend — two spurious rows — while DuckDB's
    range(0,0) emitted none)."""
    from chi_frbcs_bigdatacs_spark.operators.curation import (
        CHUNK_STRIDE,
        chunk_documents,
    )

    d = spark.createDataFrame(
        [(1, ""), (2, "ab"), (3, "x" * (CHUNK_STRIDE + 1))],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in chunk_documents(d).collect()}
    counts = {
        r[0]: r[1]
        for r in chunk_documents(d)
        .groupBy("doc_id")
        .count()
        .collect()
    }
    assert counts == {1: 1, 2: 1, 3: 2}
    assert rows[1].chunk == "" and rows[1].chunk_idx == 0
    # the DuckDB oracle expression agrees on the empty-text clamp
    n = duck.execute(
        f"""SELECT count(*) FROM (SELECT unnest(range(0,
            greatest(0, CAST(floor((length('') - 1) / {CHUNK_STRIDE}) AS BIGINT)) + 1)))"""
    ).fetchone()[0]
    assert n == 1


def test_bmp_codec_roundtrip_and_rejections():
    """The real BMP codec: encode->decode must reproduce geometry,
    channel sum, and the positional checksum for shapes that exercise
    every row-padding case (3*w % 4 in {0,1,2,3}); malformed streams
    must be rejected, not silently mis-decoded."""
    import pytest

    from chi_frbcs_bigdatacs_spark.operators.multimodal import (
        _decode_bmp,
        _encode_bmp,
    )

    for w, h, d in [(2, 2, 0), (3, 2, 7), (4, 3, 17), (5, 4, 250), (6, 5, 123)]:
        raw = _encode_bmp(w, h, d)
        got_w, got_h, total, ck = _decode_bmp(raw)
        exp_total = sum(
            (d + 3 * x + 5 * y) % 256
            + (2 * d + 7 * x + y) % 256
            + (3 * d + x + 11 * y) % 256
            for y in range(h)
            for x in range(w)
        )
        exp_ck = sum(
            (1 + x + w * y)
            * (
                (d + 3 * x + 5 * y) % 256
                + 2 * ((2 * d + 7 * x + y) % 256)
                + 3 * ((3 * d + x + 11 * y) % 256)
            )
            for y in range(h)
            for x in range(w)
        )
        assert (got_w, got_h, total, ck) == (w, h, float(exp_total), exp_ck)
    with pytest.raises(ValueError):
        _decode_bmp(b"PNG\x00garbage")
    # 8-bit BMP header (bpp=8) must hit the NotImplementedError branch
    bad = bytearray(_encode_bmp(2, 2, 0))
    bad[28] = 8
    with pytest.raises(NotImplementedError):
        _decode_bmp(bytes(bad))


def test_rle8_bmp_codec_roundtrip_absolute_mode_and_rejections():
    """The compressed codec: encode->decode must reproduce geometry,
    exact compressed size, channel sum, and positional checksum over
    every run-length residue (run in {2,3,4} x widths hitting full
    and truncated final runs); a handcrafted ABSOLUTE-MODE stream
    (which the encoder never emits) must decode to the same pixels
    as its run-mode twin — proving the decoder walks the escape
    grammar, not just the encoder's output; delta escapes, row
    overflows, and truncated streams must be rejected."""
    import struct

    import pytest

    from chi_frbcs_bigdatacs_spark.operators.multimodal import (
        _decode_bmp_rle8,
        _encode_bmp_rle8,
    )

    for w, h, d in [(4, 2, 0), (5, 3, 7), (6, 4, 17), (9, 5, 250), (12, 2, 123)]:
        raw = _encode_bmp_rle8(w, h, d)
        run = d % 3 + 2
        got_w, got_h, n_bytes, total, ck = _decode_bmp_rle8(raw)
        exp_bytes = 1078 + h * (2 * ((w + run - 1) // run) + 2) + 2
        idx = lambda x, y: (d + 5 * y + 3 * (x // run)) % 256  # noqa: E731
        exp_total = sum(
            idx(x, y) + (2 * idx(x, y)) % 256 + (3 * idx(x, y)) % 256
            for y in range(h)
            for x in range(w)
        )
        exp_ck = sum(
            (1 + x + w * y)
            * (
                idx(x, y)
                + 2 * ((2 * idx(x, y)) % 256)
                + 3 * ((3 * idx(x, y)) % 256)
            )
            for y in range(h)
            for x in range(w)
        )
        assert (got_w, got_h, n_bytes, total, ck) == (
            w, h, exp_bytes, exp_total, exp_ck,
        )
        assert n_bytes == len(raw)

    # absolute-mode twin: rewrite each encoded run (cnt, v) of a tiny
    # image as an absolute block (00, cnt, v*cnt, pad) and expect the
    # identical decode
    w, h, d = (3, 2, 5)
    raw = _encode_bmp_rle8(w, h, d)
    (offset,) = struct.unpack_from("<I", raw, 10)
    body, pos, out = raw[offset:], 0, bytearray()
    while pos + 1 < len(body):
        n, v = body[pos], body[pos + 1]
        pos += 2
        if n > 0 and n >= 3:  # absolute mode requires count >= 3
            out += bytes((0, n)) + bytes([v] * n) + b"\x00" * (n % 2)
        else:
            out += bytes((n, v))
    abs_raw = bytearray(raw[:offset] + bytes(out))
    struct.pack_into("<I", abs_raw, 2, len(abs_raw))
    got_abs = _decode_bmp_rle8(bytes(abs_raw))
    got_run = _decode_bmp_rle8(raw)
    # identical pixels; only the stream length differs (absolute mode
    # spends 2 extra bytes + padding per block)
    assert got_abs[:2] == got_run[:2] and got_abs[3:] == got_run[3:]
    assert got_abs[2] == len(abs_raw) > got_run[2]

    with pytest.raises(ValueError):
        _decode_bmp_rle8(b"PNG\x00garbage")
    # uncompressed 24-bit header must route to the other decoder
    from chi_frbcs_bigdatacs_spark.operators.multimodal import _encode_bmp

    with pytest.raises(NotImplementedError):
        _decode_bmp_rle8(_encode_bmp(2, 2, 0))
    # delta escape (00 02) rejected
    bad = bytearray(raw)
    bad[offset] = 0
    bad[offset + 1] = 2
    with pytest.raises(NotImplementedError):
        _decode_bmp_rle8(bytes(bad))
    # run overflowing its row rejected
    bad = bytearray(raw)
    bad[offset] = 255
    with pytest.raises(ValueError):
        _decode_bmp_rle8(bytes(bad))
    # truncated stream (end-of-bitmap escape cut off) rejected
    with pytest.raises(ValueError):
        _decode_bmp_rle8(raw[:-2])
    # stream truncated INSIDE an absolute block: must raise the
    # decoder's documented ValueError, never IndexError (ADVICE r9)
    (abs_off,) = struct.unpack_from("<I", bytes(abs_raw), 10)
    # abs_raw's first token is an absolute block (00, cnt, ...): cut
    # the stream mid-literals
    assert abs_raw[abs_off] == 0 and abs_raw[abs_off + 1] >= 3
    cut = bytes(abs_raw[: abs_off + 3])
    with pytest.raises(ValueError, match="overflows stream"):
        _decode_bmp_rle8(cut)


def test_wav_codec_rejects_malformed_input():
    """The decoder must walk chunks properly (word alignment, unknown
    chunk skip) and reject non-RIFF, wrong-format and length-lying
    inputs rather than misreading them."""
    import struct

    import pytest

    from chi_frbcs_bigdatacs_spark.operators.multimodal import (
        _decode_wav,
        _encode_wav,
        _wav_samples,
    )

    raw = _encode_wav(13, 21)
    # round-trip sanity incl. odd-length unknown chunk insertion
    junk = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"  # word-aligned pad
    with_junk = raw[:12] + junk + raw[12:]
    with_junk = b"RIFF" + struct.pack("<I", len(with_junk) - 8) + with_junk[8:]
    assert _decode_wav(with_junk) == _decode_wav(raw)
    smp = _wav_samples(13, 21)
    sr, n, peak, sab, zc, ck = _decode_wav(raw)
    assert (sr, n) == (8000, 21)
    assert peak == max(abs(s) for s in smp)
    assert zc == sum(
        1 for i in range(1, 21) if (smp[i - 1] < 0) != (smp[i] < 0)
    )
    with pytest.raises(ValueError):
        _decode_wav(b"OGGS" + raw[4:])
    with pytest.raises(ValueError):
        _decode_wav(raw[:4] + struct.pack("<I", 999) + raw[8:])
    # stereo fmt chunk must be rejected
    bad_fmt = struct.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
    bad = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(bad_fmt)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(bad_fmt)) + bad_fmt
    )
    with pytest.raises(ValueError):
        _decode_wav(bad)


def test_multiset_setops_obey_bag_algebra(spark):
    """Bag identities on the fixture: per key, n_extra = max(m_a -
    m_b, 0) and n_common = min(m_a_f, m_b), recomputed from raw
    multiplicities."""
    from pyspark.sql import functions as F

    from chi_frbcs_bigdatacs_spark.operators.relational import (
        q_setop_except_all,
        q_setop_intersect_all,
    )
    from chi_frbcs_bigdatacs_spark.sources.testdata import load_table
    from tests.conftest import SF_SMALL

    li = load_table(spark, SF_SMALL, "lineitem")
    m = (
        li.groupBy(F.col("l_partkey").alias("k"))
        .agg(
            F.count(F.lit(1)).alias("ma"),
            F.sum((F.col("l_returnflag") == "R").cast("long")).alias("mb"),
            F.sum((F.col("l_linestatus") == "F").cast("long")).alias("mf"),
        )
        .collect()
    )
    mult = {r["k"]: r for r in m}
    ex = {r["k"]: r["n_extra"] for r in q_setop_except_all(spark, SF_SMALL).collect()}
    for k, r in mult.items():
        expect = max(r["ma"] - r["mb"], 0)
        assert ex.get(k, 0) == expect, (k, ex.get(k), expect)
    inter = {
        r["k"]: r["n_common"]
        for r in q_setop_intersect_all(spark, SF_SMALL).collect()
    }
    for k, r in mult.items():
        expect = min(r["mf"], r["mb"])
        assert inter.get(k, 0) == expect, (k, inter.get(k), expect)


def test_png_fixed_huffman_codec_roundtrip_and_rejections():
    """The entropy-coded codec (r10): our deflate stream must inflate
    identically through BOTH our own bit-reader and stdlib zlib (the
    independent public oracle), PNG round-trips reproduce the closed-
    form features over every run-length residue, and the decoder
    rejects: bad signature, a flipped CRC bit, a corrupted Adler-32,
    the reserved deflate block type, non-RGB8 IHDR, and truncation.
    The inflater is COMPLETE (stored/fixed/dynamic): it must decode
    stdlib zlib.compress output at every level, including level 0
    (pure stored blocks) and level 9 (dynamic-Huffman blocks)."""
    import struct
    import zlib

    import pytest

    from chi_frbcs_bigdatacs_spark.operators.multimodal import (
        _adler32,
        _crc32,
        _decode_png,
        _deflate_fixed,
        _encode_png,
        _inflate,
    )

    # checksums match the public implementations bit-for-bit
    for payload in (b"", b"a", b"hello world" * 9, bytes(range(256))):
        assert _crc32(payload) == zlib.crc32(payload)
        assert _adler32(payload) == zlib.adler32(payload)
    # deflate: stdlib and our inflater agree on every stream shape —
    # empty, no-match literals, uniform run, periodic run, 9-bit
    # literals (>= 144), match-length clamping at 258
    cases = [
        b"", b"abc", b"a" * 300, b"abc" * 200,
        bytes(range(140, 256)) * 4, bytes([7, 250]) * 400,
    ]
    for raw in cases:
        d = _deflate_fixed(raw)
        assert zlib.decompress(d, wbits=-15) == raw
        assert _inflate(d) == raw
    # the other direction: OUR inflater must decode the PUBLIC
    # encoder's streams at every level — 0 emits stored blocks, 1
    # mostly fixed, 9 dynamic-Huffman on repetitive data
    for raw in cases + [bytes((i * 37 + 11) % 256 for i in range(5000))]:
        for level in (0, 1, 6, 9):
            assert _inflate(zlib.compress(raw, level)[2:-4]) == raw, (
                f"inflate mismatch vs zlib level {level}"
            )
    # geometry/feature round trip across run residues
    for w, h, d in [(4, 2, 0), (5, 3, 7), (12, 6, 238), (9, 5, 100)]:
        raw = _encode_png(w, h, d)
        run = d % 3 + 2
        gw, gh, total, ck = _decode_png(raw)
        idx = lambda x, y: (d + 5 * y + 3 * (x // run)) % 256  # noqa: E731
        assert (gw, gh) == (w, h)
        assert total == sum(
            idx(x, y) + (2 * idx(x, y)) % 256 + (3 * idx(x, y)) % 256
            for y in range(h) for x in range(w)
        )
        assert ck == sum(
            (1 + x + w * y) * (
                idx(x, y)
                + 2 * ((2 * idx(x, y)) % 256)
                + 3 * ((3 * idx(x, y)) % 256)
            )
            for y in range(h) for x in range(w)
        )

    raw = _encode_png(5, 3, 7)
    with pytest.raises(ValueError, match="not a PNG"):
        _decode_png(b"BM" + raw[2:])
    # flip one bit inside IHDR payload -> CRC must catch it
    bad = bytearray(raw)
    bad[16] ^= 0x01
    with pytest.raises(ValueError, match="CRC"):
        _decode_png(bytes(bad))
    # corrupt the Adler trailer (inside IDAT, so fix the chunk CRC to
    # isolate the zlib-level check)
    (ihdr_len,) = struct.unpack_from(">I", raw, 8)
    idat_off = 8 + 12 + ihdr_len
    (idat_len,) = struct.unpack_from(">I", raw, idat_off)
    bad = bytearray(raw)
    bad[idat_off + 8 + idat_len - 1] ^= 0xFF
    payload = bytes(bad[idat_off + 4 : idat_off + 8 + idat_len])
    struct.pack_into(">I", bad, idat_off + 8 + idat_len, _crc32(payload))
    with pytest.raises(ValueError, match="Adler"):
        _decode_png(bytes(bad))
    # reserved block type (11) and stored LEN/NLEN mismatch rejected
    with pytest.raises(ValueError, match="reserved"):
        _inflate(b"\x07")
    with pytest.raises(ValueError, match="LEN/NLEN"):
        _inflate(b"\x01\x05\x00\x00\x00hello")
    # the full filter grammar: filter_cycle images (h >= 5 hits all
    # of None/Sub/Up/Average/Paeth) must reconstruct to the same
    # pixels as their unfiltered twins
    for w, h, d in [(6, 5, 0), (15, 11, 238), (8, 7, 100)]:
        plain = _encode_png(w, h, d)
        filt = _encode_png(w, h, d, filter_cycle=True)
        assert _decode_png(filt)[2:] == _decode_png(plain)[2:]
    # filter type > 4 is a ValueError, not a silent mis-decode: craft
    # a stream whose first filter byte is 5 with all checksums valid
    from chi_frbcs_bigdatacs_spark.operators.multimodal import (
        _deflate_fixed as _df,
    )

    w, h = 2, 1
    body = bytes([5]) + bytes(6)
    zdata = (
        b"\x78\x01" + _df(body) + struct.pack(">I", _adler32(body))
    )

    def _chunk(typ: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload)) + typ + payload
            + struct.pack(">I", _crc32(typ + payload))
        )

    bad_png = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + _chunk(b"IDAT", zdata)
        + _chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="filter type"):
        _decode_png(bad_png)
    # unsupported IHDR routes to NotImplementedError (remaining 16-bit
    # combos; ctype=6 RGBA and ctype=4 gray+alpha became REAL in r12,
    # 16-bit RGB (16, 2) in r13 — see test_png_16bit_roundtrip)
    for depth, ctype in ((16, 4), (16, 6), (16, 3)):
        ihdr = struct.pack(">IIBBBBB", 5, 3, depth, ctype, 0, 0, 0)
        chunk = (
            struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr
            + struct.pack(">I", _crc32(b"IHDR" + ihdr))
        )
        with pytest.raises(NotImplementedError):
            _decode_png(b"\x89PNG\r\n\x1a\n" + chunk)
    # truncation anywhere is a ValueError, never IndexError
    for cut in (10, idat_off + 10, len(raw) - 6):
        with pytest.raises(ValueError):
            _decode_png(raw[:cut])


def test_jpeg_baseline_codec_roundtrip_and_rejections():
    """The transform-domain codec (r11): flat-block fixture images
    round-trip BIT-EXACTLY (a constant block quantizes to a lone DC,
    so IDCT + rounding is the identity), random TEXTURED images drive
    the full AC run/size grammar (ZRL, EOB, multi-category sizes)
    with reconstruction error bounded by the quant=1 coefficient
    rounding alone, and the decoder rejects: missing SOI, progressive
    SOF2, marker-in-scan corruption, truncation, invalid Huffman
    prefixes, and an AC run overflowing the block."""
    import random
    import struct

    import pytest

    from chi_frbcs_bigdatacs_spark.operators.multimodal import (
        _decode_jpeg_gray,
        _encode_jpeg_gray,
        _jpeg_fixture_pixels,
    )

    # 1. flat-block fixture: EXACT round trip of both feature sums
    for bw, bh, seed in [(1, 1, 0), (3, 2, 123), (2, 1, 250), (3, 1, 17)]:
        px = _jpeg_fixture_pixels(bw, bh, seed)
        w, h, total, chk = _decode_jpeg_gray(_encode_jpeg_gray(px))
        assert (w, h) == (8 * bw, 8 * bh)
        assert total == sum(sum(r) for r in px)
        assert chk == sum(
            (1 + x + w * y) * px[y][x] for y in range(h) for x in range(w)
        )

    # 2. textured images: the AC entropy path end-to-end; per-pixel
    # mean drift bounded well under 1 grey level (quant=1 rounding)
    rng = random.Random(2026)
    for _ in range(12):
        w8, h8 = rng.randint(1, 4), rng.randint(1, 3)
        img = [
            [rng.randint(0, 255) for _ in range(8 * w8)]
            for _ in range(8 * h8)
        ]
        w, h, total, _chk = _decode_jpeg_gray(_encode_jpeg_gray(img))
        true_total = sum(sum(r) for r in img)
        assert abs(total - true_total) / (w * h) <= 1.0

    # 3. a smooth gradient (long zero runs + EOB mix) is LOSSLESS in
    # the sum: linear ramps land on exactly representable coefficients
    img = [[(x * 3 + y * 5) % 256 for x in range(32)] for y in range(16)]
    w, h, total, _ = _decode_jpeg_gray(_encode_jpeg_gray(img))
    assert total == sum(sum(r) for r in img)

    raw = _encode_jpeg_gray(_jpeg_fixture_pixels(2, 2, 40))
    with pytest.raises(ValueError, match="SOI"):
        _decode_jpeg_gray(b"\x00\x00" + raw[2:])
    # progressive SOF2 must be a clean NotImplementedError
    prog = bytearray(raw)
    sof_at = raw.find(b"\xff\xc0")
    prog[sof_at + 1] = 0xC2
    with pytest.raises(NotImplementedError, match="baseline"):
        _decode_jpeg_gray(bytes(prog))
    # corrupt a scan byte into a bare 0xFF marker prefix
    sos_at = raw.find(b"\xff\xda")
    (sos_len,) = struct.unpack_from(">H", raw, sos_at + 2)
    scan_at = sos_at + 2 + sos_len
    bad = bytearray(raw)
    bad[scan_at] = 0xFF
    bad[scan_at + 1] = 0x01  # not a stuffed zero, not EOI
    with pytest.raises(ValueError):
        _decode_jpeg_gray(bytes(bad))
    # truncation anywhere raises ValueError/IndexError never silence
    for cut in (4, sof_at + 3, scan_at + 1, len(raw) - 2):
        with pytest.raises((ValueError, IndexError)):
            _decode_jpeg_gray(raw[:cut])
    # dims not multiples of 8 are refused at encode time
    with pytest.raises(ValueError, match="multiple-of-8"):
        _encode_jpeg_gray([[0] * 12] * 8)


def test_png_palette_gray_and_adam7_roundtrip():
    """The r11 color-type/interlace extensions: palette (PLTE
    indirection), grayscale, and Adam7 seven-pass interlace must all
    reconstruct the SAME features as the RGB formula (palette entry i
    IS the RGB triple; gray maps v -> (v,v,v)), across filter cycling
    and stdlib zlib level-9 streams; malformed palette inputs reject
    cleanly."""
    import pytest

    from chi_frbcs_bigdatacs_spark.operators.multimodal import (
        _decode_png,
        _encode_png,
    )

    def expect(w, h, d):
        run = d % 3 + 2
        idx = lambda x, y: (d + 5 * y + 3 * (x // run)) % 256  # noqa: E731
        t = sum(
            idx(x, y) + (2 * idx(x, y)) % 256 + (3 * idx(x, y)) % 256
            for y in range(h) for x in range(w)
        )
        c = sum(
            (1 + x + w * y) * (
                idx(x, y)
                + 2 * ((2 * idx(x, y)) % 256)
                + 3 * ((3 * idx(x, y)) % 256)
            )
            for y in range(h) for x in range(w)
        )
        return (w, h, t, c)

    for w, h, d in [(4, 2, 0), (5, 3, 7), (12, 6, 238), (1, 1, 13), (16, 9, 201)]:
        assert _decode_png(_encode_png(w, h, d, ctype=3)) == expect(w, h, d)
        assert _decode_png(
            _encode_png(w, h, d, interlace=1, filter_cycle=True)
        ) == expect(w, h, d)
        assert _decode_png(
            _encode_png(w, h, d, ctype=3, interlace=1, level=9)
        ) == expect(w, h, d)
        run = d % 3 + 2
        idx = lambda x, y: (d + 5 * y + 3 * (x // run)) % 256  # noqa: E731
        tg = sum(3 * idx(x, y) for y in range(h) for x in range(w))
        cg = sum(
            (1 + x + w * y) * 6 * idx(x, y)
            for y in range(h) for x in range(w)
        )
        assert _decode_png(
            _encode_png(w, h, d, ctype=0, interlace=1, filter_cycle=True)
        ) == (w, h, tg, cg)
    # palette image missing its PLTE chunk -> clean rejection
    raw = bytearray(_encode_png(5, 3, 7, ctype=3))
    plte_at = bytes(raw).find(b"PLTE") - 4
    import struct

    (plte_len,) = struct.unpack_from(">I", raw, plte_at)
    del raw[plte_at : plte_at + 12 + plte_len]
    with pytest.raises(ValueError, match="without PLTE"):
        _decode_png(bytes(raw))


def test_jpeg_color_interleave_roundtrip():
    """3-component 4:4:4 baseline: flat per-component blocks decode
    bit-exactly through three INDEPENDENT DC predictor chains; random
    textured components drive the interleaved AC path with the same
    quant=1 error bound; component-count mismatches reject cleanly."""
    import random

    import pytest

    from chi_frbcs_bigdatacs_spark.operators.multimodal import (
        _decode_jpeg,
        _encode_jpeg,
    )

    for bw, bh, s in [(1, 1, 3), (3, 2, 99), (2, 2, 250)]:
        w, h = 8 * bw, 8 * bh
        planes = [
            [
                [(s + 17 * (y // 8) + 23 * (x // 8) + 41 * c) % 256
                 for x in range(w)]
                for y in range(h)
            ]
            for c in range(3)
        ]
        gw, gh, total, chk = _decode_jpeg(_encode_jpeg(planes))
        assert (gw, gh) == (w, h)
        assert total == sum(sum(sum(r) for r in p) for p in planes)
        assert chk == sum(
            (1 + x + w * y) * sum((c + 1) * planes[c][y][x] for c in range(3))
            for y in range(h) for x in range(w)
        )
    rng = random.Random(7)
    for _ in range(6):
        w8, h8 = rng.randint(1, 3), rng.randint(1, 2)
        planes = [
            [[rng.randint(0, 255) for _ in range(8 * w8)] for _ in range(8 * h8)]
            for _ in range(3)
        ]
        w, h, total, _chk = _decode_jpeg(_encode_jpeg(planes))
        true_total = sum(sum(sum(r) for r in p) for p in planes)
        assert abs(total - true_total) / (3 * w * h) <= 1.0
    with pytest.raises(ValueError, match="1 or 3 components"):
        _encode_jpeg([[[0] * 8] * 8] * 2)
    with pytest.raises(ValueError, match="geometry mismatch"):
        _encode_jpeg([[[0] * 8] * 8, [[0] * 8] * 8, [[0] * 16] * 8])


def test_ulaw_expansion_anchors_and_rejections():
    """G.711 mu-law (r12): the canonical anchor points (0xFF/0x7F are
    the two zeros, 0x80/0x00 the extremes at +-32124), per-half
    monotonicity, 255 distinct output levels, and the WAV fmt-tag-7
    grammar rejections."""
    import struct

    import pytest

    from chi_frbcs_bigdatacs_spark.operators.multimodal import (
        _decode_wav_ulaw,
        _encode_wav_ulaw,
        _ulaw_expand,
    )

    assert _ulaw_expand(0xFF) == 0 and _ulaw_expand(0x7F) == 0
    assert _ulaw_expand(0x00) == -32124 and _ulaw_expand(0x80) == 32124
    assert len({_ulaw_expand(c) for c in range(256)}) == 255
    pos = [_ulaw_expand(c) for c in range(0x80, 0x100)]
    assert pos == sorted(pos, reverse=True) and min(pos) == 0
    neg = [_ulaw_expand(c) for c in range(0x00, 0x80)]
    assert neg == sorted(neg) and max(neg) == 0
    raw = bytearray(_encode_wav_ulaw(99, 32))
    ok = _decode_wav_ulaw(bytes(raw))
    assert ok[0] == 8000 and ok[1] == 32
    # PCM16 stream fed to the mu-law decoder fails by name
    from chi_frbcs_bigdatacs_spark.operators.multimodal import _encode_wav

    with pytest.raises(ValueError, match="mu-law"):
        _decode_wav_ulaw(_encode_wav(99, 32))
    # and the mu-law stream fails the PCM16 decoder
    from chi_frbcs_bigdatacs_spark.operators.multimodal import _decode_wav

    with pytest.raises(ValueError, match="PCM"):
        _decode_wav(bytes(raw))
    # RIFF length mismatch
    bad = bytearray(raw)
    bad[4] ^= 1
    with pytest.raises(ValueError, match="RIFF length"):
        _decode_wav_ulaw(bytes(bad))
