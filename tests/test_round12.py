"""Round-12 ADVICE regressions: the dictionary NULL-key crash, JPEG
0xFF fill bytes between scans (spec B.1.1.2), and the _ANY_JOIN_RE
ON-extent missing its ')' terminator inside parenthesized subqueries."""

from __future__ import annotations

import numpy as np
import pytest

from rsyslog_nginx_clickhouse_spark.functions.macros import (
    rewrite_any_join,
    sql,
)

# ----------------------------------------- dictionary NULL key --


def test_dictionary_null_key_raises_value_error(spark):
    """ADVICE r11 (medium): a source with exactly one NULL-key row
    used to crash with a bare IndexError — count_distinct skips
    NULLs so n != nd fired, but the count>1 duplicate probe found
    no rows and dup[0][0] indexed an empty list. Now the stats pass
    counts NULL keys directly and names them."""
    from rsyslog_nginx_clickhouse_spark.functions.dictionary import (
        declare_dictionary,
    )

    src = spark.createDataFrame([(1, "a"), (None, "b")],
                                "k int, nm string")
    with pytest.raises(ValueError, match="NULL key"):
        declare_dictionary(spark, "nullkd", src, key_col="k",
                           attrs={"nm": "'x'"}, style="join")
    assert not spark.catalog.tableExists("__dictsrc_nullkd")


def test_dictionary_null_key_among_duplicates_still_distinct_error(
        spark):
    """NULL keys are reported even when real duplicates coexist (the
    NULL check runs first — it is the one that used to crash)."""
    from rsyslog_nginx_clickhouse_spark.functions.dictionary import (
        declare_dictionary,
    )

    src = spark.createDataFrame([(1, "a"), (1, "b"), (None, "c")],
                                "k int, nm string")
    with pytest.raises(ValueError, match="NULL key"):
        declare_dictionary(spark, "nulldupd", src, key_col="k",
                           attrs={"nm": "'x'"}, style="join")


# ------------------------------------ JPEG 0xFF fill bytes --


def _with_fill_bytes(payload: bytes, n: int = 3) -> bytes:
    """Insert runs of 0xFF fill bytes (spec-legal, B.1.1.2) before
    the last DHT marker (between progressive scans) and before EOI.
    Raw FF C4 after the first SOS is a real marker — entropy data
    stuffs 0xFF as FF 00 — so byte-search is structurally safe."""
    assert payload.endswith(b"\xff\xd9")
    out = payload[:-2] + b"\xff" * n + payload[-2:]
    dht = out.rfind(b"\xff\xc4")
    assert dht > 0
    return out[:dht] + b"\xff" * n + out[dht:]


def test_jpeg_fill_bytes_between_progressive_scans():
    """ADVICE r11: segment_end treated a fill 0xFF as a marker start,
    so the marker loop read marker 0xFF and misparsed the next bytes
    as a segment length. Fill runs must be skipped and the decode
    must match the unpadded stream bit-exactly."""
    from rsyslog_nginx_clickhouse_spark.operators.multimodal import (
        decode_jpeg,
        render_progressive_jpeg_bytes,
    )

    clean = render_progressive_jpeg_bytes("round twelve fill bytes")
    padded = _with_fill_bytes(clean)
    assert padded != clean
    np.testing.assert_array_equal(decode_jpeg(padded),
                                  decode_jpeg(clean))


def test_jpeg_fill_bytes_before_baseline_eoi():
    from rsyslog_nginx_clickhouse_spark.operators.multimodal import (
        decode_jpeg,
        render_jpeg_bytes,
    )

    clean = render_jpeg_bytes("baseline fill")
    padded = clean[:-2] + b"\xff" * 4 + clean[-2:]
    np.testing.assert_array_equal(decode_jpeg(padded),
                                  decode_jpeg(clean))


# ------------------------- ANY JOIN ON inside a subquery --


def test_any_join_on_inside_parenthesized_subquery():
    """ADVICE r11: the ON-extent lookahead had no ')' terminator, so
    an ANY ... ON join inside a parenthesized subquery swallowed text
    past the closing paren into the ON group and refused with a
    misleading 'not a qualified equi-comparison'."""
    out = rewrite_any_join(
        "SELECT * FROM (SELECT f.k, d.v FROM facts f "
        "ANY LEFT JOIN dims d ON f.k = d.k) t WHERE t.v > 0")
    assert not __import__("re").search(r"(?i)\bANY\b", out)
    assert "GROUP BY k) __anyd1) AS d ON f.k = d.k) t" in out
    assert out.rstrip().endswith("WHERE t.v > 0")


def test_any_join_on_subquery_values(spark):
    spark.createDataFrame([(1,), (2,), (3,)], "k int") \
         .createOrReplaceTempView("r12_facts")
    spark.createDataFrame([(1, 10), (1, 99), (2, 20)], "k int, v int") \
         .createOrReplaceTempView("r12_dims")
    rows = sql(spark,
               "SELECT t.k, t.v FROM (SELECT f.k, d.v FROM r12_facts "
               "f ANY LEFT JOIN r12_dims d ON f.k = d.k) t "
               "WHERE t.v IS NOT NULL ORDER BY t.k").collect()
    # ANY keeps one match per key — the lexicographically-greatest
    # full right row (documented deterministic deviation)
    assert [(r.k, r.v) for r in rows] == [(1, 99), (2, 20)]


# ------------------------- JPEG 4:2:0 / 4:2:2 decode --


def test_jpeg_subsampled_matches_grayscale_reference():
    """The 4:2:0/4:2:2 color render keeps chroma neutral (128), so
    decoded RGB must equal the grayscale render of the same text —
    across single- and multi-MCU geometries."""
    from rsyslog_nginx_clickhouse_spark.operators.multimodal import (
        decode_jpeg,
        render_jpeg_bytes,
        render_jpeg_subsampled_bytes,
    )

    for sampling in ("420", "422"):
        for dims in ((16, 16), (32, 32), (48, 16)):
            w, h = dims
            sub = render_jpeg_subsampled_bytes("mcu order pin!", w, h,
                                               sampling)
            ref = render_jpeg_bytes("mcu order pin!", w, h)
            np.testing.assert_array_equal(decode_jpeg(sub),
                                          decode_jpeg(ref))


def _encode_subsampled_dc(y_dc, c_dc_pairs, width, height, hs, vs):
    """Hand-rolled interleaved-MCU entropy coder: per-block DC values
    (y_dc: Y-plane block raster; c_dc_pairs: (cb, cr) per chroma
    block raster), EOB after every block — an encoder INDEPENDENT of
    render_jpeg_subsampled_bytes' (shared bit-writer only)."""
    from rsyslog_nginx_clickhouse_spark.operators.multimodal import (
        _JPEG_AC_BITS,
        _JPEG_AC_VALS,
        _JPEG_DC_BITS,
        _JPEG_DC_VALS,
        _jpeg_canonical_codes,
        _JpegBitWriter,
    )

    dc_codes = _jpeg_canonical_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    eob = _jpeg_canonical_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)[0x00]
    wtr = _JpegBitWriter()
    pred = [0, 0, 0]

    def block(ci, dc):
        dc = int(dc)
        diff = dc - pred[ci]
        pred[ci] = dc
        t = abs(diff).bit_length()
        wtr.emit(*dc_codes[t])
        if t:
            wtr.emit(diff if diff >= 0 else diff + (1 << t) - 1, t)
        wtr.emit(*eob)

    bx = width // 8
    cbx = width // (8 * hs)
    for my in range(height // (8 * vs)):
        for mx in range(width // (8 * hs)):
            for dy in range(vs):
                for dx in range(hs):
                    block(0, y_dc[(my * vs + dy) * bx + mx * hs + dx])
            cb, cr = c_dc_pairs[my * cbx + mx]
            block(1, cb)
            block(2, cr)
    wtr.flush()

    def seg(marker, body):
        return (bytes([0xFF, marker])
                + (len(body) + 2).to_bytes(2, "big") + body)

    dqt = seg(0xDB, bytes([0x00]) + bytes(64 * [1]))
    sof = seg(0xC0, bytes([8]) + height.to_bytes(2, "big")
              + width.to_bytes(2, "big")
              + bytes([3, 1, (hs << 4) | vs, 0, 2, 0x11, 0,
                       3, 0x11, 0]))
    dht = seg(0xC4, bytes([0x00]) + bytes(_JPEG_DC_BITS)
              + bytes(_JPEG_DC_VALS) + bytes([0x10])
              + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS))
    sos = seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))
    return (b"\xFF\xD8" + dqt + sof + dht + sos + bytes(wtr.out)
            + b"\xFF\xD9")


def test_jpeg_420_nonneutral_chroma_against_numpy_reference():
    """Varying chroma per chroma-block pins what neutral chroma
    cannot: chroma-plane MCU placement, the independent per-component
    DC predictors, the nearest upsample geometry, and the BT.601
    conversion — all checked against a from-scratch numpy oracle."""
    from rsyslog_nginx_clickhouse_spark.operators.multimodal import (
        decode_jpeg,
    )

    w = h = 32
    hs = vs = 2
    rng = np.random.RandomState(12)
    n_y, n_c = (w // 8) * (h // 8), (w // 16) * (h // 16)
    y_vals = rng.randint(40, 216, size=n_y)
    cb_vals = rng.randint(90, 166, size=n_c)
    cr_vals = rng.randint(90, 166, size=n_c)
    payload = _encode_subsampled_dc(
        [8 * (v - 128) for v in y_vals],
        [(8 * (cb - 128), 8 * (cr - 128))
         for cb, cr in zip(cb_vals, cr_vals)], w, h, hs, vs)
    got = decode_jpeg(payload)

    # independent reference: constant blocks -> planes -> repeat -> BT.601
    ypl = np.repeat(np.repeat(
        y_vals.reshape(h // 8, w // 8), 8, 0), 8, 1).astype(np.float64)
    cpl = [np.repeat(np.repeat(np.repeat(np.repeat(
        v.reshape(h // 16, w // 16), 8, 0), 8, 1), vs, 0), hs, 1)
        .astype(np.float64) for v in (cb_vals, cr_vals)]
    cb, cr = cpl[0] - 128.0, cpl[1] - 128.0
    exp = np.stack([
        np.clip(np.round(ypl + 1.402 * cr), 0, 255),
        np.clip(np.round(ypl - 0.344136 * cb - 0.714136 * cr), 0, 255),
        np.clip(np.round(ypl + 1.772 * cb), 0, 255)],
        axis=2).astype(np.uint8)
    np.testing.assert_array_equal(got, exp)


def test_jpeg_422_nonneutral_chroma_against_numpy_reference():
    from rsyslog_nginx_clickhouse_spark.operators.multimodal import (
        decode_jpeg,
    )

    w, h = 32, 16
    rng = np.random.RandomState(34)
    n_y, n_c = (w // 8) * (h // 8), (w // 16) * (h // 8)
    y_vals = rng.randint(40, 216, size=n_y)
    cb_vals = rng.randint(90, 166, size=n_c)
    cr_vals = rng.randint(90, 166, size=n_c)
    payload = _encode_subsampled_dc(
        [8 * (v - 128) for v in y_vals],
        [(8 * (cb - 128), 8 * (cr - 128))
         for cb, cr in zip(cb_vals, cr_vals)], w, h, 2, 1)
    got = decode_jpeg(payload)

    ypl = np.repeat(np.repeat(
        y_vals.reshape(h // 8, w // 8), 8, 0), 8, 1).astype(np.float64)
    cpl = [np.repeat(np.repeat(np.repeat(
        v.reshape(h // 8, w // 16), 8, 0), 8, 1), 2, 1)
        .astype(np.float64) for v in (cb_vals, cr_vals)]
    cb, cr = cpl[0] - 128.0, cpl[1] - 128.0
    exp = np.stack([
        np.clip(np.round(ypl + 1.402 * cr), 0, 255),
        np.clip(np.round(ypl - 0.344136 * cb - 0.714136 * cr), 0, 255),
        np.clip(np.round(ypl + 1.772 * cb), 0, 255)],
        axis=2).astype(np.uint8)
    np.testing.assert_array_equal(got, exp)


def test_jpeg_subsampled_renderer_refusals():
    from rsyslog_nginx_clickhouse_spark.operators.multimodal import (
        render_jpeg_subsampled_bytes,
    )

    with pytest.raises(ValueError, match="ASCII"):
        render_jpeg_subsampled_bytes("")
    with pytest.raises(ValueError, match="ASCII"):
        render_jpeg_subsampled_bytes("héllo")
    with pytest.raises(ValueError, match="MCU"):
        render_jpeg_subsampled_bytes("x", width=8, height=8)
    with pytest.raises(ValueError, match="sampling"):
        render_jpeg_subsampled_bytes("x", sampling="444")


# ------------------- deltaSumTimestamp / topKWeightedIf --


def test_delta_sum_timestamp_fold(spark):
    """Self-ordering: the second argument is the order key — no
    sorted subquery required; NULL value or NULL ts rows are skipped
    without breaking the prev chain."""
    spark.createDataFrame(
        [(1, 10, 5.0), (1, 20, 3.0), (1, 30, 8.0),
         (2, 30, 1.0), (2, 10, 4.0), (2, 20, 2.0),
         (3, 10, 1.0), (3, 20, None), (3, 30, 5.0),
         (4, None, 7.0), (4, 10, 3.0), (4, 20, 9.0)],
        "k int, t int, v double").createOrReplaceTempView("r12_dst")
    rows = sql(spark, "SELECT k, deltaSumTimestamp(v, t) AS ds "
                      "FROM r12_dst GROUP BY k ORDER BY k").collect()
    assert [(r.k, r.ds) for r in rows] == [
        (1, 5.0), (2, 0.0), (3, 4.0), (4, 6.0)]


def test_delta_sum_timestamp_arity_refused():
    from rsyslog_nginx_clickhouse_spark.functions.macros import (
        rewrite_group_array,
    )

    with pytest.raises(ValueError, match="exactly"):
        rewrite_group_array("SELECT deltaSumTimestamp(v) FROM t")
    with pytest.raises(ValueError, match="exactly"):
        rewrite_group_array(
            "SELECT deltaSumTimestamp(v, t, z) FROM t")


def test_topk_weighted_if_values(spark):
    spark.createDataFrame(
        [(1, "a", 1.0, True), (1, "a", 5.0, False), (1, "b", 3.0, True),
         (1, "c", 2.0, True), (1, "b", 1.0, True), (2, "x", 9.0, False)],
        "k int, v string, w double, ok boolean") \
        .createOrReplaceTempView("r12_twi")
    rows = sql(spark, "SELECT k, topKWeightedIf(2)(v, w, ok) AS t "
                      "FROM r12_twi GROUP BY k ORDER BY k").collect()
    # k=1 qualifying weights: a=1, b=4, c=2 -> [b, c]; k=2: none
    assert [(r.k, list(r.t)) for r in rows] == [(1, ["b", "c"]),
                                                (2, [])]
    # bare-k default (k=10) and a NULL weight skipped like false cond
    rows = sql(spark, "SELECT k, topKWeightedIf(v, w, ok) AS t "
                      "FROM r12_twi GROUP BY k ORDER BY k").collect()
    assert [list(r.t) for r in rows] == [["b", "c", "a"], []]


def test_topk_weighted_if_arity_refused():
    from rsyslog_nginx_clickhouse_spark.functions.macros import (
        rewrite_aggregates,
    )

    with pytest.raises(ValueError, match="exactly 3"):
        rewrite_aggregates("SELECT topKWeightedIf(2)(v, w) FROM t")
    # unknown further combinators still refuse loudly
    with pytest.raises(ValueError, match="topK"):
        rewrite_aggregates("SELECT topKWeightedIfState(2)(v, w, c) FROM t")


# ------------------------------ y4m C420/C422 decode --


def test_y4m_subsampled_matches_c444():
    from rsyslog_nginx_clickhouse_spark.operators.multimodal import (
        decode_y4m,
        render_y4m_bytes,
    )

    ref = decode_y4m(render_y4m_bytes("y4m four twenty"))
    for cs in ("C420", "C422"):
        got = decode_y4m(render_y4m_bytes("y4m four twenty",
                                          colorspace=cs))
        np.testing.assert_array_equal(got, ref)


def test_y4m_420_nonneutral_chroma_replication_geometry():
    """Non-neutral chroma pins what the shared oracle cannot: plane
    sizes, read offsets, and the replication upsample — including
    the default-colorspace (no C token) and siting-variant paths."""
    from rsyslog_nginx_clickhouse_spark.operators.multimodal import (
        decode_y4m,
    )

    y = np.arange(16, dtype=np.uint8).reshape(4, 4)
    u = np.array([[10, 20], [30, 40]], dtype=np.uint8)
    v = np.array([[50, 60], [70, 80]], dtype=np.uint8)
    pay = (b"YUV4MPEG2 W4 H4 C420\nFRAME\n"
           + y.tobytes() + u.tobytes() + v.tobytes())
    got = decode_y4m(pay)
    np.testing.assert_array_equal(got[0, :, :, 0], y)
    np.testing.assert_array_equal(
        got[0, :, :, 1], np.repeat(np.repeat(u, 2, 0), 2, 1))
    np.testing.assert_array_equal(
        got[0, :, :, 2], np.repeat(np.repeat(v, 2, 0), 2, 1))
    # C420 is the default when the header carries no C token
    np.testing.assert_array_equal(
        decode_y4m(b"YUV4MPEG2 W4 H4\nFRAME\n" + y.tobytes()
                   + u.tobytes() + v.tobytes()), got)
    # siting variants differ only for resampling filters — identical
    # under replication upsample (documented deviation)
    for cs in (b"C420jpeg", b"C420mpeg2", b"C420paldv"):
        np.testing.assert_array_equal(
            decode_y4m(pay.replace(b"C420\n", cs + b"\n")), got)


def test_y4m_unsupported_colorspace_rejects():
    from rsyslog_nginx_clickhouse_spark.operators.multimodal import (
        decode_y4m,
    )

    with pytest.raises(NotImplementedError, match="C411"):
        decode_y4m(b"YUV4MPEG2 W4 H4 C411\nFRAME\n" + bytes(24))
    with pytest.raises(NotImplementedError, match="even"):
        decode_y4m(b"YUV4MPEG2 W3 H3 C420\nFRAME\n" + bytes(12))


# --------------------------- WAV stereo / 8-bit decode --


def test_wav_stereo_and_8bit_match_mono16():
    from rsyslog_nginx_clickhouse_spark.operators.multimodal import (
        decode_wav,
        render_wav_bytes,
    )

    ref = decode_wav(render_wav_bytes("stereo eight bit"))
    for kw in ({"channels": 2}, {"bits": 8},
               {"channels": 2, "bits": 8}, {"channels": 3}):
        np.testing.assert_array_equal(
            decode_wav(render_wav_bytes("stereo eight bit", **kw)),
            ref)


def test_wav_asymmetric_stereo_floor_mean_downmix():
    import struct

    from rsyslog_nginx_clickhouse_spark.operators.multimodal import (
        decode_wav,
    )

    left = np.array([100, -101], dtype="<i2")
    right = np.array([200, -100], dtype="<i2")
    inter = np.empty(4, dtype="<i2")
    inter[0::2], inter[1::2] = left, right
    fmt = struct.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
    body = (b"WAVE" + b"fmt " + len(fmt).to_bytes(4, "little") + fmt
            + b"data" + (8).to_bytes(4, "little") + inter.tobytes())
    got = decode_wav(b"RIFF" + len(body).to_bytes(4, "little") + body)
    # (100+200)//2 = 150; (-101-100)//2 floors to -101
    assert got.tolist() == [150, -101]


def test_wav_unsupported_forms_still_reject():
    import struct

    from rsyslog_nginx_clickhouse_spark.operators.multimodal import (
        decode_wav,
    )

    for afmt, bits in ((3, 32), (1, 24), (85, 16)):  # float/24-bit/mp3
        fmt = struct.pack("<HHIIHH", afmt, 1, 8000, 16000, 2, bits)
        body = (b"WAVE" + b"fmt " + len(fmt).to_bytes(4, "little")
                + fmt + b"data" + (0).to_bytes(4, "little"))
        with pytest.raises(NotImplementedError, match="PCM"):
            decode_wav(b"RIFF" + len(body).to_bytes(4, "little")
                       + body)


# ---------------- JPEG: progressive DRI + 16-bit DQT --


def test_jpeg_progressive_restart_intervals():
    """DRI in a progressive stream (previously a loud reject): DC
    predictors and EOB runs reset at each RSTn, entropy data
    byte-aligns before the marker."""
    from rsyslog_nginx_clickhouse_spark.operators.multimodal import (
        _JPEG_DC_BITS,
        _JPEG_DC_VALS,
        _JPEG_PROG_AC_BITS,
        _JPEG_PROG_AC_VALS,
        _jpeg_canonical_codes,
        _jpeg_headers,
        _JpegBitWriter,
        decode_jpeg,
    )

    dc_codes = _jpeg_canonical_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_canonical_codes(_JPEG_PROG_AC_BITS,
                                     _JPEG_PROG_AC_VALS)

    def seg(marker, body):
        return (bytes([0xFF, marker])
                + (len(body) + 2).to_bytes(2, "big") + body)

    def dc_interval(dcs):
        w = _JpegBitWriter()
        prev = 0
        for dc in dcs:
            diff, prev = dc - prev, dc
            t = abs(diff).bit_length()
            w.emit(*dc_codes[t])
            if t:
                w.emit(diff if diff >= 0 else diff + (1 << t) - 1, t)
        w.flush()
        return bytes(w.out)

    def eob_run(n):  # one EOBn code covering n all-zero blocks
        w = _JpegBitWriter()
        r = n.bit_length() - 1
        w.emit(*ac_codes[r << 4])
        if r:
            w.emit(n - (1 << r), r)
        w.flush()
        return bytes(w.out)

    vals = [65, 66, 67, 68]  # block constants (DC = 8*(v-128))
    payload = bytearray(_jpeg_headers(16, 16, 0xC2,
                                      _JPEG_PROG_AC_BITS,
                                      _JPEG_PROG_AC_VALS))
    payload += seg(0xDD, (2).to_bytes(2, "big"))  # DRI = 2 MCUs
    # scan 1: DC first, two restart intervals of 2 blocks each
    payload += seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0]))
    payload += dc_interval([8 * (v - 128) for v in vals[:2]])
    payload += b"\xFF\xD0"  # RST0
    payload += dc_interval([8 * (v - 128) for v in vals[2:]])
    # scan 2: AC first 1..63, all zero — EOB run split by the restart
    payload += seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0]))
    payload += eob_run(2)
    payload += b"\xFF\xD1"  # RST1
    payload += eob_run(2)
    payload += b"\xFF\xD9"
    img = decode_jpeg(bytes(payload))
    exp = np.zeros((16, 16), dtype=np.uint8)
    for b, v in enumerate(vals):
        exp[(b // 2) * 8:(b // 2) * 8 + 8,
            (b % 2) * 8:(b % 2) * 8 + 8] = v
    np.testing.assert_array_equal(img, np.stack([exp] * 3, axis=2))


def test_jpeg_16bit_dqt_precision():
    """pq=1 DQT (2-byte big-endian entries, previously rejected):
    an all-ones 16-bit table decodes identically to the 8-bit one."""
    from rsyslog_nginx_clickhouse_spark.operators.multimodal import (
        decode_jpeg,
        render_jpeg_bytes,
    )

    good = render_jpeg_bytes("sixteen bit dqt")
    dqt = good.index(b"\xFF\xDB")
    # replace the 8-bit all-ones table (pq/tq byte 0x00 + 64 bytes)
    # with the 16-bit form (0x10 + 128 bytes), fixing the length
    body = b"\x10" + b"\x00\x01" * 64
    patched = (good[:dqt + 2] + (len(body) + 2).to_bytes(2, "big")
               + body + good[dqt + 4 + 65:])
    np.testing.assert_array_equal(decode_jpeg(patched),
                                  decode_jpeg(good))
    # illegal precision nibble still rejects
    bad = (good[:dqt + 4] + b"\x20" + good[dqt + 5:])
    with pytest.raises(ValueError, match="precision"):
        decode_jpeg(bad)


# ------------------ round-12 SQL-surface breadth package --


def test_uniq_upto_rewrite_and_refusal():
    from rsyslog_nginx_clickhouse_spark.functions.macros import (
        rewrite_aggregates,
    )

    out = rewrite_aggregates("SELECT uniqUpTo(3)(u) FROM t")
    assert "least(count(DISTINCT u), 4)" in out
    with pytest.raises(ValueError, match="uniqUpTo"):
        rewrite_aggregates("SELECT uniqUpTo(u) FROM t")


def test_stat_and_bit_renames():
    from rsyslog_nginx_clickhouse_spark.functions.macros import (
        rewrite_aggregates,
    )

    out = rewrite_aggregates(
        "SELECT covarPop(a, b), stddevSamp(a), varPop(a), "
        "groupBitAnd(x), groupBitXor(x) FROM t")
    for got in ("covar_pop(", "stddev_samp(", "var_pop(",
                "bit_and(", "bit_xor("):
        assert got in out, out
    # CH corr == Spark corr: untouched
    q = "SELECT corr(a, b) FROM t"
    assert rewrite_aggregates(q) == q


def test_sum_map_values(spark):
    spark.createDataFrame(
        [(1, "a", 2.0), (1, "a", 3.0), (1, "b", 5.0), (2, "c", 1.0),
         (1, None, 9.0), (1, "d", None)],
        "g int, k string, v double").createOrReplaceTempView("r12_sm")
    rows = sql(spark, """
      SELECT g,
             arrayStringConcat(transform(sumMap(k, v),
                 s -> concat(s.k, ':', CAST(s.v AS INT))), ',') AS sm,
             arrayStringConcat(transform(minMap(k, v),
                 s -> concat(s.k, ':', CAST(s.v AS INT))), ',') AS mn,
             arrayStringConcat(transform(maxMap(k, v),
                 s -> concat(s.k, ':', CAST(s.v AS INT))), ',') AS mx
      FROM r12_sm GROUP BY g ORDER BY g""").collect()
    # NULL k and NULL v rows skipped (CH aggregate contract)
    assert [(r.g, r.sm) for r in rows] == [(1, "a:5,b:5"), (2, "c:1")]
    assert rows[0].mn == "a:2,b:5" and rows[0].mx == "a:3,b:5"


def test_sum_map_arity_refused():
    from rsyslog_nginx_clickhouse_spark.functions.macros import (
        rewrite_aggregates,
    )

    with pytest.raises(ValueError, match="exactly 2"):
        rewrite_aggregates("SELECT sumMap(k) FROM t")


def test_array_difference_and_cumsum_values(spark):
    rows = sql(spark, """
      SELECT arrayStringConcat(transform(
               arrayDifference(array(5, 9, 2)),
               x -> CAST(x AS STRING)), ',') AS d,
             arrayStringConcat(transform(
               arrayCumSum(array(5, 9, 2)),
               x -> CAST(x AS STRING)), ',') AS c""").collect()
    assert rows[0].d == "0,4,-7" and rows[0].c == "5,14,16"
    # empty array passes through
    rows = sql(spark, "SELECT size(arrayCumSum(array())) AS n") \
        .collect()
    assert rows[0].n == 0


def test_sum_count_struct(spark):
    spark.createDataFrame([(1, 2.0), (1, 3.0), (1, None)],
                          "g int, v double") \
        .createOrReplaceTempView("r12_sc")
    rows = sql(spark, "SELECT g, sumCount(v).s AS s, sumCount(v).c "
                      "AS c FROM r12_sc GROUP BY g").collect()
    # NULLs skipped by BOTH halves (the CH Nullable contract)
    assert (rows[0].s, rows[0].c) == (5.0, 2)


def test_group_array_moving_forms(spark):
    spark.createDataFrame(
        [(1, 1, 5.0), (1, 2, 3.0), (1, 3, 8.0), (1, 4, None),
         (2, 1, 2.0)],
        "g int, o int, v double").createOrReplaceTempView("r12_gma")
    rows = sql(spark, """
      SELECT g,
             arrayStringConcat(transform(groupArrayMovingSum(v),
                 x -> CAST(CAST(x AS INT) AS STRING)), ',') AS ms,
             arrayStringConcat(transform(groupArrayMovingSum(2)(v),
                 x -> CAST(CAST(x AS INT) AS STRING)), ',') AS ms2,
             arrayStringConcat(transform(groupArrayMovingAvg(2)(v),
                 x -> CAST(x AS STRING)), ',') AS ma2
      FROM (SELECT g, o, v FROM r12_gma ORDER BY o)
      GROUP BY g ORDER BY g""").collect()
    # g=1 values in o order, NULL skipped: [5,3,8]
    assert rows[0].ms == "5,8,16"       # unbounded prefix sums
    assert rows[0].ms2 == "5,8,11"      # window 2
    assert rows[0].ma2 == "2.5,4.0,5.5"  # divide by n=2 ALWAYS (CH)
    assert rows[1].ms == "2"
    # unbounded avg divides by the TOTAL count (the CH quirk)
    rows = sql(spark, """
      SELECT arrayStringConcat(transform(groupArrayMovingAvg(v),
                 x -> CAST(round(x, 4) AS STRING)), ',') AS ma
      FROM (SELECT g, o, v FROM r12_gma WHERE g = 1 ORDER BY o)
      GROUP BY g""").collect()
    assert rows[0].ma == "1.6667,2.6667,5.3333"


def test_group_array_moving_refusals():
    from rsyslog_nginx_clickhouse_spark.functions.macros import (
        rewrite_group_array,
    )

    # order-dependent: the sorted-subquery idiom is still required
    with pytest.raises(ValueError, match="order-dependent"):
        rewrite_group_array(
            "SELECT groupArrayMovingSum(v) FROM t GROUP BY g")
    # expression-valued window parameter refused (the topK policy)
    with pytest.raises(ValueError, match="literal integer"):
        rewrite_group_array(
            "SELECT groupArrayMovingSum(n)(v) "
            "FROM (SELECT v, o FROM t ORDER BY o) GROUP BY g")


def test_jpeg_411_generic_sampling_factors():
    """The decoder accepts ANY integer-ratio factor combo — 4:1:1
    (hs=4, MCU 32x8) pins the generic geometry beyond the rendered
    420/422 forms."""
    from rsyslog_nginx_clickhouse_spark.operators.multimodal import (
        decode_jpeg,
    )

    w, h = 32, 8
    rng = np.random.RandomState(56)
    n_y, n_c = (w // 8) * (h // 8), (w // 32) * (h // 8)
    y_vals = rng.randint(40, 216, size=n_y)
    cb = rng.randint(90, 166, size=n_c)
    cr = rng.randint(90, 166, size=n_c)
    payload = _encode_subsampled_dc(
        [8 * (v - 128) for v in y_vals],
        [(8 * (a - 128), 8 * (b - 128)) for a, b in zip(cb, cr)],
        w, h, 4, 1)
    got = decode_jpeg(payload)
    ypl = np.repeat(np.repeat(
        y_vals.reshape(h // 8, w // 8), 8, 0), 8, 1).astype(np.float64)
    cpl = [np.repeat(np.repeat(np.repeat(
        v.reshape(h // 8, w // 32), 8, 0), 8, 1), 4, 1)
        .astype(np.float64) for v in (cb, cr)]
    cbp, crp = cpl[0] - 128.0, cpl[1] - 128.0
    exp = np.stack([
        np.clip(np.round(ypl + 1.402 * crp), 0, 255),
        np.clip(np.round(ypl - 0.344136 * cbp - 0.714136 * crp),
                0, 255),
        np.clip(np.round(ypl + 1.772 * cbp), 0, 255)],
        axis=2).astype(np.uint8)
    np.testing.assert_array_equal(got, exp)


def test_quantile_exact_weighted(spark):
    spark.createDataFrame(
        [(1, 10.0, 1), (1, 20.0, 2), (1, 30.0, 4),
         (2, 5.0, 1), (2, None, 9), (2, 7.0, None)],
        "g int, x double, w int").createOrReplaceTempView("r12_qew")
    rows = sql(spark, """
      SELECT g, quantileExactWeighted(0.5)(x, w) AS q,
             medianExactWeighted(x, w) AS m,
             quantileExactWeighted(x, w) AS qd,
             quantileExactWeighted(0.9)(x, w) AS q9
      FROM r12_qew GROUP BY g ORDER BY g""").collect()
    # g=1: total 7, thr floor(3.5)=3 -> cum 1,3,7 crosses at 20;
    # p=0.9: thr floor(6.3)=6 -> crosses at 30
    assert (rows[0].q, rows[0].m, rows[0].qd, rows[0].q9) == \
        (20.0, 20.0, 20.0, 30.0)
    # NULL x / NULL w rows skipped -> only (5, 1) remains
    assert rows[1].q == 5.0


def test_quantile_exact_weighted_refusals():
    from rsyslog_nginx_clickhouse_spark.functions.macros import (
        rewrite_aggregates,
    )

    with pytest.raises(ValueError, match="literal fraction"):
        rewrite_aggregates(
            "SELECT quantileExactWeighted(p)(x, w) FROM t")
    with pytest.raises(ValueError, match="exactly 2"):
        rewrite_aggregates(
            "SELECT quantileExactWeighted(0.5)(x) FROM t")


def test_retention_sql_rewrite(spark):
    spark.createDataFrame(
        [(1, "view"), (1, "click"), (2, "view"), (3, "click"),
         (3, "purchase")],
        "u int, t string").createOrReplaceTempView("r12_ret")
    rows = sql(spark, """
      SELECT u, arrayStringConcat(transform(
               retention(t = 'view', t = 'click', t = 'purchase'),
               x -> CAST(x AS STRING)), ',') AS r
      FROM r12_ret GROUP BY u ORDER BY u""").collect()
    # group-existential: u3 has click+purchase but NO view -> all 0
    assert [(r.u, r.r) for r in rows] == [
        (1, "1,1,0"), (2, "1,0,0"), (3, "0,0,0")]


def test_retention_arity_refused():
    from rsyslog_nginx_clickhouse_spark.functions.macros import (
        rewrite_aggregates,
    )

    with pytest.raises(ValueError, match="2-32"):
        rewrite_aggregates("SELECT retention(c1) FROM t")


def test_array_compact_and_enumerate(spark):
    rows = sql(spark, """
      SELECT arrayStringConcat(transform(
               arrayCompact(array(1,1,2,2,1,3,3)),
               x -> CAST(x AS STRING)), ',') AS c,
             arrayStringConcat(transform(arrayEnumerate(array(9,8,7)),
               x -> CAST(x AS STRING)), ',') AS e,
             size(arrayEnumerate(array())) AS z""").collect()
    assert rows[0].c == "1,2,1,3"
    assert rows[0].e == "1,2,3" and rows[0].z == 0


# ------------------------- streaming windowFunnel state --


def test_streaming_funnel_state_across_epochs_out_of_order(
        spark, tmp_path):
    """Multi-epoch state: the second file delivers an EARLIER view
    that completes u2's chain — the state list re-sorts at every
    fold (merge-order independence, the property CH's state merge
    relies on), so the final level reflects the full history."""
    import pandas as pd
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    from rsyslog_nginx_clickhouse_spark.operators.funnel import (
        funnel_level,
    )

    US = 1_000_000
    d = tmp_path / "ev"
    d.mkdir()
    # epoch 1: u1 full chain; u2 click+purchase only (level 0)
    pd.DataFrame({
        "user_id": [1, 1, 1, 2, 2],
        "t": [100 * US, 150 * US, 190 * US, 150 * US, 190 * US],
        "event_type": ["view", "click", "purchase", "click",
                       "purchase"],
    }).to_parquet(d / "a.parquet")
    # epoch 2: u2's view arrives LATE but timestamped EARLIEST
    pd.DataFrame({
        "user_id": [2], "t": [100 * US], "event_type": ["view"],
    }).to_parquet(d / "b.parquet")

    lv_of = {"view": 1, "click": 2, "purchase": 3}

    def update(key, pdfs, state: GroupState):
        ts_l, lv_l = ([list(a) for a in state.get]
                      if state.exists else ([], []))
        for pdf in pdfs:
            lv = pdf["event_type"].map(lv_of)
            keep = lv.notna()
            ts_l.extend(int(t) for t in pdf["t"][keep])
            lv_l.extend(int(v) for v in lv[keep])
        state.update((ts_l, lv_l))
        yield pd.DataFrame({
            "user_id": [key[0]], "n_seen": [len(ts_l)],
            "funnel_level": [funnel_level(
                sorted(zip(ts_l, lv_l)), 3, 1000 * US)]})

    src = (spark.readStream
           .schema("user_id long, t long, event_type string")
           .option("maxFilesPerTrigger", "1")
           .parquet(str(d)))
    out = src.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_seen long, "
                         "funnel_level int",
        stateStructType="ts array<long>, lv array<int>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout)
    q = (out.writeStream.format("memory").queryName("sfun")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql(
        "SELECT user_id, max_by(funnel_level, n_seen) AS lvl "
        "FROM sfun GROUP BY user_id ORDER BY user_id").collect()
    assert [(r.user_id, r.lvl) for r in rows] == [(1, 3), (2, 3)]
    # and u2's FIRST epoch (2 events) must have been level 0
    first = spark.sql("SELECT funnel_level FROM sfun WHERE "
                      "user_id = 2 AND n_seen = 2").collect()
    assert [r.funnel_level for r in first] == [0]


def test_behavioral_aggregates_rewrite_inline():
    """Round 13 (VERDICT r12 item 3) replaced the r12 pointer-refusal
    with real inline rewrites: the verbatim CH spellings now emit
    aggregate()/RLIKE expressions (no CH name may survive into
    Spark's parser), and string DATA stays byte-identical."""
    from rsyslog_nginx_clickhouse_spark.functions.macros import (
        rewrite_aggregates,
    )

    out = rewrite_aggregates(
        "SELECT windowFunnel(3600)(ts, a, b) FROM t GROUP BY u")
    assert "windowFunnel" not in out and "aggregate(" in out
    out = rewrite_aggregates(
        "SELECT sequenceMatch('(?1).*(?2)')(ts, a, b) FROM t "
        "GROUP BY u")
    assert "sequenceMatch" not in out and "RLIKE" in out
    out = rewrite_aggregates(
        "SELECT sequenceCount('(?1).*(?2)')(ts, a, b) FROM t "
        "GROUP BY u")
    assert "sequenceCount" not in out and "regexp_extract_all" in out
    # string DATA mentioning them stays byte-identical
    q = "SELECT 'windowFunnel(1)(t, c)' AS s FROM t"
    assert rewrite_aggregates(q) == q
