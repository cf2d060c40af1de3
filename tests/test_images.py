"""Image payload plumbing: codec invariants, synth->derive round trip through
real Spark mapInPandas stages, and corrupt-payload failure."""

import numpy as np
import pytest

import efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark as eng
from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.functions import (
    images as I,
)
from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.sources.image_table import (
    derive_instances,
    synthesize_image_table,
)


def test_png_roundtrip_lossless():
    px = I.synth_pixels("A1")
    out, fmt = I.decode(I.encode(px, "png"))
    assert fmt == "png" and np.array_equal(out, px)


def test_jpeg_lossy_psnr_above_floor():
    px = I.synth_pixels("B7")
    out, fmt = I.decode(I.encode(px, "jpeg"))
    assert fmt == "jpeg"
    p = I.psnr(px, out)
    assert 40.0 <= p < 60.0, p
    # quantization is idempotent: re-encode of decoded == same payload
    assert I.encode(out, "jpeg")[12:] == I.encode(px, "jpeg")[12:]


def test_decode_rejects_garbage():
    with pytest.raises(ValueError, match="magic"):
        I.decode(b"NOPE" + b"\x00" * 16)
    with pytest.raises(ValueError, match="size"):
        I.decode(I.MAGIC_PNG + (5).to_bytes(4, "big") + (5).to_bytes(4, "big") + b"\x01")


def test_dhash_stable_and_sensitive():
    a = I.dhash64(I.synth_pixels("A1"))
    assert a == I.dhash64(I.synth_pixels("A1"))
    assert isinstance(a, int)
    # int64-representable (parquet BIGINT)
    assert -(2**63) <= a < 2**63


def test_synthesize_then_derive_roundtrip(spark, generated):
    images = synthesize_image_table(generated.df)
    assert images.schema.simpleString() == (
        "struct<image_id:string,bytes:binary,w:int,h:int,fmt:string,"
        "caption:string,phash:bigint>"
    )
    derived = derive_instances(images, verify=True)
    orig = set(generated.rows)
    got = {(r.feature, r.id, r.x, r.y) for r in derived.collect()}
    assert got == orig  # exact doubles through repr() captions
    fmts = {r.fmt for r in images.select("fmt").distinct().collect()}
    assert fmts == {"png", "jpeg"}  # both codec paths exercised


def test_derive_rejects_corrupt_payload(spark, generated):
    from pyspark.sql import functions as F

    images = synthesize_image_table(generated.df)
    corrupt = images.withColumn(
        "bytes", F.when(F.col("image_id") == "A1", F.lit(b"JUNK")).otherwise(F.col("bytes"))
    )
    with pytest.raises(Exception, match="magic|payload"):
        derive_instances(corrupt, verify=True).collect()


def test_mining_through_image_table_matches_direct(spark, generated):
    """Full-stack: image table -> derive -> mine == the oracle's mine of
    the instances."""
    derived = derive_instances(synthesize_image_table(generated.df))
    cfg = eng.ColocationConfig(generated.d, generated.min_prev)
    res = eng.ColocationMiner(spark, cfg).mine(derived)
    assert res.pair_count == len(generated.info["pairs"])
    assert {tuple(p) for p in res.patterns} == generated.patterns


def test_phash_duplicates_matches_bruteforce(spark, generated):
    import itertools

    from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.operators.dedup import (
        phash_duplicates,
    )

    images = synthesize_image_table(generated.df)
    sigs = {r.image_id: r.phash for r in images.select("image_id", "phash").collect()}
    for t in (0, 4, 10):
        got = {
            (r.a_id, r.b_id, r.hamming) for r in phash_duplicates(images, t).collect()
        }
        expect = {
            (min(a, b), max(a, b), bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1"))
            for a, b in itertools.combinations(sigs, 2)
            if bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1") <= t
        }
        assert got == expect, t


def test_hamming_near_duplicates_remainder_chunks_and_sign(spark):
    # 64-bit sigs with the top bit set (negative longs) and a chunk layout
    # with a remainder (64 % 9 != 0): the blocking must stay lossless.
    import itertools

    from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.operators.dedup import (
        hamming_near_duplicates,
    )

    def i64(u):  # unsigned 64-bit -> signed long
        return ((u + 2**63) % 2**64) - 2**63

    base = (1 << 63) | 0x1234  # top bit set -> negative long
    rows = [
        ("s0", i64(base)),
        ("s1", i64(base ^ 0b1)),                    # ham 1
        ("s2", i64(base ^ (0b11 << 60))),           # ham 2, high bits
        ("s3", i64(base ^ ((1 << 63) - 1) // 3)),   # far away
        ("s4", i64(base ^ (0xFF << 56))),           # ham 8, all in top chunk
    ]
    df = spark.createDataFrame(rows, "doc_id string, sig long")
    sigs = dict(rows)
    for t in (1, 2, 8):
        got = {
            (r.a_id, r.b_id, r.hamming)
            for r in hamming_near_duplicates(df, t, 64).collect()
        }
        expect = {
            (a, b, bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1"))
            for a, b in itertools.combinations(sorted(sigs), 2)
            if bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1") <= t
        }
        assert got == expect, t


def test_decode_routes_real_payloads_to_pil(monkeypatch):
    """Round-6 verdict #8: when PIL is installed, decode() hands every
    non-FPNG/FJPG payload to the real codec, so real corpora flow
    through the same mapInPandas operators.  PIL is absent in this
    container, so the routing is exercised with a faithful fake that
    emulates Image.open(BytesIO).convert('RGB') -> ndarray."""
    import sys
    import types

    import numpy as np

    from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.functions import (
        images as I,
    )

    px = I.synth_pixels("route-test", 8, 6)

    class FakeImg:
        format = "JPEG"

        def convert(self, mode):
            assert mode == "RGB"
            return self

        def __array__(self, dtype=None, copy=None):
            return px.astype(dtype or np.uint8)

    fake_image_mod = types.ModuleType("PIL.Image")
    fake_image_mod.open = lambda bio: FakeImg()
    fake_pil = types.ModuleType("PIL")
    fake_pil.Image = fake_image_mod
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", fake_image_mod)
    monkeypatch.setattr(I, "HAVE_PIL", True)

    got_px, got_fmt = I.decode(b"\xff\xd8\xffrest-of-a-real-jpeg")
    assert got_fmt == "jpeg"
    assert np.array_equal(got_px, px)
    # fake-codec payloads still take the hermetic path with PIL "present"
    rt, fmt = I.decode(I.encode(px, "png"))
    assert fmt == "png" and np.array_equal(rt, px)
    # out-of-contract formats fail at decode time instead of being
    # relabeled "png" — relabeling would let a mislabeled (say, lossy
    # WebP) payload slip past image_table's fmt_dec != fmt integrity
    # check and flow through the pipeline as the lossless member
    FakeImg.format = "WEBP"
    with pytest.raises(ValueError, match="outside the"):
        I.decode_real(b"RIFFxxxxWEBPdata")


def test_decode_real_error_contract(monkeypatch):
    """Undecodable bytes surface as ValueError (same contract as the fake
    codec), never a raw PIL exception."""
    import sys
    import types

    from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.functions import (
        images as I,
    )

    fake_image_mod = types.ModuleType("PIL.Image")

    def _boom(bio):
        raise OSError("cannot identify image file")

    fake_image_mod.open = _boom
    fake_pil = types.ModuleType("PIL")
    fake_pil.Image = fake_image_mod
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", fake_image_mod)
    monkeypatch.setattr(I, "HAVE_PIL", True)

    with pytest.raises(ValueError, match="PIL could not decode"):
        I.decode(b"\x89PNG but actually garbage")
