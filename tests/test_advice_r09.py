"""Round-9 advisor-finding regressions: every fix from ADVICE.md r08
pinned by a test that fails on the pre-fix code.

1. EXIF robustness — truncated TIFF streams raised struct.error (which
   extract_exif's ValueError catch missed → task death) and cyclic
   sub-IFD pointers recursed unbounded (RecursionError → task death).
2. int8_quantize scale=None on an all-zero corpus silently emitted
   Infinity arrays instead of int8_topk's loud error.
3. pq_adc_topk accepted a sub_len that disagreed with the codebook's
   codeword length → NULL micro-distances, silent garbage ranking.
4. quantile_buckets routed NULL scores to the tail label via the
   `otherwise` fall-through — silent misclassification.
"""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F


class TestExifRobustness:
    def test_truncated_header_is_valueerror_not_struct_error(self):
        from fhir_etl_spark.functions.exif import parse_exif

        # 'II' alone: endianness marker present, magic/IFD0 missing —
        # unpack_from used to leak struct.error past parse_exif
        with pytest.raises(ValueError, match="truncated"):
            parse_exif(b"II")

    def test_truncated_mid_header_variants(self):
        from fhir_etl_spark.functions.exif import parse_exif

        for cut in (b"II\x2a", b"II\x2a\x00", b"II\x2a\x00\x08\x00"):
            with pytest.raises(ValueError):
                parse_exif(cut)

    def test_cyclic_sub_ifd_is_valueerror_not_recursion(self):
        from fhir_etl_spark.functions.exif import parse_exif

        # IFD0 at offset 8 holds one entry: the Exif sub-IFD pointer
        # (0x8769) whose value points BACK at IFD0 → infinite recursion
        # on the pre-fix reader
        tiff = bytearray()
        tiff += b"II" + struct.pack("<H", 42) + struct.pack("<I", 8)
        tiff += struct.pack("<H", 1)
        tiff += struct.pack("<HHI", 0x8769, 4, 1) + struct.pack("<I", 8)
        tiff += struct.pack("<I", 0)
        with pytest.raises(ValueError, match="cyclic"):
            parse_exif(bytes(tiff))

    def test_adversarial_blobs_land_in_error_field(self, spark):
        """The operator-level contract: corrupt blobs NEVER kill the
        task — both killers above surface as per-row error strings."""
        from fhir_etl_spark.operators.multimodal import extract_exif

        tiff = bytearray()
        tiff += b"II" + struct.pack("<H", 42) + struct.pack("<I", 8)
        tiff += struct.pack("<H", 1)
        tiff += struct.pack("<HHI", 0x8769, 4, 1) + struct.pack("<I", 8)
        tiff += struct.pack("<I", 0)
        df = spark.createDataFrame(
            [(1, b"II"), (2, bytes(b"Exif\x00\x00" + tiff))],
            "doc_id long, media binary",
        )
        got = {r["doc_id"]: r["exif"] for r in extract_exif(df).collect()}
        assert got[1]["error"] is not None and got[1]["make"] is None
        assert "cyclic" in got[2]["error"]


def test_int8_quantize_zero_corpus_fails_loud(spark):
    from fhir_etl_spark.operators.similarity import int8_quantize

    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="no nonzero vector component"):
        int8_quantize(df).collect()


def test_int8_quantize_explicit_scale_still_works(spark):
    from fhir_etl_spark.operators.similarity import int8_quantize

    df = spark.createDataFrame(
        [(1, [0.5, -1.0])], "vec_id long, embedding array<double>"
    )
    got = int8_quantize(df, scale=127.0).collect()[0]["q8"]
    assert got == [64, -127]  # floor(0.5*127+0.5)=64, floor(-127+0.5)=-127


class TestPqAdcShapeGuard:
    def test_sub_len_codebook_mismatch_raises(self, spark):
        from fhir_etl_spark.operators.similarity import pq_adc_topk

        codes = spark.createDataFrame([(1, [0, 0])], "vec_id long, codes array<int>")
        q = spark.createDataFrame(
            [(0, [0.0] * 16)], "query_id long, embedding array<double>"
        )
        cb = {(0, 0): [0.0] * 8, (1, 0): [0.0] * 8}  # codewords are 8-wide
        with pytest.raises(ValueError, match="codeword length"):
            pq_adc_topk(codes, cb, q, m=2, sub_len=16)

    def test_subspace_index_beyond_m_raises(self, spark):
        from fhir_etl_spark.operators.similarity import pq_adc_topk

        codes = spark.createDataFrame([(1, [0, 0])], "vec_id long, codes array<int>")
        q = spark.createDataFrame(
            [(0, [0.0] * 16)], "query_id long, embedding array<double>"
        )
        cb = {(0, 0): [0.0] * 8, (5, 0): [0.0] * 8}
        with pytest.raises(ValueError, match="subspace index"):
            pq_adc_topk(codes, cb, q, m=2, sub_len=8)


def test_quantile_buckets_null_score_fails_loud(spark):
    from fhir_etl_spark.operators.text import quantile_buckets

    df = spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, None), (4, 4.0)],
        "doc_id long, score double",
    )
    with pytest.raises(Exception, match="NULL score"):
        quantile_buckets(df, "score", labels=["head", "middle", "tail"]).collect()


def test_quantile_buckets_non_null_unchanged(spark):
    from fhir_etl_spark.operators.text import quantile_buckets

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 10)], "doc_id long, score double"
    )
    got = {
        r["doc_id"]: r["bucket"]
        for r in quantile_buckets(
            df, "score", labels=["head", "middle", "tail"], out_col="bucket"
        ).collect()
    }
    assert got[1] == "head" and got[5] == "middle" and got[9] == "tail"
