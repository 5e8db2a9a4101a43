"""Unit tests for the multimodal/IO plumbing that the oracle gate
can't see: the real-decode stub gate, token-bucket pacing, and Arrow
batch shapes."""

from __future__ import annotations

import time

import pytest

from pe_firm_investment_database_pipeline_spark.plans.io_ops import TokenBucket
from pe_firm_investment_database_pipeline_spark.plans.multimodal import (
    decode_image_real,
    fake_decode_meta,
)


def test_real_decode_is_gated():
    with pytest.raises(NotImplementedError):
        decode_image_real(b"\x89PNG...")


def test_fake_decode_deterministic():
    a = fake_decode_meta(b"hello world")
    assert a == fake_decode_meta(b"hello world")
    assert a[0] == 11
    assert a[2] == ord("h")
    assert fake_decode_meta(b"")[2] == -1


def test_token_bucket_paces():
    """After the burst is spent, acquisitions are rate-limited."""
    bucket = TokenBucket(rate=100.0, burst=5)
    t0 = time.monotonic()
    for _ in range(15):
        bucket.acquire()
    elapsed = time.monotonic() - t0
    # 15 acquisitions, 5 free (burst) → 10 paced at 100/s ≥ ~0.1 s
    assert elapsed >= 0.08


def test_token_bucket_burst_is_free():
    bucket = TokenBucket(rate=1.0, burst=10)
    t0 = time.monotonic()
    for _ in range(10):
        bucket.acquire()
    assert time.monotonic() - t0 < 0.05


def test_frame_sample_batch_shape(spark):
    """1→N explosion: every video payload yields ≥1 frame, offsets are
    FRAME_BYTES-strided, and capped at MAX_FRAMES."""
    from pe_firm_investment_database_pipeline_spark.plans.multimodal import (
        FRAME_BYTES,
        MAX_FRAMES,
        mm_frame_sample,
    )

    rows = mm_frame_sample(spark, "/root/testdata/sf0.001").collect()
    assert rows
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for frames in by_doc.values():
        idxs = sorted(f["frame_idx"] for f in frames)
        assert idxs == list(range(len(idxs)))
        assert len(idxs) <= MAX_FRAMES
        for f in frames:
            assert f["frame_off"] == f["frame_idx"] * FRAME_BYTES


def test_phash_neardup_finds_planted_clones(spark, sf_dir):
    """mm_phash_neardup must surface EVERY planted clone pair
    (identical payload -> identical signature -> same band keys) at
    hamming 0, and nothing below the band-collision floor: with
    md5-random signatures, non-clone pairs within hamming 3 of 60
    bits are ~never present, so the result IS the planted set — the
    self-verifying property the entry relies on."""
    from pe_firm_investment_database_pipeline_spark.plans.multimodal import (
        mm_phash_neardup,
    )
    from pe_firm_investment_database_pipeline_spark.sources.tables import load_table

    rows = mm_phash_neardup(spark, sf_dir).collect()
    assert rows
    planted = {
        (r["doc_id"], r["doc_id"] + 1000000)
        for r in load_table(spark, sf_dir, "documents")
        .where("doc_id % 30 = 0")
        .select("doc_id")
        .collect()
    }
    got_exact = {(r["doc1"], r["doc2"]) for r in rows if r["hamming"] == 0}
    assert planted <= got_exact


def test_python_binary_column_reaches_jvm_intact(spark):
    """A mapInPandas stage that emits a ``binary`` column hands the JVM
    the exact bytes: Spark's length and md5 of every payload equal the
    Python-side values, including empty and NUL-bearing payloads."""
    import hashlib

    import pandas as pd
    from pyspark.sql import functions as F

    from pe_firm_investment_database_pipeline_spark.plans.multimodal import (
        encode_jpeg,
        encode_png,
        encode_ppm,
        encode_wav,
    )

    encoders = (encode_png, encode_wav, encode_jpeg, encode_ppm)

    def payload(d: int) -> bytes:
        if d % 5 == 0:
            return b"" if d % 10 == 0 else b"\x00" * d
        return encoders[d % 4](d)

    def emit(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "payload": [payload(int(d)) for d in pdf["id"]],
                }
            )

    got = {
        r["id"]: (r["n"], r["md5"])
        for r in spark.range(0, 64, numPartitions=4)
        .mapInPandas(emit, schema="id long, payload binary")
        .select("id", F.length("payload").alias("n"), F.md5("payload").alias("md5"))
        .collect()
    }
    want = {
        d: (len(payload(d)), hashlib.md5(payload(d)).hexdigest())
        for d in range(64)
    }
    assert got == want
