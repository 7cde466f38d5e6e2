"""Environment-canary audit (VERDICT r10 stretch task 8).

Every capability this engine stubs because of a CONTAINER limitation —
not a design choice — is asserted here to still raise its documented
error. The day a silently-upgraded container fixes one, the matching
canary FAILS LOUDLY with porting instructions, so the feature gets
implemented deliberately instead of staying forgotten behind the stub.

The three documented environment limits (VERDICT r10 "What's missing"):
  1. google.protobuf broken → transformWithStateInPandas unusable
     (no streaming operator needs Python arbitrary state today:
     sessionize_stream runs on the native session window).
  2. PIL absent → compressed image codecs stubbed
     (multimodal.py decode_image; the binary Netpbm path is a real,
     dependency-free decoder and is NOT a stub).
  3. spark-avro datasource jar absent from this Spark distribution →
     format("avro") unusable (sources/io.py documents the gap).
"""

from __future__ import annotations

import pytest


def test_protobuf_canary_for_transform_with_state():
    """Spark 4's transformWithStateInPandas is the arbitrary-state API
    for any future Python stateful stream operator, but its state server
    imports google.protobuf, which this container lacks and cannot
    pip-install (see the verify skill notes). No such operator exists
    today (sessionize_stream and dedup_stream are native). Skips while
    that holds; fails loudly the day protobuf becomes importable."""
    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        pytest.skip(
            "google.protobuf absent: transformWithStateInPandas state "
            "server unusable in this container (documented limitation)"
        )
    pytest.fail(
        "google.protobuf is now importable — transformWithStateInPandas "
        "(Spark 4 arbitrary-state API) is likely usable in this "
        "environment. No Python arbitrary-state operator is left to port "
        "(streaming/incremental.py is fully native); record the new "
        "capability in this canary and the verify skill notes."
    )


def test_pil_canary_for_compressed_image_codecs():
    """decode_image handles binary Netpbm natively (a real decoder, not a
    stub); compressed formats are the documented PIL-gated stub. While PIL
    is absent they must raise the documented NotImplementedError; the day
    PIL appears, this fails loudly so compressed-codec coverage (and the
    q_multimodal_* stubs' upgrade path) gets implemented deliberately."""
    from dataengineering_londonhousingmap_spark.operators import multimodal

    if multimodal._PILImage is not None:
        pytest.fail(
            "PIL is now importable — compressed image codecs are "
            "available. Extend decode_image/q_multimodal_resize coverage "
            "to PNG/JPEG payloads, then update this canary and the "
            "multimodal.py docstrings that call PIL 'the one documented "
            "stub'."
        )
    # a PNG magic payload is the documented stub path
    with pytest.raises(NotImplementedError, match="compressed image codecs"):
        multimodal.decode_image(b"\x89PNG\r\n\x1a\n" + b"\x00" * 16)


def test_netpbm_16bit_guard_still_raises():
    """The second documented NotImplementedError in multimodal.py: 16-bit
    Netpbm samples (maxval > 255) are out of scope for the integer-luma
    pipeline. Not environment-gated, but pinned here so a refactor cannot
    silently start mis-decoding wide samples as bytes."""
    from dataengineering_londonhousingmap_spark.operators.multimodal import decode_image

    payload = b"P5\n2 1\n65535\n" + b"\x00\x01\x00\x02"
    with pytest.raises(NotImplementedError, match="16-bit"):
        decode_image(payload)


def test_avro_datasource_canary(spark, tmp_path):
    """This Spark distribution ships avro CORE but not the spark-avro
    DATASOURCE jar, so format('avro') cannot plan (documented in
    sources/io.py). Fails loudly the day the jar appears so an Avro
    source/sink gets implemented instead of staying a documented gap."""
    try:
        spark.range(1).write.format("avro").save(str(tmp_path / "a"))
    except Exception as e:  # the documented missing-datasource failure
        msg = str(e).lower()
        assert "avro" in msg, (
            f"format('avro') failed for an UNEXPECTED reason (not the "
            f"missing-datasource error this canary pins): {e}"
        )
        return
    pytest.fail(
        "format('avro') now works — the spark-avro datasource jar is "
        "present. Implement an Avro source/sink in sources/io.py (with a "
        "catalog query + oracle) and update this canary plus the "
        "BASELINE/SURVEY notes that record the jar's absence."
    )
