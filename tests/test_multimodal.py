from pyspark.sql import Row

from document_parsing_etl_pipeline_spark.operators.multimodal import (
    decode_images, sample_video_frames,
)


def _blobs(spark, *contents):
    return spark.createDataFrame(
        [Row(image_path=f"documents/{i}/charts/{i}.png", content=c,
             content_type="image/png")
         for i, c in enumerate(contents)]
    )


def test_decode_images_typed_metadata(spark):
    rows = decode_images(_blobs(spark, b"\x89PNG1234", b"rawbytes")).collect()
    by_doc = {r.doc_id: r for r in rows}
    assert by_doc[0].format == "png"
    assert by_doc[1].format == "raw"
    assert all(r.width > 0 and len(r.feature) == 8 for r in rows)


def test_decode_empty_blob(spark):
    r = decode_images(_blobs(spark, b"")).collect()[0]
    assert (r.width, r.height, r.format) == (0, 0, "empty")


def test_frame_sampling_stride(spark):
    rows = sample_video_frames(
        _blobs(spark, bytes(5120)), every_n=10
    ).collect()
    idxs = sorted(r.frame_index for r in rows)
    assert idxs == list(range(0, 20, 10))


def test_docstore_chunks_carry_entities(spark):
    from document_parsing_etl_pipeline_spark.sources.docstore import (
        build_docstore,
    )
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="customer met in jakarta on 2024-01-01",
             lang="en", source="s", n_chars=37)]
    )
    chunks = build_docstore(docs)["chunks"].collect()
    assert chunks[0].org_terms == "customer"
    assert chunks[0].n_locations == 1
    assert chunks[0].n_dates == 1


def test_audio_feature_extraction(spark):
    from document_parsing_etl_pipeline_spark.operators.multimodal import (
        extract_audio_features,
    )
    rows = extract_audio_features(
        _blobs(spark, b"\x00" + bytes(1023)), dim=8
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.sample_rate == 16000  # even first byte
    assert r.n_samples == 4096
    assert r.duration_s == round(4096 / 16000, 4)
    assert len(r.feature) == 8 and abs(sum(r.feature) - 1.0) < 1e-6
