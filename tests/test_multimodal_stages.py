"""`ns_multimodal_meta` runs every codec stage in one Arrow crossing
(`multimodal.synthesize_decode_stages`). Its rows must equal the public
two-step path each stage stands for — a `synthesize_*_payload` source
(or `attach_binary_payload` for 'stub') then `decode_metadata` — and a
`stages=` subset must equal the full entry filtered to those stages.
"""
from __future__ import annotations

from training_datawarehouse_spark.operators import multimodal as mm
from training_datawarehouse_spark.operators import video as vd
from training_datawarehouse_spark.plans.northstar import (
    MEDIA_STAGES, multimodal_meta,
)
from training_datawarehouse_spark.sources.tables import load_table

from test_plan_quality import SF_DIR


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def test_fused_stages_equal_two_step_path(spark):
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    two_step = {
        "stub": (mm.attach_binary_payload(docs, "doc_id", "text"),
                 mm.deterministic_fake_decode),
        "png": (mm.synthesize_png_payload(docs, "doc_id", "text"),
                mm.png_decode_meta),
        "wav": (mm.synthesize_wav_payload(docs, "doc_id", "text"),
                mm.wav_decode_meta),
        "jpeg": (mm.synthesize_jpeg_payload(docs, "doc_id", "text"),
                 mm.jpeg_decode_meta),
        "webp": (mm.synthesize_webp_payload(docs, "doc_id", "text"),
                 mm.webp_decode_meta),
        "avi": (vd.synthesize_avi_payload(docs, "doc_id", "text"),
                vd.avi_decode_meta),
        "avi_mjpg": (vd.synthesize_avi_payload(docs, "doc_id", "text",
                                               codec="MJPG"),
                     vd.avi_mjpeg_meta),
    }
    assert set(two_step) == set(MEDIA_STAGES)

    fused: dict[str, list[tuple]] = {}
    for row in _rows(mm.synthesize_decode_stages(docs, "doc_id", "text",
                                                 MEDIA_STAGES)):
        fused.setdefault(row[0], []).append(row[1:])
    n_docs = docs.count()
    for stage, (payloads, decode_fn) in two_step.items():
        want = _rows(mm.decode_metadata(payloads, decode_fn=decode_fn))
        assert len(want) == n_docs, stage
        assert fused[stage] == want, stage


def test_stage_subset_equals_filtered_full_result(spark):
    subset = ("stub", "png", "wav")
    full = multimodal_meta(spark, SF_DIR)
    assert _rows(multimodal_meta(spark, SF_DIR, stages=subset)) == _rows(
        full.where(full.stage.isin(*subset)))
