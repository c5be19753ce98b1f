"""End-to-end extraction pipeline (SURVEY.md §3.1 Spark shape).

transcripts → [salted repartition] → parse+detect (mapInPandas, no
shuffle) → { formula branch (F1, length-bucketed) ∥ OCR merge branch
(applyInPandas per page) } → union → J1 theta join + first-wins window →
A2 fold per page → O1/A3/A4 Catalyst aggregation → extracted.

Shuffle census (what the plan should show at 100 TB):
  1. optional salted repartition of the input (skew control),
  2. groupBy page key for the OCR fold,
  3. J1 join + span-window + A2 groupBy (same key family → AQE reuses),
  4. final groupBy (conv_id, turn_idx).
Everything else is narrow. Small rule tables are literals, not joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .assemble import assemble_blocks
from .emit import emit_extracted, page_markers
from .fused import salted_repartition
from .mfr import recognize_formulas
from .ocr import ocr_text_spans
from .parse import parse_detections


def extract(
    transcripts: DataFrame,
    repartition: int = 0,
    formula_length_buckets: int = 0,
) -> DataFrame:
    """transcripts → extracted (schema.EXTRACTED + turn_seq).

    The stage-1 output is persisted: it fans out to three consumers (OCR,
    MFR, block building). At cluster scale you would materialize it to a
    table instead; in one job, persist is the analog.
    """
    if repartition > 0:
        transcripts = salted_repartition(transcripts, repartition)
    dets = parse_detections(transcripts).persist()
    model_dets = dets.filter((F.col("branch") == 0))
    formulas = recognize_formulas(dets, length_buckets=formula_length_buckets)
    texts = ocr_text_spans(dets)
    # final_dets fans out to spans/blocks/fill — without this the OCR
    # applyInPandas recomputes once per consumer (6× in the plan)
    final_dets = model_dets.unionByName(formulas).unionByName(texts).persist()
    blocks = assemble_blocks(final_dets)
    extracted = emit_extracted(blocks, page_markers(dets))
    # O8: the mandated stable turn ordering window over (conv_id, turn_idx)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return extracted.withColumn("turn_seq", F.row_number().over(w))
