"""Explicit StructTypes for every stage of the pipeline.

The reference keeps these schemas implicit in docstrings
(tasks/ocr/task.py:29-47, pdf2markdown.py:108-136); here they are
first-class (SURVEY.md §1.3).
"""

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# BASELINE.json input_hint
TRANSCRIPTS = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", TimestampType()),
    ]
)

# Layout classes: /root/reference/pdf_extract_kit/tasks/layout_detection/models/yolo.py:18-29
LAYOUT_CLASSES = [
    "title",
    "plain text",
    "abandon",
    "figure",
    "figure_caption",
    "table",
    "table_caption",
    "table_footnote",
    "isolate_formula",
    "formula_caption",
]
# Formula classes: /root/reference/pdf_extract_kit/tasks/formula_detection/models/yolo.py:22-25
FORMULA_CLASSES = ["inline", "isolated"]
# OCR span class: /root/reference/pdf_extract_kit/tasks/ocr/models/paddle_ocr.py:303
OCR_CLASS = "text"

# categories routed to OCR: layout ids {0,1,2,4,6,7} (pdf2markdown.py:209)
OCR_REGION_CLASSES = [
    "title",
    "plain text",
    "abandon",
    "figure_caption",
    "table_caption",
    "table_footnote",
]
# block types that receive spans (pdf2markdown.py:289)
FIX_BLOCK_TYPES = [
    "title",
    "plain text",
    "figure_caption",
    "table_caption",
    "table_footnote",
    "isolate_formula",
    "formula_caption",
]

CONF_THRES = 0.25  # configs/layout_detection.yaml:8 (ultralytics keeps score > thres)
IOU_THRES = 0.45  # configs/layout_detection.yaml:8
DROP_SCORE = 0.5  # paddle_ocr.py:445 (PaddleOCR default), keep score >= DROP_SCORE
FILL_RATIO = 0.6  # pdf2markdown.py:300
Y_OVERLAP = 0.8  # merge_blocks_and_spans.py:7 / paddle_ocr.py:81
OCR_PAD = 25  # pdf2markdown.py:217
READ_ORDER_W = 3000.0  # pdf2markdown.py:265
# turn_idx salt buckets: a hot conversation's turns spread over this many
# partitions or groups (fused/staged input spread, OCR, A2 and MFR groups)
SALT_BUCKETS = 16

# post-detect detection rows (one per surviving detection, page-local order)
DETECTIONS = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("page_seq", IntegerType()),  # order of @page within the turn
        StructField("page_no", IntegerType()),
        StructField("page_w", DoubleType()),
        StructField("page_h", DoubleType()),
        StructField("det_idx", IntegerType()),  # payload order (stable-sort tiebreak)
        StructField("det_order", IntegerType()),  # reference layout_dets order (DESIGN.md §2)
        StructField("branch", IntegerType()),  # 0=layout 1=mfd 2=ocr-text
        StructField("category", StringType()),
        StructField("score", DoubleType()),  # rounded 2 (F6) for layout/mfd
        StructField("x0", DoubleType()),
        StructField("y0", DoubleType()),
        StructField("x1", DoubleType()),
        StructField("y1", DoubleType()),
        StructField("content", StringType()),
    ]
)

SPAN_STRUCT = StructType(
    [
        StructField("type", StringType()),
        StructField("x0", DoubleType()),
        StructField("y0", DoubleType()),
        StructField("x1", DoubleType()),
        StructField("y1", DoubleType()),
        StructField("content", StringType()),
        StructField("score", DoubleType()),
    ]
)

EXTRACTED = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("main_text", StringType()),
        StructField("spans", ArrayType(SPAN_STRUCT)),
    ]
)

LINEAGE = StructType(
    [
        StructField("partition_id", IntegerType()),
        StructField("input_snapshot", StringType()),
        StructField("rows_in", LongType()),
        StructField("rows_out", LongType()),
        StructField("wall_time_s", DoubleType()),
    ]
)
