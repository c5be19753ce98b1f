"""Per-task API surface mirroring the reference's standalone scripts and
registry (scripts/{layout_detection,formula_detection,formula_recognition,
ocr,table_parsing}.py + utils/config_loader.py:31-47 +
registry/registry.py:1-23).

Each task is a ``DataFrame → DataFrame`` stage over the transcripts
table — the Spark analog of the reference's TASK_REGISTRY: a plain dict
of named stage functions, driven by the same YAML config shape
(``tasks: {name: {model: ..., model_config: {...}}}``).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import schema
from .mfr import recognize_formulas
from .ocr import ocr_text_spans
from .parse import parse_detections, payload_turn

# id→name table shared by BOTH reference layout models
# (layout_detection/models/yolo.py:18-29 == models/layoutlmv3.py:21-32);
# schema.LAYOUT_CLASSES is stored in exactly this id order.
LAYOUT_ID_TO_NAME = dict(enumerate(schema.LAYOUT_CLASSES))


def layout_detection(transcripts: DataFrame) -> DataFrame:
    """scripts/layout_detection.py analog, YOLO-style model
    (models/yolo.py:36-96): per-page layout detections — 10 classes,
    conf-filtered (0.25), NMS'd (IoU 0.45), confidence-ordered."""
    return parse_detections(transcripts).filter(F.col("branch") == 0)


def layout_detection_lmv3(
    transcripts: DataFrame, ignore_catids: tuple[int, ...] = ()
) -> DataFrame:
    """Second layout model (M2), LayoutLMv3-style (models/layoutlmv3.py:36-81):
    the predictor's raw detections with NO task-side conf gate and NO NMS
    (the reference task passes neither conf_thres nor iou_thres and calls
    ``self.model(im, ignore_catids=[])``); class ids surface as
    ``category_id`` per the shared id table, and ``ignore_catids`` drops
    listed ids. Pure Catalyst (explode → parse → windows) — SQL-twinnable
    end to end; demonstrates MODEL_REGISTRY pluggability with genuinely
    different output than the YOLO-style default."""
    src = F.concat(
        F.coalesce(F.col("text"), F.lit("")), F.lit("\n"),
        F.coalesce(F.col("tool"), F.lit("")),
    )
    lines = (
        transcripts.filter(payload_turn())
        .select("conv_id", "turn_idx", F.posexplode(F.split(src, "\n")).alias("lidx", "line"))
        .where(F.col("line").startswith("@page ") | F.col("line").startswith("@det "))
    )
    w_turn = (
        Window.partitionBy("conv_id", "turn_idx")
        .orderBy("lidx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seq = lines.withColumn(
        "page_seq",
        (F.sum(F.when(F.col("line").startswith("@page "), 1).otherwise(0)).over(w_turn) - 1)
        .cast("int"),
    ).where(F.col("page_seq") >= 0)
    dets = seq.where(F.col("line").startswith("@det ")).select(
        "conv_id", "turn_idx", "page_seq", "lidx",
        F.split(F.expr("substr(line, 6)"), "\\|").alias("f"),
    )
    f = F.col("f")
    parsed = dets.select(
        "conv_id", "turn_idx", "page_seq", "lidx",
        F.get(f, 0).alias("category"),
        F.expr("try_cast(f[1] as double)").alias("score"),
        F.expr("try_cast(f[2] as double)").alias("x0"),
        F.expr("try_cast(f[3] as double)").alias("y0"),
        F.expr("try_cast(f[4] as double)").alias("x1"),
        F.expr("try_cast(f[5] as double)").alias("y1"),
        F.coalesce(F.get(f, 6), F.lit("")).alias("content"),
    ).where(
        F.col("score").isNotNull() & ~F.isnan("score")
        & F.col("x0").isNotNull() & F.col("y0").isNotNull()
        & F.col("x1").isNotNull() & F.col("y1").isNotNull()
    )
    w_page = Window.partitionBy("conv_id", "turn_idx", "page_seq").orderBy("lidx")
    idxed = parsed.withColumn(
        "det_idx", (F.row_number().over(w_page) - 1).cast("int")
    )
    map_args: list = []
    for cid, name in LAYOUT_ID_TO_NAME.items():
        map_args += [F.lit(name), F.lit(cid)]
    id_map = F.create_map(*map_args)
    out = idxed.withColumn("category_id", id_map[F.col("category")].cast("int")).where(
        F.col("category_id").isNotNull()
    )
    if ignore_catids:
        out = out.where(~F.col("category_id").isin([int(i) for i in ignore_catids]))
    return out.select(
        "conv_id", "turn_idx", "page_seq", "det_idx", "category_id", "category",
        "score", "x0", "y0", "x1", "y1", "content",
    )


def formula_detection(transcripts: DataFrame) -> DataFrame:
    """scripts/formula_detection.py analog: inline/isolated detections."""
    return parse_detections(transcripts).filter(F.col("branch") == 1)


def formula_recognition(transcripts: DataFrame, length_buckets: int = 0) -> DataFrame:
    """scripts/formula_recognition.py analog: detections + latex content
    (deterministic MFR = F1, length-bucket-packed batches)."""
    return recognize_formulas(
        parse_detections(transcripts), length_buckets=length_buckets
    )


def ocr(transcripts: DataFrame) -> DataFrame:
    """scripts/ocr.py analog: final OCR text spans (det → sort → merge →
    formula-mask split → rec → drop_score), page coordinates."""
    return ocr_text_spans(parse_detections(transcripts))


TABLE_FORMATS = ("latex", "markdown", "html")


def table_parsing(
    transcripts: DataFrame, output_format: str = "latex"
) -> DataFrame:
    """scripts/table_parsing.py analog. The reference's StructEqTable is a
    CUDA-only checkpoint (struct_eqtable.py:17) — the deterministic
    stand-in emits the table det's payload content wrapped per format.
    Format validation mirrors struct_eqtable.py:45-46."""
    if output_format not in TABLE_FORMATS:
        raise ValueError(
            f"Output format {output_format!r} is not supported; "
            f"expected one of {TABLE_FORMATS}"
        )
    dets = parse_detections(transcripts).filter(F.col("category") == "table")
    body = F.col("content")
    rendered = (
        F.when(F.lit(output_format) == "latex",
               F.concat(F.lit("\\begin{tabular}"), body, F.lit("\\end{tabular}")))
        .when(F.lit(output_format) == "html",
              F.concat(F.lit("<table>"), body, F.lit("</table>")))
        .otherwise(F.concat(F.lit("| "), body, F.lit(" |")))
    )
    return dets.withColumn("table_source", rendered)


def table_parsing_sql(output_format: str = "latex") -> str:
    """DuckDB twin of ``table_parsing`` (M10) over the documents corpus:
    branch-0 table detections with the per-format rendered source."""
    if output_format not in TABLE_FORMATS:
        raise ValueError(f"Output format {output_format!r} is not supported")
    render = {
        "latex": "'\\begin{tabular}' || o.content || '\\end{tabular}'",
        "html": "'<table>' || o.content || '</table>'",
        "markdown": "'| ' || o.content || ' |'",
    }[output_format]
    return f"""{detections_sql_cte()}
SELECT o.conv_id, o.turn_idx, CAST(o.page_seq AS INT) AS page_seq,
       pg.page_no, pg.page_w, pg.page_h,
       o.det_idx, o.det_order, CAST(o.branch AS INT) AS branch, o.category,
       round(o.score, 2) AS score,
       trunc(o.x0) AS x0, trunc(o.y0) AS y0, trunc(o.x1) AS x1, trunc(o.y1) AS y1,
       o.content, {render} AS table_source
FROM ordered o JOIN pages pg ON pg.doc_id = o.doc_id AND pg.page_seq = o.page_seq
WHERE o.category = 'table'
"""


def transcripts_payload_cte(source: str = "transcripts") -> str:
    """Payload CTE over a RAW transcripts table (conv_id, turn_idx, text,
    tool) — the same scan rule as parse.parse_detections: a turn carries a
    document iff '@page ' appears in text or tool; the scanned string is
    text + newline + tool (parse.py:30). Lets every detections-based twin
    (including the full e2e twin) oracle arbitrary payloads instead of the
    documents-template synthesis — used by the adversarial payload fuzzer
    (tests/test_e2e_fuzz.py)."""
    return f"""SELECT ROW_NUMBER() OVER (ORDER BY conv_id, turn_idx) AS doc_id,
         conv_id, turn_idx,
         COALESCE(text, '') || chr(10) || COALESCE(tool, '') AS p
  FROM {source}
  WHERE contains(COALESCE(text, ''), '@page ')
     OR contains(COALESCE(tool, ''), '@page ')"""


def detections_sql_cte(payload_cte: str | None = None) -> str:
    """Shared DuckDB CTE chain reproducing parse.py:_parse_batch over the
    documents corpus: payload tokenization, page/det sequencing, P2
    confidence filter, per-(page, branch, category) greedy NMS (M3) as a
    recursive CTE carrying the kept-box list, and the reference det
    ordering. Ends with CTEs ``ordered`` (all surviving det rows, raw
    coords/scores) and ``pages``; callers append their final SELECT
    (applying F6/F7 where appropriate).

    ``payload_cte`` overrides the payload source (default: the documents
    template synthesis); it must yield (doc_id, conv_id, turn_idx, p).

    Caveat: score rounding uses DuckDB ROUND (half-away) vs numpy
    (half-even) — identical on the template's 2-decimal scores; the
    generic engines are pinned to each other by tests/test_e2e_golden.py.
    """
    from .docsource import payload_sql

    layout_in = ", ".join(f"'{c}'" for c in schema.LAYOUT_CLASSES)
    # IoU(candidate c, kept box k), engine semantics (kernels.nms_keep):
    # union > 0 ? inter / union : 0
    inter = (
        "greatest(least(c.x1, k.x1) - greatest(c.x0, k.x0), 0)"
        " * greatest(least(c.y1, k.y1) - greatest(c.y0, k.y0), 0)"
    )
    union = f"(c.x1 - c.x0) * (c.y1 - c.y0) + (k.x1 - k.x0) * (k.y1 - k.y0) - {inter}"
    iou = f"CASE WHEN {union} > 0 THEN ({inter}) / ({union}) ELSE 0.0 END"
    survives = f"len(list_filter(n.boxes, k -> {iou} > {schema.IOU_THRES})) = 0"
    box = "struct_pack(x0 := c.x0, y0 := c.y0, x1 := c.x1, y1 := c.y1)"
    if payload_cte is None:
        payload_cte = f"""SELECT doc_id,
         printf('conv-%06d', CAST(doc_id % 97 AS INT)) AS conv_id,
         CAST(floor(doc_id / 97) AS INT) AS turn_idx,
         {payload_sql()} AS p
  FROM documents"""
    return f"""
WITH RECURSIVE payload AS (
  {payload_cte}
),
lines AS (
  SELECT doc_id, conv_id, turn_idx,
         generate_subscripts(string_split(p, chr(10)), 1) - 1 AS lidx,
         unnest(string_split(p, chr(10))) AS line
  FROM payload
),
marked AS (
  SELECT *, (line LIKE '@page %') AS is_page
  FROM lines WHERE line LIKE '@page %' OR line LIKE '@det %'
),
seq AS (
  SELECT *, CAST(SUM(CASE WHEN is_page THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY lidx) AS INT) - 1 AS page_seq
  FROM marked
),
pages AS MATERIALIZED (
  SELECT doc_id, page_seq,
         CAST(trunc(COALESCE(TRY_CAST(string_split(line, ' ')[2] AS DOUBLE), 0)) AS INT)
           AS page_no,
         COALESCE(TRY_CAST(string_split(line, ' ')[3] AS DOUBLE), 0) AS page_w,
         COALESCE(TRY_CAST(string_split(line, ' ')[4] AS DOUBLE), 0) AS page_h
  FROM seq WHERE is_page
),
det1 AS (
  SELECT doc_id, conv_id, turn_idx, page_seq, lidx,
         f[1] AS category,
         TRY_CAST(f[2] AS DOUBLE) AS score,
         TRY_CAST(f[3] AS DOUBLE) AS x0, TRY_CAST(f[4] AS DOUBLE) AS y0,
         TRY_CAST(f[5] AS DOUBLE) AS x1, TRY_CAST(f[6] AS DOUBLE) AS y1,
         COALESCE(f[7], '') AS content
  FROM (SELECT *, string_split(substr(line, 6), '|') AS f
        FROM seq WHERE NOT is_page AND page_seq >= 0)
),
valid AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id, page_seq ORDER BY lidx) - 1
                 AS INT) AS det_idx
  FROM det1
  WHERE score IS NOT NULL AND NOT isnan(score)
    AND x0 IS NOT NULL AND NOT isnan(x0) AND y0 IS NOT NULL AND NOT isnan(y0)
    AND x1 IS NOT NULL AND NOT isnan(x1) AND y1 IS NOT NULL AND NOT isnan(y1)
),
conf AS (
  SELECT * FROM (
    SELECT *, CASE WHEN category IN ({layout_in}) THEN 0
                   WHEN category IN ('inline', 'isolated') THEN 1
                   WHEN category = 'text' THEN 2 ELSE -9 END AS branch
    FROM valid
  ) WHERE branch >= 0 AND (branch = 2 OR score > {schema.CONF_THRES})
),
cand AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id, page_seq, branch, category
                                    ORDER BY score DESC, det_idx) AS INT) AS r
  FROM conf WHERE branch < 2
),
nms(doc_id, page_seq, branch, category, r, det_idx, is_kept, boxes) AS (
  SELECT doc_id, page_seq, branch, category, r, det_idx, true,
         [struct_pack(x0 := x0, y0 := y0, x1 := x1, y1 := y1)]
  FROM cand WHERE r = 1
  UNION ALL
  SELECT c.doc_id, c.page_seq, c.branch, c.category, c.r, c.det_idx,
         ({survives}),
         CASE WHEN ({survives}) THEN list_append(n.boxes, {box}) ELSE n.boxes END
  FROM nms n JOIN cand c
    ON c.doc_id = n.doc_id AND c.page_seq = n.page_seq
   AND c.branch = n.branch AND c.category = n.category AND c.r = n.r + 1
),
surv AS (
  SELECT c.doc_id, c.conv_id, c.turn_idx, c.page_seq, c.det_idx,
         c.branch, c.category, c.score, c.x0, c.y0, c.x1, c.y1, c.content
  FROM cand c JOIN nms USING (doc_id, page_seq, branch, category, r)
  WHERE nms.is_kept
  UNION ALL
  SELECT doc_id, conv_id, turn_idx, page_seq, det_idx,
         branch, category, score, x0, y0, x1, y1, content
  FROM conf WHERE branch = 2
),
ordered AS MATERIALIZED (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id, page_seq
                                    ORDER BY branch, score DESC, det_idx) - 1
                 AS INT) AS det_order
  FROM surv
)"""


def _branch_detection_sql(branch: int) -> str:
    """Full detection stage (``detections_sql_cte``) filtered to one model
    branch, with F6/F7 truncation/rounding applied (branch < 2 rows are
    model detections — parse.py applies the conversion to both)."""
    return f"""{detections_sql_cte()}
SELECT o.conv_id, o.turn_idx, CAST(o.page_seq AS INT) AS page_seq,
       pg.page_no, pg.page_w, pg.page_h,
       o.det_idx, o.det_order, CAST(o.branch AS INT) AS branch, o.category,
       round(o.score, 2) AS score,
       trunc(o.x0) AS x0, trunc(o.y0) AS y0, trunc(o.x1) AS x1, trunc(o.y1) AS y1,
       o.content
FROM ordered o JOIN pages pg USING (doc_id, page_seq)
WHERE o.branch = {branch}
"""


def layout_detection_sql() -> str:
    """DuckDB twin of ``layout_detection(documents_as_transcripts(docs))``."""
    return _branch_detection_sql(0)


def formula_detection_sql() -> str:
    """DuckDB twin of ``formula_detection(...)`` (M4, branch 1)."""
    return _branch_detection_sql(1)


def ocr_crop_assign_sql() -> str:
    """DuckDB twin of ``ocr.ocr_crop_assign`` over the documents corpus:
    P1 region crop + the region×raw center-containment join (the
    SQL-expressible prefix of the OCR merge stage; the sequential
    bubble/merge folds remain pytest-pinned)."""
    pad = float(schema.OCR_PAD)
    region_in = ", ".join(f"'{c}'" for c in schema.OCR_REGION_CLASSES)
    return f"""{detections_sql_cte()},
regions AS (
  SELECT doc_id, conv_id, turn_idx, CAST(page_seq AS INT) AS page_seq,
         det_order AS region_order,
         trunc(x0) AS rx0, trunc(y0) AS ry0, trunc(x1) AS rx1, trunc(y1) AS ry1
  FROM ordered WHERE branch = 0 AND category IN ({region_in})
),
raws AS (
  SELECT doc_id, CAST(page_seq AS INT) AS page_seq, det_idx AS raw_idx,
         x0, y0, x1, y1, score
  FROM ordered WHERE branch = 2
)
SELECT rg.conv_id, rg.turn_idx, rg.page_seq, rg.region_order, rw.raw_idx,
       rw.x0 - rg.rx0 + {pad} AS crop_x0, rw.y0 - rg.ry0 + {pad} AS crop_y0,
       rw.x1 - rg.rx0 + {pad} AS crop_x1, rw.y1 - rg.ry0 + {pad} AS crop_y1,
       rw.score
FROM regions rg
JOIN raws rw
  ON rw.doc_id = rg.doc_id AND rw.page_seq = rg.page_seq
 AND (rw.x0 + rw.x1) / 2 BETWEEN rg.rx0 AND rg.rx1
 AND (rw.y0 + rw.y1) / 2 BETWEEN rg.ry0 AND rg.ry1
"""


def ocr_spans_sql() -> str:
    """DuckDB twin of ``ocr.ocr_text_spans`` over the documents corpus —
    the FULL M9 merge layer (reference pdf2markdown.py:195-256 +
    paddle_ocr.py:57-172,388-450), previously rows-only:

    - P1 crop + center-containment assignment (``mine``),
    - M7 angle classification (``@rot180`` marker un-rotation),
    - O2 bubble pass — the one genuinely sequential fold: a stable
      (y0,x0)-sorted insertion pass where each box bubbles down past
      predecessors while (|Δy0| < 10 AND x0 < pred.x0). Recursive CTE
      ``bp`` carries the placed-prefix as a LIST<STRUCT>; the insertion
      point is len-of-maximal-condition-suffix, computed with an indexed
      list_filter (same list-state trick as the greedy-NMS CTE above),
    - O3/O6/O7 line merge — RELATIONAL: sessionization compares each box
      only to its predecessor in y-order (lag window), x-union is the
      classic islands pattern (running MAX(x1) vs next x0), envelope =
      MIN/MAX group aggregates,
    - J2 mask split — interval union of y-overlapping masks (islands
      again) then gap segments via lag, replicating the reference's exact
      emit rule (`if lo < m0: emit (lo, m0-1)`, tail `max(m1+1, lo)`),
      including its degenerate inverted-interval emissions,
    - consume + P3: per span, contained crops ordered by (center_x,
      det_idx); score = sequential-fold mean (DuckDB list_sum folds
      left-to-right over the ordered list — verified bit-equal to the
      kernel's += loop), drop < 0.5, content = ' '-join.

    det_order continues after the page's model detections (offset =
    MAX(det_order)+1 over branch<2). Model rows enter in F6/F7-converted
    form (trunc/round), raws raw — mirroring parse.py:159-160.
    """
    return f"""{detections_sql_cte()},
{ocr_spans_cte_chain()}
SELECT conv_id, turn_idx, page_seq, page_no, page_w, page_h, det_idx,
       det_order, branch, category, score, x0, y0, x1, y1, content
FROM ocr_out
"""


def ocr_spans_cte_chain() -> str:
    """The OCR merge chain as splice-able CTEs (assumes the
    ``detections_sql_cte`` chain — ``ordered``/``pages`` — precedes it).
    Ends with ``ocr_out``: the emitted text-span rows in DETECTIONS shape
    plus ``doc_id`` (for composition into the full-pipeline twin)."""
    region_in = ", ".join(f"'{c}'" for c in schema.OCR_REGION_CLASSES)
    pad = float(schema.OCR_PAD)
    drop = float(schema.DROP_SCORE)
    key = "doc_id, page_seq, region_order"

    def yov(a: str, b: str) -> str:
        den = f"LEAST({a}.y1 - {a}.y0, {b}.y1 - {b}.y0)"
        ov = f"GREATEST(LEAST({a}.y1, {b}.y1) - GREATEST({a}.y0, {b}.y0), 0)"
        return f"(CASE WHEN {den} <= 0 THEN FALSE ELSE {ov} / {den} > 0.8 END)"

    jmax = (
        "coalesce(list_max(list_filter(range(1, i + 1), "
        "j -> NOT (abs(orig[i + 1].y0 - st[j].y0) < 10 "
        "AND orig[i + 1].x0 < st[j].x0))), 0)"
    )
    return f"""rg2 AS (
  SELECT doc_id, conv_id, turn_idx, page_seq, det_order AS region_order,
         trunc(x0) AS rx0, trunc(y0) AS ry0, trunc(x1) AS rx1, trunc(y1) AS ry1
  FROM ordered WHERE branch = 0 AND category IN ({region_in})
),
rw2 AS (
  SELECT doc_id, page_seq, det_idx, x0, y0, x1, y1, score,
         CASE WHEN content LIKE '@rot180 %' THEN reverse(substr(content, 9))
              ELSE content END AS content
  FROM ordered WHERE branch = 2
),
offs AS (
  SELECT doc_id, page_seq, MAX(det_order) + 1 AS off
  FROM ordered WHERE branch < 2 GROUP BY 1, 2
),
mine0 AS (
  SELECT g.doc_id, g.page_seq, g.region_order, r.det_idx, r.score, r.content,
         r.x0 - (g.rx0 - {pad}) AS cx0, r.y0 - (g.ry0 - {pad}) AS cy0,
         r.x1 - (g.rx0 - {pad}) AS cx1, r.y1 - (g.ry0 - {pad}) AS cy1
  FROM rg2 g JOIN rw2 r
    ON r.doc_id = g.doc_id AND r.page_seq = g.page_seq
   AND (r.x0 + r.x1) / 2 BETWEEN g.rx0 AND g.rx1
   AND (r.y0 + r.y1) / 2 BETWEEN g.ry0 AND g.ry1
),
mine AS (
  SELECT *, (cx0 + cx1) / 2 AS ccx, (cy0 + cy1) / 2 AS ccy FROM mine0
),
bseed AS (
  SELECT {key},
         list(struct_pack(x0 := cx0, y0 := cy0, x1 := cx1, y1 := cy1)
              ORDER BY cy0, cx0, det_idx) AS orig
  FROM mine GROUP BY 1, 2, 3
),
bp({key}, i, orig, st) AS (
  SELECT {key}, 1, orig, [orig[1]] FROM bseed
  UNION ALL
  SELECT {key}, i + 1, orig,
         list_slice(st, 1, {jmax}) || [orig[i + 1]] || list_slice(st, {jmax} + 1, i)
  FROM bp WHERE i < len(orig)
),
bexp AS (
  SELECT {key}, generate_subscripts(st, 1) AS bpos, unnest(st) AS bx
  FROM bp WHERE i = len(orig)
),
ys AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY {key} ORDER BY bx.y0, bpos) AS ypos
  FROM bexp
),
sess AS (
  SELECT *, SUM(CASE WHEN pb IS NULL THEN 1
                     WHEN {yov("bx", "pb")} THEN 0 ELSE 1 END)
              OVER (PARTITION BY {key} ORDER BY ypos) AS line_id
  FROM (SELECT *, lag(bx) OVER (PARTITION BY {key} ORDER BY ypos) AS pb FROM ys)
),
xs AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY {key}, line_id
                               ORDER BY bx.x0, ypos) AS xpos
  FROM sess
),
isl AS (
  SELECT *, SUM(CASE WHEN pmax IS NULL OR bx.x0 > pmax THEN 1 ELSE 0 END)
              OVER (PARTITION BY {key}, line_id ORDER BY xpos) AS island
  FROM (SELECT *, MAX(bx.x1) OVER (PARTITION BY {key}, line_id ORDER BY xpos
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS pmax
        FROM xs)
),
mb AS (
  SELECT {key}, line_id, island,
         MIN(bx.x0) AS bx0, MIN(bx.y0) AS by0, MAX(bx.x1) AS bx1, MAX(bx.y1) AS by1
  FROM isl GROUP BY 1, 2, 3, 4, 5
),
mbo AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY {key} ORDER BY line_id, island) AS box_ord
  FROM mb
),
mk AS (
  SELECT g.doc_id, g.page_seq, g.region_order, m.det_order AS kord,
         m.x0 - (g.rx0 - {pad}) AS kx0, m.y0 - (g.ry0 - {pad}) AS ky0,
         m.x1 - (g.rx0 - {pad}) AS kx1, m.y1 - (g.ry0 - {pad}) AS ky1
  FROM rg2 g JOIN (SELECT doc_id, page_seq, trunc(x0) AS x0, trunc(y0) AS y0,
                          trunc(x1) AS x1, trunc(y1) AS y1, det_order
                   FROM ordered WHERE branch = 1) m
    ON m.doc_id = g.doc_id AND m.page_seq = g.page_seq
  WHERE NOT (m.x1 - (g.rx0 - {pad}) < 0 OR m.y1 - (g.ry0 - {pad}) < 0
             OR m.x0 - (g.rx0 - {pad}) > g.rx1 - g.rx0 + 2 * {pad}
             OR m.y0 - (g.ry0 - {pad}) > g.ry1 - g.ry0 + 2 * {pad})
),
bm AS (
  SELECT b.doc_id, b.page_seq, b.region_order, b.box_ord, k.kord,
         k.kx0 AS mlo, k.kx1 AS mhi
  FROM mbo b JOIN mk k USING (doc_id, page_seq, region_order)
  WHERE CASE WHEN LEAST(b.by1 - b.by0, k.ky1 - k.ky0) <= 0 THEN FALSE
             ELSE GREATEST(LEAST(b.by1, k.ky1) - GREATEST(b.by0, k.ky0), 0)
                  / LEAST(b.by1 - b.by0, k.ky1 - k.ky0) > 0.8 END
),
mki AS (
  SELECT *, SUM(CASE WHEN pmax IS NULL OR mlo > pmax THEN 1 ELSE 0 END)
              OVER (PARTITION BY {key}, box_ord ORDER BY mlo, kord) AS mgrp
  FROM (SELECT *, MAX(mhi) OVER (PARTITION BY {key}, box_ord ORDER BY mlo, kord
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS pmax
        FROM bm)
),
mrg AS (
  SELECT {key}, box_ord, mgrp, MIN(mlo) AS mlo, MAX(mhi) AS mhi
  FROM mki GROUP BY 1, 2, 3, 4, 5
),
kept AS (
  SELECT m.*, b.bx0, b.bx1,
         ROW_NUMBER() OVER (PARTITION BY m.doc_id, m.page_seq, m.region_order, m.box_ord
                            ORDER BY m.mlo, m.mgrp) AS kpos
  FROM mrg m JOIN mbo b USING (doc_id, page_seq, region_order, box_ord)
  WHERE m.mhi >= b.bx0 AND m.mlo <= b.bx1
),
segs0 AS (
  SELECT {key}, box_ord,
         COALESCE(LAG(mhi) OVER (PARTITION BY {key}, box_ord ORDER BY kpos) + 1, bx0)
           AS seg_lo,
         mlo - 1 AS seg_hi, mlo AS gate
  FROM kept
),
spans AS (
  SELECT {key}, box_ord, seg_lo, seg_hi FROM segs0 WHERE seg_lo < gate
  UNION ALL
  SELECT {key}, box_ord, MAX(mhi) + 1 AS seg_lo, MAX(bx1) AS seg_hi
  FROM kept GROUP BY 1, 2, 3, 4 HAVING MAX(mhi) + 1 <= MAX(bx1)
  UNION ALL
  SELECT b.doc_id, b.page_seq, b.region_order, b.box_ord, b.bx0, b.bx1
  FROM mbo b ANTI JOIN kept k USING (doc_id, page_seq, region_order, box_ord)
),
agg AS (
  SELECT s.doc_id, s.page_seq, s.region_order, s.box_ord, s.seg_lo, s.seg_hi,
         MIN(b.by0) AS by0, MIN(b.by1) AS by1,
         list_sum(list(m.score ORDER BY m.ccx, m.det_idx)) / COUNT(*) AS rawscore,
         string_agg(m.content, ' ' ORDER BY m.ccx, m.det_idx) AS content
  FROM spans s
  JOIN mbo b USING (doc_id, page_seq, region_order, box_ord)
  JOIN mine m
    ON m.doc_id = s.doc_id AND m.page_seq = s.page_seq
   AND m.region_order = s.region_order
   AND m.ccx BETWEEN s.seg_lo AND s.seg_hi
   AND m.ccy BETWEEN b.by0 AND b.by1
  GROUP BY 1, 2, 3, 4, 5, 6
  HAVING list_sum(list(m.score ORDER BY m.ccx, m.det_idx)) / COUNT(*) >= {drop}
),
ocr_out AS MATERIALIZED (
  SELECT a.doc_id, g.conv_id, g.turn_idx, CAST(a.page_seq AS INT) AS page_seq,
         pg.page_no, pg.page_w, pg.page_h,
         CAST(-1 AS INT) AS det_idx,
         CAST(o.off + ROW_NUMBER() OVER (PARTITION BY a.doc_id, a.page_seq
                                         ORDER BY a.region_order, a.box_ord, a.seg_lo)
              - 1 AS INT) AS det_order,
         CAST(2 AS INT) AS branch, 'text' AS category,
         round(a.rawscore, 2) AS score,
         a.seg_lo + (g.rx0 - {pad}) AS x0, a.by0 + (g.ry0 - {pad}) AS y0,
         a.seg_hi + (g.rx0 - {pad}) AS x1, a.by1 + (g.ry0 - {pad}) AS y1,
         a.content
  FROM agg a
  JOIN rg2 g ON g.doc_id = a.doc_id AND g.page_seq = a.page_seq
            AND g.region_order = a.region_order
  JOIN offs o ON o.doc_id = a.doc_id AND o.page_seq = a.page_seq
  JOIN pages pg ON pg.doc_id = a.doc_id AND pg.page_seq = a.page_seq
)"""


def layout_detection_lmv3_sql(ignore_catids: tuple[int, ...] = ()) -> str:
    """DuckDB twin of ``layout_detection_lmv3`` (same tokenization CTEs as
    ``layout_detection_sql``, but raw model output: no conf gate, no NMS,
    no F6/F7 conversion, class ids surfaced)."""
    from .docsource import payload_sql

    case_id = " ".join(
        f"WHEN '{name}' THEN {cid}" for cid, name in LAYOUT_ID_TO_NAME.items()
    )
    ignore = ""
    if ignore_catids:
        ignore = f"AND category_id NOT IN ({', '.join(str(int(i)) for i in ignore_catids)})"
    return f"""
WITH payload AS (
  SELECT doc_id,
         printf('conv-%06d', CAST(doc_id % 97 AS INT)) AS conv_id,
         CAST(floor(doc_id / 97) AS INT) AS turn_idx,
         {payload_sql()} AS p
  FROM documents
),
lines AS (
  SELECT doc_id, conv_id, turn_idx,
         generate_subscripts(string_split(p, chr(10)), 1) - 1 AS lidx,
         unnest(string_split(p, chr(10))) AS line
  FROM payload
),
marked AS (
  SELECT *, (line LIKE '@page %') AS is_page
  FROM lines WHERE line LIKE '@page %' OR line LIKE '@det %'
),
seq AS (
  SELECT *, CAST(SUM(CASE WHEN is_page THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY lidx) AS INT) - 1 AS page_seq
  FROM marked
),
det1 AS (
  SELECT doc_id, conv_id, turn_idx, page_seq, lidx,
         f[1] AS category,
         TRY_CAST(f[2] AS DOUBLE) AS score,
         TRY_CAST(f[3] AS DOUBLE) AS x0, TRY_CAST(f[4] AS DOUBLE) AS y0,
         TRY_CAST(f[5] AS DOUBLE) AS x1, TRY_CAST(f[6] AS DOUBLE) AS y1,
         COALESCE(f[7], '') AS content
  FROM (SELECT *, string_split(substr(line, 6), '|') AS f
        FROM seq WHERE NOT is_page AND page_seq >= 0)
),
valid AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id, page_seq ORDER BY lidx) - 1
                 AS INT) AS det_idx
  FROM det1
  WHERE score IS NOT NULL AND NOT isnan(score)
    AND x0 IS NOT NULL AND y0 IS NOT NULL AND x1 IS NOT NULL AND y1 IS NOT NULL
)
SELECT conv_id, turn_idx, CAST(page_seq AS INT) AS page_seq, det_idx,
       category_id, category, score, x0, y0, x1, y1, content
FROM (SELECT *, CAST(CASE category {case_id} END AS INT) AS category_id FROM valid)
WHERE category_id IS NOT NULL {ignore}
"""


# the reference MODEL_REGISTRY analog (registry/registry.py:1-23): layout
# detection ships two interchangeable models selected by YAML config
MODEL_REGISTRY = {
    "layout_detection_yolo": layout_detection,
    "layout_detection_layoutlmv3": layout_detection_lmv3,
}

def visualization(transcripts: DataFrame) -> DataFrame:
    """S6 sink as a task: per-page SVG of the layout detections (the
    reference's per-task ``visualize: True`` config flag, as a stage)."""
    from .viz import visualize_svg

    return visualize_svg(layout_detection(transcripts))


TASK_REGISTRY = {
    "layout_detection": layout_detection,
    "formula_detection": formula_detection,
    "formula_recognition": formula_recognition,
    "ocr": ocr,
    "table_parsing": table_parsing,
    "visualization": visualization,
}


def load_config(path: str) -> dict:
    """utils/config_loader.py:6-15 analog."""
    import yaml

    with open(path) as f:
        return yaml.safe_load(f)


def initialize_tasks(config: dict) -> dict:
    """utils/config_loader.py:31-47 analog: resolve task names against the
    registry; unknown names fail loudly like the reference's KeyError.
    A task entry may pick a ``model`` from MODEL_REGISTRY (the reference's
    ``tasks: {layout_detection: {model: layout_detection_layoutlmv3}}``
    shape) and pass ``model_config`` kwargs (e.g. ignore_catids)."""
    out = {}
    for name, tcfg in (config.get("tasks", {}) or {}).items():
        tcfg = tcfg or {}
        if name == "pdf2markdown":
            from .fused import extract_fused

            out[name] = extract_fused
        elif tcfg.get("model"):
            fn = MODEL_REGISTRY[tcfg["model"]]
            mc = tcfg.get("model_config") or {}
            out[name] = functools.partial(fn, **mc) if mc else fn
        else:
            out[name] = TASK_REGISTRY[name]
    return out
