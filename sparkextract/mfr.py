"""Stage 2b — formula "recognition" (M5) + latex_rm_whitespace (F1).

The reference collects every formula crop of a document and batch-infers
them (pdf2markdown.py:176-190, batch_size 128). The Spark generalization
is *length-bucketed batch packing*: repartition the formula rows by a
content-length bucket (plus a salt to spread buckets) before the
vectorized UDF, so each Arrow batch carries uniform work and no straggler
batch stalls a partition (north_star requirement; SURVEY.md §4.2).

The deterministic recognizer is F1 itself (pdf2markdown.py:23-39) — a
fixpoint regex, not expressible as a regexp_replace chain, hence a scalar
pandas UDF (Arrow-batched, never per-row Python at the Spark level).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from . import kernels, pyworker, schema


@F.pandas_udf(StringType())
def latex_udf(s: pd.Series) -> pd.Series:
    pyworker.install()
    # per-batch memo: F1 is a pure ~10-regex-pass fixpoint and formula
    # strings repeat within a batch; bounded by the batch's distinct
    # formulas, dropped with the batch
    cache: dict = {}

    def f(x):
        v = cache.get(x)
        if v is None:
            v = kernels.latex_rm_whitespace(x)
            cache[x] = v
        return v

    return s.map(f)


def recognize_formulas(dets: DataFrame, length_buckets: int = 0) -> DataFrame:
    """branch-1 detections → same rows with content = F1(content).

    length_buckets > 0 enables the packing repartition (use at scale; at
    tiny SF the extra exchange costs more than it saves).
    """
    formulas = dets.filter(F.col("branch") == 1)
    if length_buckets > 0:
        formulas = formulas.repartition(
            F.width_bucket(
                F.length("content"), F.lit(0), F.lit(2048), F.lit(length_buckets)
            ),
            F.pmod(F.hash("conv_id", "turn_idx"), F.lit(schema.SALT_BUCKETS)),
        )
    return formulas.withColumn("content", latex_udf(F.col("content")))


# ---- DuckDB twin of the F1 fixpoint (latex_rm_whitespace as SQL) ----
#
# F1 (pdf2markdown.py:23-39) is a fixpoint of three regex substitutions
# plus a one-shot space strip inside \operatorname/\mathrm/\text/\mathbf
# groups. DuckDB's RE2 lacks the `(?!\\ )` negative lookahead in R1/R2,
# so each step protects the exact `\ ` (backslash-space) pairs with a
# sentinel (chr(1)) before substituting and restores after — equivalent
# because no rule can consume either char of a `\ ` pair (the space is
# only reachable from a match STARTING at the backslash, which the
# lookahead blocks; the backslash is never inside `\s+?`), and the
# sentinel, like the pair's space, is a `[\W_^\d]`-class char that may
# open or close a match. The protected-command strip runs first (mode 0):
# one interior space removed per region per pass to fixpoint, then the
# pre-brace spaces once — mirroring `m[0].replace(" ", "")` over each
# non-overlapping _PROT match. Validated against kernels.
# latex_rm_whitespace on 30+ adversarial strings (protected cmds, `\ `
# pairs, multi-space runs, unterminated braces). Known dialect limits,
# none reachable from the corpus: tab inside `\s?` (Python keeps the tab,
# this twin skips the match), unicode whitespace (RE2 \s is ASCII), and
# chr(1) occurring in the input.
_F1_STEP = (
    r"replace(regexp_replace(regexp_replace(regexp_replace("
    r"replace(s, '\ ', chr(1))"
    r", '([\W_^\d])\s+?([\W_^\d])', '\1\2', 'g')"
    r", '([\W_^\d])\s+?([a-zA-Z])', '\1\2', 'g')"
    r", '([a-zA-Z])\s+?([\W_^\d])', '\1\2', 'g'), chr(1), '\ ')"
)
_F1_PROT_INT = (
    r"regexp_replace(s, "
    r"'(\\(?:operatorname|mathrm|text|mathbf) ?\*? \{[^}]*?) ([^}]*?\})', "
    r"'\1\2', 'g')"
)
_F1_PROT_PRE = (
    r"regexp_replace(s, "
    r"'(\\(?:operatorname|mathrm|text|mathbf)) ?(\*?) \{', "
    r"'\1\2{', 'g')"
)


def f1_fixpoint_cte(source: str, key_cols: str = "doc_id, page_seq, det_idx") -> str:
    """Recursive-CTE fixpoint applying F1 to ``content`` of ``source``
    rows keyed by ``key_cols``. Emits CTEs ``fx`` and ``f1_done``
    (key cols + final ``content``); splice after a WITH RECURSIVE chain."""
    return f"""
fx({key_cols}, mode, s, it) AS (
  SELECT {key_cols}, 0, content, 0 FROM {source}
  UNION ALL
  SELECT {key_cols},
         CASE WHEN mode = 0 AND {_F1_PROT_INT} = s THEN 1 ELSE mode END,
         CASE WHEN mode = 0
              THEN (CASE WHEN {_F1_PROT_INT} = s THEN {_F1_PROT_PRE}
                         ELSE {_F1_PROT_INT} END)
              ELSE {_F1_STEP} END,
         it + 1
  FROM fx
  WHERE NOT (mode = 1 AND {_F1_STEP} = s)
),
f1_done AS MATERIALIZED (
  SELECT {key_cols}, s AS content FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY {key_cols} ORDER BY it DESC) AS rn
    FROM fx
  ) WHERE rn = 1
)"""


def formula_recognition_sql() -> str:
    """DuckDB twin of ``tasks.formula_recognition`` over the documents
    corpus: the branch-1 detection stage (M4) with content run through
    the F1 fixpoint — the same recursive-CTE trick that SQL-ified greedy
    NMS (tasks.detections_sql_cte)."""
    from .tasks import detections_sql_cte

    return f"""{detections_sql_cte()},
base AS (
  SELECT doc_id, conv_id, turn_idx, page_seq, det_idx, det_order,
         branch, category, score, x0, y0, x1, y1, content
  FROM ordered WHERE branch = 1
),
{f1_fixpoint_cte("base").lstrip()}
SELECT b.conv_id, b.turn_idx, CAST(b.page_seq AS INT) AS page_seq,
       pg.page_no, pg.page_w, pg.page_h,
       b.det_idx, b.det_order, CAST(b.branch AS INT) AS branch, b.category,
       round(b.score, 2) AS score,
       trunc(b.x0) AS x0, trunc(b.y0) AS y0, trunc(b.x1) AS x1, trunc(b.y1) AS y1,
       f.content
FROM base b
JOIN f1_done f
  ON f.doc_id = b.doc_id AND f.page_seq = b.page_seq AND f.det_idx = b.det_idx
JOIN pages pg ON pg.doc_id = b.doc_id AND pg.page_seq = b.page_seq
"""
