"""HTML main-content extraction: boilerplate strip over DOM-ish payloads.

The north rule names "HTML boilerplate strip … DOM heuristics" as a
first-class extraction axis alongside the PDF/layout parse. The
reference expresses the same idea for PDFs — the `abandon` layout
category is dropped before markdown emit (pdf_extract_kit
pdf2markdown, P5 in SURVEY.md §2); this module is that semantics
re-expressed for HTML payloads with the classic public content-
extraction heuristics (Readability / jusText / Boilerpipe family):
block segmentation on block-level tags, then keep a block iff its
visible text is long enough AND its link density is low enough.

Two implementations, one contract:

* ``html_main_content`` — pure Catalyst, ZERO shuffle: regexp strip →
  block split → per-block higher-order functions → per-row array fold.
  Map-only; at 100 TB it fuses into the scan (no exchange at all).
  Every decision is exact-integer (char counts, cross-multiplied link
  density), so the DuckDB twin hashes identically.
* ``html_dom_extract`` — a real streaming DOM pass (stdlib
  ``html.parser``) over Arrow batches via ``mapInPandas``: handles what
  the regex path cannot (quoted ``>`` in attributes, full entity set,
  CDATA script bodies). On well-formed input it equals the relational
  path block-for-block (tests/test_htmlops.py pins the agreement), so
  the SAME DuckDB twin oracles both driver queries.

Portability contract (DESIGN.md §5 applies): the supported entity set
is exactly {&lt; &gt; &quot; &#39; &copy; &amp;} decoded in that order
(amp last — single-decode semantics, equal to html.unescape on this
set); whitespace collapse uses the ASCII ``\\s`` class (no NBSP/vertical
tab in payloads — Java/RE2/Python ``(?a)`` agree on ASCII); regexes stay
in the Java ∩ RE2 subset (no backrefs or lookaround).
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import pyworker

# ---------------------------------------------------------------- regex
# Java ∩ RE2 subset. \b after the tag name keeps <p> from matching <pre>.
SCRIPT_STYLE_RE = r"(?is)<script\b[^>]*>.*?</script>|<style\b[^>]*>.*?</style>"
COMMENT_RE = r"(?s)<!--.*?-->"
# ONE canonical block-tag list; the regex alternation (relational path)
# and the frozenset (DOM path) both derive from it, so the two paths can
# never drift apart on what counts as a block boundary.
BLOCK_TAG_LIST = (
    "html", "head", "body", "title", "p", "div", "nav", "footer", "header",
    "aside", "h1", "h2", "h3", "h4", "h5", "h6", "ul", "ol", "li",
    "table", "tr", "td", "th", "section", "article", "blockquote", "pre",
    "br", "hr", "form",
)
_BLOCK_NAMES = "|".join(BLOCK_TAG_LIST)
BLOCK_SPLIT_RE = r"(?i)</?(?:" + _BLOCK_NAMES + r")\b[^>]*>"
TAG_RE = r"<[^>]+>"
ANCHOR_RE = r"(?is)<a\b[^>]*>(.*?)</a>"
WS_RE = r"\s+"

# amp LAST: '&amp;lt;' decodes to '&lt;' exactly like html.unescape
ENTITIES = [
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
    ("&#39;", "'"), ("&copy;", "©"), ("&amp;", "&"),
]

MIN_LEN = 40        # keep a block iff >= this many visible chars ...
MAX_LINK_PCT = 33   # ... and anchor-text chars <= 33% of visible chars


# ------------------------------------------------- shared column pieces
def _decode(c: F.Column) -> F.Column:
    for ent, ch in ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return c


def _txt(b: F.Column) -> F.Column:
    """Visible text of a block chunk: strip inline tags (DOM-equivalent
    '' join — inline tags never glue words, block tags already split),
    decode entities, collapse whitespace, trim."""
    return F.trim(F.regexp_replace(_decode(F.regexp_replace(b, TAG_RE, "")), WS_RE, " "))


def _link_len(b: F.Column) -> F.Column:
    """Total visible anchor-text chars in a block chunk (bigint)."""
    return F.aggregate(
        F.regexp_extract_all(b, F.lit(ANCHOR_RE), F.lit(1)),
        F.lit(0).cast("bigint"),
        lambda acc, m: acc + F.length(_txt(m)),
    )


def _keep(s: F.Column) -> F.Column:
    """Content rule, exact-integer: length gate + cross-multiplied link
    density (no float division → engine-portable)."""
    return (F.length(s["t"]) >= MIN_LEN) & (s["l"] * 100 <= MAX_LINK_PCT * F.length(s["t"]))


def _block_structs(
    df: DataFrame, html_col: str, carry: tuple[str, ...] = ("doc_id",)
) -> DataFrame:
    """``carry`` columns + ``ne``: array<struct<t,l>> of nonempty visible
    blocks.

    Each intermediate array is materialized as a real column between
    selects — an expression referenced inside a HOF lambda is
    re-evaluated per element (spark-graft-gotchas), so blocks/texts/
    links must be columns, not inlined expressions."""
    stripped = F.regexp_replace(
        F.regexp_replace(html_col, SCRIPT_STYLE_RE, " "), COMMENT_RE, " "
    )
    d1 = df.select(*carry, F.split(stripped, BLOCK_SPLIT_RE).alias("blocks"))
    d2 = d1.select(
        *carry,
        F.transform("blocks", _txt).alias("texts"),
        F.transform("blocks", _link_len).alias("links"),
    )
    return d2.select(
        *carry,
        F.filter(
            F.zip_with("texts", "links", lambda t, l: F.struct(t.alias("t"), l.alias("l"))),
            lambda s: s["t"] != "",
        ).alias("ne"),
    )


def html_main_content(df: DataFrame, html_col: str = "html") -> DataFrame:
    """doc_id, main_text, n_blocks, kept_blocks, removed_chars — the
    relational extractor. Map-only (no exchange): block segmentation and
    the keep-fold are per-row higher-order functions, so the operator
    fuses into whatever scan precedes it at any scale."""
    d = _block_structs(df, html_col)
    return d.select(
        "doc_id",
        F.array_join(
            F.transform(F.filter("ne", _keep), lambda s: s["t"]), "\n\n"
        ).alias("main_text"),
        F.size("ne").cast("bigint").alias("n_blocks"),
        F.size(F.filter("ne", _keep)).cast("bigint").alias("kept_blocks"),
        F.aggregate(
            F.filter("ne", lambda s: ~_keep(s)),
            F.lit(0).cast("bigint"),
            lambda a, s: a + F.length(s["t"]),
        ).alias("removed_chars"),
    )


def html_block_stats(df: DataFrame, html_col: str = "html") -> DataFrame:
    """Granular per-block view: doc_id, block_idx (0-based over nonempty
    blocks), block_text, text_len, link_len, kept. posexplode is narrow
    (no shuffle); this is the audit/debug surface for the keep rule."""
    d = _block_structs(df, html_col)
    e = d.select("doc_id", F.posexplode("ne").alias("block_idx", "s"))
    return e.select(
        "doc_id",
        F.col("block_idx").cast("int").alias("block_idx"),
        F.col("s")["t"].alias("block_text"),
        F.length(F.col("s")["t"]).cast("bigint").alias("text_len"),
        F.col("s")["l"].alias("link_len"),
        _keep(F.col("s")).alias("kept"),
    )


# ------------------------------------------------------------ DuckDB twins
def _sql_decode(x: str) -> str:
    for ent, ch in ENTITIES:
        ch_sql = "chr(39)" if ch == "'" else "'" + ch + "'"
        x = f"replace({x}, '{ent}', {ch_sql})"
    return x


def _sql_txt(x: str) -> str:
    inner = f"regexp_replace({x}, '<[^>]+>', '', 'g')"
    ws = "\\s+"
    return f"trim(regexp_replace({_sql_decode(inner)}, '{ws}', ' ', 'g'))"


def _sql_keep(s: str = "s") -> str:
    return (
        f"length({s}.t) >= {MIN_LEN} AND {s}.l * 100 <= {MAX_LINK_PCT} * length({s}.t)"
    )


def _sql_block_structs(source_sql: str, html_expr: str) -> str:
    """CTE body producing (doc_id, ne) — twin of ``_block_structs``."""
    anchor = ANCHOR_RE
    return f"""
hb AS (
  SELECT doc_id, string_split_regex(
           regexp_replace(regexp_replace({html_expr}, '{SCRIPT_STYLE_RE}', ' ', 'g'),
                          '{COMMENT_RE}', ' ', 'g'),
           '{BLOCK_SPLIT_RE}') AS blocks
  FROM {source_sql}
),
hne AS (
  SELECT doc_id, list_filter(list_transform(blocks, x -> struct_pack(
           t := {_sql_txt('x')},
           l := CAST(coalesce(list_sum(list_transform(
                  regexp_extract_all(x, '{anchor}', 1),
                  m -> length({_sql_txt('m')}))), 0) AS BIGINT))),
         s -> s.t <> '') AS ne
  FROM hb
)"""


def html_main_content_sql(source_sql: str, html_expr: str) -> str:
    """Full DuckDB twin of ``html_main_content`` (also oracles the DOM
    variant — equal on well-formed input by the agreement test)."""
    return f"""
WITH {_sql_block_structs(source_sql, html_expr)}
SELECT doc_id,
  coalesce(array_to_string(list_transform(list_filter(ne, s -> {_sql_keep()}), s -> s.t),
                           chr(10)||chr(10)), '') AS main_text,
  CAST(len(ne) AS BIGINT) AS n_blocks,
  CAST(len(list_filter(ne, s -> {_sql_keep()})) AS BIGINT) AS kept_blocks,
  CAST(coalesce(list_sum(list_transform(
         list_filter(ne, s -> NOT ({_sql_keep()})), s -> length(s.t))), 0) AS BIGINT)
    AS removed_chars
FROM hne
"""


def html_block_stats_sql(source_sql: str, html_expr: str) -> str:
    """DuckDB twin of ``html_block_stats`` (1-indexed list access,
    0-based emitted index — matches posexplode)."""
    return f"""
WITH {_sql_block_structs(source_sql, html_expr)},
hidx AS (
  SELECT doc_id, unnest(list_transform(range(1, len(ne) + 1),
           i -> struct_pack(i := i - 1, t := ne[i].t, l := ne[i].l))) AS u
  FROM hne
)
SELECT doc_id, CAST(u.i AS INT) AS block_idx, u.t AS block_text,
       CAST(length(u.t) AS BIGINT) AS text_len, u.l AS link_len,
       (length(u.t) >= {MIN_LEN} AND u.l * 100 <= {MAX_LINK_PCT} * length(u.t)) AS kept
FROM hidx
"""


# --------------------------------------------------------- DOM variant
_BLOCK_TAGS = frozenset(BLOCK_TAG_LIST)
_WS = re.compile(r"(?a)\s+")  # (?a): ASCII \s — matches the Java/RE2 class


def _norm(s: str) -> str:
    return _WS.sub(" ", s).strip()


class _BlockParser(HTMLParser):
    """Streaming block segmenter: every block-tag boundary (open or
    close) finalizes the current text run — exactly the chunks the
    regex split produces, but via real tokenization (quoted '>',
    script CDATA, the full charref table)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[tuple[str, int]] = []
        self._buf: list[str] = []
        self._links: list[str] = []
        self._cur_link: list[str] | None = None
        self._skip = 0

    def _flush(self) -> None:
        if self._cur_link is not None:  # anchor left open across a block edge
            self._links.append("".join(self._cur_link))
            self._cur_link = None
        txt = _norm("".join(self._buf))
        if txt:
            self.blocks.append((txt, sum(len(_norm(t)) for t in self._links)))
        self._buf = []
        self._links = []

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in ("script", "style"):
            self._skip += 1
        elif tag in _BLOCK_TAGS:
            self._flush()
        elif tag == "a":
            if self._cur_link is not None:
                self._links.append("".join(self._cur_link))
            self._cur_link = []

    def handle_endtag(self, tag: str) -> None:
        if tag in ("script", "style"):
            self._skip = max(0, self._skip - 1)
        elif tag in _BLOCK_TAGS:
            self._flush()
        elif tag == "a" and self._cur_link is not None:
            self._links.append("".join(self._cur_link))
            self._cur_link = None

    def handle_data(self, data: str) -> None:
        if self._skip:
            return
        self._buf.append(data)
        if self._cur_link is not None:
            self._cur_link.append(data)


def dom_blocks(html: str) -> list[tuple[str, int]]:
    """Nonempty (visible_text, link_chars) blocks via the DOM pass."""
    p = _BlockParser()
    p.feed(html)
    p.close()
    p._flush()
    return p.blocks


def html_dom_extract(df: DataFrame, html_col: str = "html") -> DataFrame:
    """Same output contract as ``html_main_content``, computed by the
    streaming DOM parser over Arrow batches (``mapInPandas`` — the
    sanctioned batched-Python path, like parse.py's payload parser).
    Map-only: no shuffle; batch cost is linear in payload bytes."""
    import pandas as pd  # local import: executors only

    def run(batches):
        pyworker.install()
        for pdf in batches:
            ids, mains, nbs, kbs, rms = [], [], [], [], []
            for did, h in zip(pdf["doc_id"], pdf[html_col]):
                blocks = dom_blocks(h or "")
                kept = [
                    t for t, l in blocks
                    if len(t) >= MIN_LEN and l * 100 <= MAX_LINK_PCT * len(t)
                ]
                ids.append(did)
                mains.append("\n\n".join(kept))
                nbs.append(len(blocks))
                kbs.append(len(kept))
                rms.append(sum(len(t) for t, l in blocks) - sum(len(t) for t in kept))
            yield pd.DataFrame(
                {"doc_id": ids, "main_text": mains, "n_blocks": nbs,
                 "kept_blocks": kbs, "removed_chars": rms}
            )

    return df.select("doc_id", html_col).mapInPandas(
        run,
        "doc_id bigint, main_text string, n_blocks bigint, "
        "kept_blocks bigint, removed_chars bigint",
    )


# ------------------------------------------------------- HTML synthesis
# The driver testdata has no HTML column, so (like docsource's payload
# template) ONE template generates both the Spark Column and the DuckDB
# expression — byte-identical pages per document. The layout exercises
# every rule branch: script/style/comment stripped; nav + sidebar
# (short AND 100% link) dropped; h1/title/footer dropped by min length;
# the "related" div dropped by link density ALONE (long but 80% links);
# three real paragraphs kept, one with an inline link and entities.
HTML_TEMPLATE: list[list] = [
    ["<html><head><title>doc ", ("id",), "</title>"],
    ["<style>p { color: #222; } .side { float: left; }</style>"],
    ['<script type="text/javascript">var t = 1; if (t < 2) { track(); }</script>'],
    ["</head><body>"],
    ['<nav><a href="/">home</a> <a href="/about">about</a> '
     '<a href="/contact">contact</a></nav>'],
    ['<div class="side"><ul><li><a href="/t/1">', ("sub", 1, 12),
     '</a></li><li><a href="/t/2">', ("sub", 13, 12), "</a></li></ul></div>"],
    ["<h1>", ("sub", 1, 24), " report ", ("id",), "</h1>"],
    ["<p>", ("sub", 25, 180), "</p>"],
    ["<p>", ("sub", 205, 120), ' see <a href="/ref/', ("id",),
     '">the appendix</a> for details &amp; &lt;notes&gt;.</p>'],
    ['<div class="related"><a href="/r/1">', ("sub", 325, 18),
     '</a> and <a href="/r/2">', ("sub", 343, 18),
     '</a> plus <a href="/r/3">', ("sub", 361, 18), "</a></div>"],
    ["<!-- rendered by engine ", ("id",), " -->"],
    ["<p>", ("sub", 379, 160), "</p>"],
    ["<footer>&copy; site terms &amp; privacy</footer>"],
    ["</body></html>"],
]


def html_col(doc_text: str = "text", doc_id: str = "doc_id") -> F.Column:
    """Spark Column: the synthetic HTML page for a documents row."""
    t = F.translate(F.col(doc_text), "<>&|", "    ")
    parts = []
    for line in HTML_TEMPLATE:
        pieces = []
        for p in line:
            if isinstance(p, str):
                pieces.append(F.lit(p))
            elif p[0] == "sub":
                pieces.append(F.substring(t, p[1], p[2]))
            else:
                pieces.append(F.col(doc_id).cast("string"))
        parts.append(F.concat(*pieces) if len(pieces) > 1 else pieces[0])
    return F.concat_ws("\n", *parts)


def html_sql_expr(doc_text: str = "text", doc_id: str = "doc_id") -> str:
    """DuckDB expression: the byte-identical page."""
    t = f"translate({doc_text}, '<>&|', '    ')"
    parts = []
    for line in HTML_TEMPLATE:
        pieces = []
        for p in line:
            if isinstance(p, str):
                pieces.append("'" + p.replace("'", "''") + "'")
            elif p[0] == "sub":
                pieces.append(f"substr({t}, {p[1]}, {p[2]})")
            else:
                pieces.append(f"CAST({doc_id} AS VARCHAR)")
        parts.append(" || ".join(pieces))
    return f"concat_ws(chr(10), {', '.join(parts)})"


def documents_as_html(documents: DataFrame) -> DataFrame:
    """documents → (doc_id, html) with the deterministic synthetic page."""
    return documents.select("doc_id", html_col().alias("html"))


def extract_html_turns(documents: DataFrame, convs: int = 97) -> DataFrame:
    """The north-rule shape on the HTML axis: per-TURN main-content
    extraction under stable turn ordering. Docs are wrapped into the
    transcripts grid (conv_id = doc_id % convs, turn_idx = doc_id //
    convs — same mapping as docsource.documents_as_transcripts), each
    turn's HTML payload is extracted map-side, then the single O8-style
    window assigns turn_seq. Plan = scan → Project (zero-shuffle
    extractor) → ONE exchange on conv_id → window; identical census to
    the fused PDF pipeline (SCALE.md §1)."""
    from pyspark.sql.window import Window

    base = documents.select(
        F.format_string("conv-%06d", (F.col("doc_id") % convs).cast("int")).alias(
            "conv_id"
        ),
        (F.col("doc_id") / convs).cast("int").alias("turn_idx"),
        html_col().alias("html"),
    )
    # conv_id/turn_idx ride THROUGH the extractor projection (no
    # re-join): the whole pre-window job stays one narrow stage
    d = _block_structs(base, "html", carry=("conv_id", "turn_idx"))
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return (
        d.select(
            "conv_id",
            "turn_idx",
            F.array_join(
                F.transform(F.filter("ne", _keep), lambda s: s["t"]), "\n\n"
            ).alias("main_text"),
            F.size(F.filter("ne", _keep)).cast("bigint").alias("kept_blocks"),
        )
        .withColumn("turn_seq", F.row_number().over(w).cast("int"))
        .select("conv_id", "turn_idx", "turn_seq", "main_text", "kept_blocks")
    )


def extract_html_turns_sql(convs: int = 97) -> str:
    """DuckDB twin of ``extract_html_turns``."""
    body = html_main_content_sql("documents", html_sql_expr()).strip()
    return f"""
WITH hsrc AS ({body})
SELECT printf('conv-%06d', CAST(doc_id % {convs} AS INT)) AS conv_id,
       CAST(floor(doc_id / {convs}) AS INT) AS turn_idx,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY doc_id % {convs}
         ORDER BY floor(doc_id / {convs})) AS INT) AS turn_seq,
       main_text, kept_blocks
FROM hsrc
"""
