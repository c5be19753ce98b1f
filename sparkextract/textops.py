"""Training-data pipeline operators over a documents table: deduplication
(exact, MinHash+LSH, SimHash, n-gram Jaccard), language ID, quality
scoring, token counting, document fingerprinting.

All pure Catalyst. Cross-engine determinism rules (the DuckDB oracle must
hash-match): hashes are md5 hex *strings* (lexicographic MIN is
well-defined and identical in any engine); nothing sums doubles in an
engine-chosen order; bit decisions read hex characters, not parsed ints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import pyworker

N_MINHASH = 8  # seeds 0..7; bands of 2 → 4 LSH bands


def words(documents: DataFrame) -> DataFrame:
    """doc_id, word (split on single space — documents are space-joined)."""
    return documents.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).where(F.col("word") != "")


def exact_dedup(documents: DataFrame, prefix: int = 64) -> DataFrame:
    """Exact dedup on a normalized key: hash-groupBy, keeper = min id.
    At scale this is one shuffle on the 16-byte key; count+min are
    map-side combinable."""
    return (
        documents.select("doc_id", F.md5(F.substring("text", 1, prefix)).alias("key"))
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper"))
    )


def shingles(documents: DataFrame, k: int = 3, distinct: bool = True) -> DataFrame:
    """doc_id, shingle: k-word shingles, distinct by default (SURVEY
    minhash base). ``distinct=False`` skips the dedup exchange for
    consumers that are multiplicity-insensitive (MIN aggregation)."""
    # materialize the split as a column FIRST: an expression referenced
    # inside a higher-order-function lambda is re-evaluated per element
    # (split(text) would run 3× per shingle → quadratic per doc)
    words_df = documents.select("doc_id", F.split("text", " ").alias("w"))
    w = F.col("w")
    sh = F.when(
        F.size(w) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - k),
            lambda i: F.concat_ws(" ", w[i], w[i + 1], w[i + 2]),
        ),
    ).otherwise(F.array().cast("array<string>"))
    out = words_df.select("doc_id", F.explode(sh).alias("shingle"))
    return out.distinct() if distinct else out


def minhash_signature(documents: DataFrame, n: int = N_MINHASH) -> DataFrame:
    """doc_id, seed, minhash: min over shingles of md5(seed:shingle).

    Computed as n parallel MIN aggregates over ONE pass of the shingle
    stream (no ×n seed explosion through the shuffle — map-side combine
    reduces each doc to one row per task), then unpivoted to the
    (doc_id, seed, minhash) shape. 8× less shuffle input than the naive
    explode; round 6 also drops the shingle ``distinct`` exchange —
    MIN over a multiset equals MIN over its set, so the dedup bought
    nothing but a full corpus-shingle shuffle."""
    sh = shingles(documents, distinct=False)
    aggs = [
        F.min(F.md5(F.concat_ws(":", F.lit(s), F.col("shingle")))).alias(f"s{s}")
        for s in range(n)
    ]
    wide = sh.groupBy("doc_id").agg(*aggs)
    stack = ", ".join(f"{s}, s{s}" for s in range(n))
    return wide.selectExpr(
        "doc_id", f"stack({n}, {stack}) as (seed, minhash)"
    ).select("doc_id", F.col("seed").cast("int").alias("seed"), "minhash")


def _lsh_bands(documents: DataFrame) -> DataFrame:
    """(doc_id, band, bucket): MinHash-LSH band buckets — band = 2
    consecutive signature rows, bucket = md5 of the sorted pair."""
    sig = minhash_signature(documents)
    return sig.groupBy(
        "doc_id", (F.col("seed") / 2).cast("int").alias("band")
    ).agg(
        F.md5(F.concat_ws("|", F.sort_array(F.collect_list("minhash")))).alias("bucket")
    )


def lsh_candidate_pairs(documents: DataFrame) -> DataFrame:
    """MinHash-LSH near-dup candidates: docs sharing any band bucket
    pair up. Scale path: the bucket join replaces the all-pairs cross
    product."""
    bands = _lsh_bands(documents)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(b, ["band", "bucket"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def simhash(documents: DataFrame, bits: int = 16) -> DataFrame:
    """16-bit SimHash: bit i votes +1/-1 by the i-th hex char of each
    word's md5 (hex char >= '8' ⇔ high bit set); engine-portable."""
    w = words(documents).select("doc_id", F.md5("word").alias("h"))
    votes = [
        F.sum(
            F.when(F.substring("h", i + 1, 1) >= "8", F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"v{i}")
        for i in range(bits)
    ]
    agg = w.groupBy("doc_id").agg(*votes)
    sig = None
    for i in range(bits):
        term = F.when(F.col(f"v{i}") >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return agg.select("doc_id", sig.cast("bigint").alias("simhash"))


def simhash_neardup(
    documents: DataFrame, bands: int = 4, bits_per_band: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs: band the 16-bit signature into 4×4-bit keys
    (pigeonhole: any pair within Hamming distance 3 shares at least one
    intact band → 100% recall at the default threshold), bucket-join on
    (band, key), then verify with bit_count(xor) <= max_hamming. Same
    banded equi-join shape as MinHash-LSH — no all-pairs anywhere."""
    sig = simhash(documents)
    band = F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band")
    mask = (1 << bits_per_band) - 1
    keyed = sig.select("doc_id", "simhash", band).select(
        "doc_id", "simhash", "band",
        F.expr(f"shiftright(simhash, band * {bits_per_band}) & {mask}").alias("key"),
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    cand = (
        a.join(b, ["band", "key"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sa"), F.col("b.simhash").alias("sb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def ngram_jaccard_pairs(
    documents: DataFrame, threshold: float = 0.02, max_shingle_df: int = 64,
    materialize: bool = True,
) -> DataFrame:
    """n-gram Jaccard near-dup over the WHOLE corpus: pairs sharing >= 1
    shingle, similarity = |A∩B| / |A∪B| (exact integers; the ratio divides
    identical ints).

    Stop-shingle guard: shingles with document frequency > max_shingle_df
    are dropped BEFORE the self-join (a boilerplate shingle shared by 10⁶
    docs would make the join quadratic on that key). Jaccard is then the
    exact jaccard of the filtered shingle sets — sizes count filtered
    shingles too, so the measure stays internally consistent."""
    sh = shingles(documents)
    # stop-shingle filter as a WINDOW count (one shingle-keyed exchange,
    # no df-agg + join-back recompute), then materialize the filtered
    # shingle table ONCE: it feeds THREE consumers (sizes + both sides
    # of the self-join) whose column-pruned subtrees ReuseExchange
    # cannot dedupe — the explode+distinct chain previously ran 4x.
    # The checkpointed set is the filtered shingle index a production
    # pipeline would persist anyway.
    shf = (
        sh.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
        )
        .where(F.col("df") <= max_shingle_df)
        .select("doc_id", "shingle")
    )
    if materialize:
        shf = shf.localCheckpoint(eager=True)
    sizes = shf.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = shf.alias("a"), shf.alias("b")
    inter = (
        a.join(b, "shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "nb"), "doc_b")
        .withColumn("jaccard", F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def lang_id_ngram(documents: DataFrame) -> DataFrame:
    """Language-ID heuristic: CJK char count vs ascii-letter count."""
    cjk = F.length(F.regexp_replace("text", "[^一-鿿]", ""))
    latin = F.length(F.regexp_replace("text", "[^a-zA-Z]", ""))
    return documents.select(
        "doc_id",
        cjk.alias("n_cjk"),
        latin.alias("n_latin"),
        F.when(cjk * 2 > latin, F.lit("cjk")).otherwise(F.lit("latin")).alias("script"),
    )


def quality_score(documents: DataFrame) -> DataFrame:
    """Quality heuristics: length, word count, punct ratio, stopword ratio.
    Integer counts + one final division of exact ints (portable)."""
    n_chars = F.length("text")
    n_words = F.size(F.split("text", " "))
    n_punct = F.length("text") - F.length(F.regexp_replace("text", "[.,!?;:]", ""))
    n_stop = F.size(
        F.filter(F.split("text", " "), lambda x: x.isin("the", "a", "of", "and", "to"))
    )
    return documents.select(
        "doc_id",
        n_chars.alias("n_chars_calc"),
        n_words.alias("n_words"),
        n_punct.alias("n_punct"),
        n_stop.alias("n_stop"),
        F.round(n_stop / n_words, 6).alias("stop_ratio"),
    )


def token_count(documents: DataFrame) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish regex tokenizer."""
    ws = F.size(F.split("text", " "))
    bpe = F.size(F.regexp_extract_all("text", F.lit(r"\w+|[^\w\s]"), 0))
    return documents.select(
        "doc_id", ws.alias("n_ws_tokens"), bpe.alias("n_bpe_tokens")
    )


GOPHER_STOPWORDS = ("the", "a", "of", "and", "to")


def _gopher_exprs():
    """The Gopher rule ingredients as Catalyst Columns over a ``text``
    column — reusable so the pass predicate can fuse onto any scan
    without going through the stats projection."""
    ws = F.split("text", " ")
    n_words = F.size(ws)
    sum_len = F.length(F.replace("text", F.lit(" "), F.lit("")))
    n_stop = F.size(F.filter(ws, lambda x: x.isin(*GOPHER_STOPWORDS)))
    n_hash = F.length("text") - F.length(F.replace("text", F.lit("#"), F.lit("")))
    n_ellipsis = (
        F.length("text") - F.length(F.replace("text", F.lit("..."), F.lit("")))
    ) / 3
    return {
        "n_words": n_words,
        "mean_len": sum_len / n_words,
        "n_stop": n_stop,
        "symbol_ratio": (n_hash + n_ellipsis) / n_words,
    }


def _gopher_pass_col(
    min_words: int = 25,
    max_words: int = 100000,
    min_mean_len: float = 3.0,
    max_mean_len: float = 10.0,
    min_stop_hits: int = 2,
):
    """The composite gopher_pass predicate as one boolean Column."""
    e = _gopher_exprs()
    return (
        (e["n_words"] >= min_words)
        & (e["n_words"] <= max_words)
        & (e["mean_len"] >= min_mean_len)
        & (e["mean_len"] <= max_mean_len)
        & (e["n_stop"] >= min_stop_hits)
        & (e["symbol_ratio"] < 0.1)
    )


def gopher_pass_sql(col: str = "text") -> str:
    """The gopher_pass predicate as DuckDB SQL (twin of
    ``_gopher_pass_col`` with default thresholds) — for composing the
    gate into larger oracle queries."""
    w = f"len(string_split({col}, ' '))"
    return f"""({w} BETWEEN 25 AND 100000
  AND length(replace({col}, ' ', '')) / {w} BETWEEN 3.0 AND 10.0
  AND len(list_filter(string_split({col}, ' '),
          w -> w IN ('the', 'a', 'of', 'and', 'to'))) >= 2
  AND (length({col}) - length(replace({col}, '#', ''))
       + (length({col}) - length(replace({col}, '...', ''))) / 3) / {w} < 0.1)"""


def pii_scrub_sql_expr(col: str = "text") -> str:
    """The scrubbed-text expression as DuckDB SQL (twin of the
    replacement chain in ``pii_scrub``: email → ip → phone)."""
    return (
        f"regexp_replace(regexp_replace(regexp_replace({col}, "
        r"'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'), "
        r"'\b\d{1,3}(\.\d{1,3}){3}\b', '<IP>', 'g'), "
        r"'\b\d{3}[- ]\d{4}\b', '<PHONE>', 'g')"
    )


def gopher_quality(
    documents: DataFrame,
    min_words: int = 25,
    max_words: int = 100000,
    min_mean_len: float = 3.0,
    max_mean_len: float = 10.0,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, appendix A1):
    word-count bounds, mean word length band, minimum stop-word hits,
    symbol-to-word ratio ('#' and '...').

    All counts are exact integers; the two ratios are a single int/int
    division rounded once (engine-portable — see DESIGN.md §5). Pure
    Catalyst scalar expressions: no explode, no shuffle — at 100 TB this
    is a map-only pass that fuses into whatever scan precedes it."""
    e = _gopher_exprs()
    return documents.select(
        "doc_id",
        e["n_words"].alias("n_words"),
        F.round(e["mean_len"], 6).alias("mean_word_len"),
        e["n_stop"].alias("n_stop_hits"),
        F.round(e["symbol_ratio"], 6).alias("symbol_ratio"),
        _gopher_pass_col(
            min_words, max_words, min_mean_len, max_mean_len, min_stop_hits
        ).alias("gopher_pass"),
    )


def repetition_stats(documents: DataFrame) -> DataFrame:
    """Gopher-style repetition filters: fraction of the doc taken by its
    most frequent word / 2-gram, and the duplicate-word fraction
    (1 - distinct/total). High values flag boilerplate and degenerate
    text for removal before training.

    Shape at scale (round 6): every statistic is a PER-DOCUMENT function
    of the text, so the whole computation is ONE narrow mapInPandas pass
    (per-doc Counter in Python — guide §4.2) emitting integer stats;
    zero shuffles, zero joins (was: two explode → (doc, gram) shuffle →
    doc shuffle pipelines + a doc-keyed join). The fractions stay in
    Catalyst so ROUND keeps the engine-pinned HALF_UP semantics."""
    from collections import Counter

    def it(batches):
        pyworker.install()
        import pandas as pd  # textops has no module-level pandas dep

        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = (text or "").split(" ")
                ws = [x for x in raw if x != ""]
                if not ws:
                    continue  # the word_stats groupBy emitted no row
                wc = Counter(ws)
                if len(raw) >= 2:
                    gc = Counter(
                        raw[i] + " " + raw[i + 1] for i in range(len(raw) - 1)
                    )
                    top2, n2 = max(gc.values()), len(raw) - 1
                else:
                    top2, n2 = None, None  # left-join null (no 2-grams)
                rows.append(
                    (doc_id, max(wc.values()), len(ws), len(wc), top2, n2)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "top_word_n", "n_words",
                    "n_distinct_words", "top_2gram_n", "n_2grams",
                ],
            )

    stats = documents.select("doc_id", "text").mapInPandas(
        it,
        schema=(
            "doc_id bigint, top_word_n bigint, n_words bigint, "
            "n_distinct_words bigint, top_2gram_n bigint, n_2grams bigint"
        ),
    )
    return (
        stats
        .select(
            "doc_id",
            F.col("n_words").cast("int").alias("n_words"),
            F.round(F.col("top_word_n") / F.col("n_words"), 6).alias("top_word_frac"),
            F.round(1 - F.col("n_distinct_words") / F.col("n_words"), 6).alias(
                "dup_word_frac"
            ),
            F.round(F.col("top_2gram_n") / F.col("n_2grams"), 6).alias(
                "top_2gram_frac"
            ),
        )
    )


# PII patterns restricted to the Java-regex ∩ RE2 common subset (no
# lookaround, no backrefs) so the Spark plan and the DuckDB twin compile
# the same automaton semantics.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\b\d{3}[- ]\d{4}\b"
PII_IP_RE = r"\b\d{1,3}(\.\d{1,3}){3}\b"


def pii_scrub(documents: DataFrame) -> DataFrame:
    """PII redaction for training corpora: emails, NANP-style short phone
    numbers, IPv4 addresses → typed placeholder tokens, plus per-doc
    match counts (counted on the raw text, before any replacement, so
    the three counts are independent of replacement order).

    Replacement order is email → ip → phone: an IPv4 literal can occur
    inside an email's domain, so the wider pattern is consumed first.
    Pure scalar regexp ops — map-only at any scale."""
    n_emails = F.size(F.regexp_extract_all("text", F.lit(PII_EMAIL_RE), 0))
    n_phones = F.size(F.regexp_extract_all("text", F.lit(PII_PHONE_RE), 0))
    n_ips = F.size(F.regexp_extract_all("text", F.lit(PII_IP_RE), 0))
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text", PII_EMAIL_RE, "<EMAIL>"),
            PII_IP_RE,
            "<IP>",
        ),
        PII_PHONE_RE,
        "<PHONE>",
    )
    return documents.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        n_ips.alias("n_ips"),
        scrubbed.alias("scrubbed"),
    )


def winnow_fingerprints(
    documents: DataFrame, k: int = 3, w: int = 4
) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03): the
    distinct minima of every ``w``-window of ``k``-gram hashes — the
    guarantee is that any match of length >= w+k-1 words shares at least
    one fingerprint, with a bounded fingerprint density (~2/(w+1)).
    Hashes are md5 hex strings (lexicographic MIN is engine-portable);
    pure Catalyst: one posexplode + one bounded window + distinct."""
    words_df = documents.select("doc_id", F.split("text", " ").alias("ws"))
    wcol = F.col("ws")
    grams = F.when(
        F.size(wcol) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(wcol) - k),
            lambda i: F.md5(
                F.concat_ws(" ", *[wcol[i + j] for j in range(k)])
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = words_df.select("doc_id", F.posexplode(grams).alias("pos", "h"))
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(w - 1), Window.currentRow)
    )
    return (
        g.withColumn("fp", F.min("h").over(win))
        .where(F.col("pos") >= w - 1)
        .select("doc_id", "fp")
        .distinct()
    )


def substring_dup_spans(documents: DataFrame, k: int = 5) -> DataFrame:
    """Exact duplicated-substring detection (the distributed phrasing of
    suffix-array substring dedup, Lee et al. 2022 "Deduplicating
    Training Data Makes Language Models Better"): every maximal word
    span of length ≥ ``k`` that occurs more than once in the corpus
    (across documents OR repeated within one). Returns one row per
    maximal span occurrence: (doc_id, span_start, span_end, n_words).

    Shape at scale: one k-gram explode → one count keyed on the gram
    hash (map-side combinable, no pair join — duplication is a FLAG,
    not a pairing, so stop-gram skew cannot blow up) → a per-doc
    gaps-and-islands merge of flagged positions. Cost ∝ corpus tokens,
    independent of duplicate multiplicity."""
    words_df = documents.select("doc_id", F.split("text", " ").alias("ws"))
    wcol = F.col("ws")
    grams = F.when(
        F.size(wcol) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(wcol) - k),
            lambda i: F.md5(F.concat_ws(" ", *[wcol[i + j] for j in range(k)])),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = words_df.select("doc_id", F.posexplode(grams).alias("pos", "h"))
    # duplication flag as a WINDOW count over one h-keyed exchange: the
    # former groupBy + join-back consumed the gram explode twice (column
    # pruning defeats ReuseExchange) and paid the join's second shuffle
    flagged = (
        g.withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("h")))
        .where(F.col("n") >= 2)
        .select("doc_id", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = flagged.withColumn(
        "grp", F.col("pos") - F.row_number().over(w)
    )
    return (
        islands.groupBy("doc_id", "grp")
        .agg(F.min("pos").alias("span_start"), F.max("pos").alias("span_end_g"))
        .select(
            "doc_id",
            F.col("span_start").cast("int").alias("span_start"),
            (F.col("span_end_g") + k - 1).cast("int").alias("span_end"),
            (F.col("span_end_g") + k - F.col("span_start")).cast("int").alias(
                "n_words"
            ),
        )
    )


FP_MOD = 982451653  # prime modulus — every intermediate stays < MOD² < 2^63


def fingerprint(documents: DataFrame, window: int = 8) -> DataFrame:
    """Rolling polynomial fingerprint: word value = first-two-char codes +
    length (engine-portable ints), weighted by 31^(pos mod window).

    All arithmetic is mod FP_MOD *per term* (weights are precomputed
    mod FP_MOD, wv is reduced before the product): 31^7 ≈ 2.7e10 times a
    CJK wv ≈ 1.7e9 would overflow int64 in a single product — a runtime
    ArithmeticException under Spark 4 ANSI mode. sum(term mod M) mod M ==
    sum(term) mod M, so values are unchanged where the old form didn't
    overflow."""
    pw = [pow(31, i, FP_MOD) for i in range(window)]
    w = documents.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word")
    ).where(F.col("word") != "")
    padded = F.concat("word", F.lit("__"))  # 1-char words: engines disagree on ascii('')
    wv = F.pmod(
        (
            F.ascii(F.substring(padded, 1, 1)) * 65536
            + F.ascii(F.substring(padded, 2, 1)) * 256
            + F.length("word")
        ).cast("bigint"),
        F.lit(FP_MOD),
    )
    weight = F.element_at(
        F.array(*[F.lit(p) for p in pw]), (F.col("pos") % window + 1).cast("int")
    ).cast("bigint")
    term = F.pmod(wv * weight, F.lit(FP_MOD))
    return w.groupBy("doc_id").agg(
        F.pmod(F.sum(term), F.lit(FP_MOD)).cast("bigint").alias("fingerprint")
    )


def training_corpus(documents: DataFrame, min_words: int = 40) -> DataFrame:
    """The END-TO-END training-data path, composed from stages that are
    each individually driver-oracled (VERDICT r02 item 10):

        extraction (min_slice, pure Catalyst)
          → near-dup dedup (LSH graph → connected components → one
            representative per cluster: the keeper tail
            ``simsearch.dedup_keep_representatives``)
          → quality gate (≥ ``min_words`` real words in the EXTRACTED
            text — the sf0.01 median is 49, so the gate provably bites)
          → token accounting over the surviving corpus.

    Output: one row per kept representative document —
    (doc_id, n_members, n_words, n_bpe_tokens, text_hash). text_hash =
    md5 of the extracted markdown pins the actual text content through
    the whole chain, not just row counts."""
    from .minslice import min_slice
    from .simsearch import dedup_keep_representatives

    joined = min_slice(documents).join(
        dedup_keep_representatives(documents), "doc_id"
    )
    nw = F.size(F.filter(F.split("mini_md", " "), lambda w: w != "")).cast("int")
    bpe = F.size(
        F.regexp_extract_all(F.col("mini_md"), F.lit(r"\w+|[^\w\s]"), 0)
    ).cast("int")
    return (
        joined.select(
            "doc_id", "n_members", nw.alias("n_words"),
            bpe.alias("n_bpe_tokens"), F.md5("mini_md").alias("text_hash"),
        )
        .where(F.col("n_words") >= min_words)
    )


def _classifier_weights(dim: int = 256, seed: str = "qc1") -> list[int]:
    """Deterministic stand-in for trained linear-classifier weights:
    one small signed integer per hashed feature bucket (derived from
    md5 of the bucket index — fixed forever, engine-independent). A
    real deployment swaps this list for fasttext/DCLM-style trained
    weights; everything downstream is unchanged."""
    import hashlib

    return [
        int(hashlib.md5(f"{seed}:{j}".encode()).hexdigest()[:2], 16) % 17 - 8
        for j in range(dim)
    ]


def quality_classifier(documents: DataFrame) -> DataFrame:
    """fasttext/DCLM-style linear quality classifier: bag of hashed
    word-unigram + bigram features × a 256-bucket integer weight vector.
    Output: doc_id, n_feats, score (exact bigint — no float dot), pass.

    Scale shape — the model-weights-as-broadcast-table pattern: gram
    expansion is narrow; the weights relation (256 rows) broadcast-joins
    onto the gram stream; the only exchange is the final combinable
    groupBy(doc_id). Feature hashing reads md5 HEX CHARS (the bucket key
    IS substr(md5(gram),1,2)), never parsed ints — engine-portable like
    simhash."""
    from pyspark.sql.functions import broadcast

    spark = documents.sparkSession
    w = _classifier_weights()
    hexc = "0123456789abcdef"
    weights = spark.createDataFrame(
        [(hexc[j // 16] + hexc[j % 16], w[j]) for j in range(len(w))],
        "feat string, weight long",
    )
    wdf = documents.select(
        "doc_id", F.filter(F.split("text", " "), lambda x: x != "").alias("w")
    )
    wcol = F.col("w")
    bigrams = F.when(
        F.size(wcol) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(wcol) - 2),
            lambda i: F.concat_ws(" ", wcol[i], wcol[i + 1]),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = wdf.select(
        "doc_id", F.explode(F.concat(wcol, bigrams)).alias("gram")
    )
    feats = grams.select("doc_id", F.substring(F.md5("gram"), 1, 2).alias("feat"))
    return (
        feats.join(broadcast(weights), "feat")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_feats"),
            F.sum("weight").cast("bigint").alias("score"),
        )
        .select("doc_id", "n_feats", "score", (F.col("score") >= 0).alias("pass"))
    )


def quality_classifier_sql(
    source_sql: str = "documents", text_col: str = "text"
) -> str:
    """DuckDB twin (same Python-generated weight constants; source
    parameterized for composition)."""
    w = _classifier_weights()
    hexc = "0123456789abcdef"
    vals = ", ".join(
        f"('{hexc[j // 16] + hexc[j % 16]}', {w[j]})" for j in range(len(w))
    )
    return f"""
WITH wt(feat, weight) AS (VALUES {vals}),
wd AS (
  SELECT doc_id, list_filter(string_split({text_col}, ' '), x -> x <> '') AS w
  FROM {source_sql}
),
grams AS (
  SELECT doc_id, unnest(w) AS gram FROM wd
  UNION ALL
  SELECT doc_id,
         unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1]))
           AS gram
  FROM wd WHERE len(w) >= 2
)
SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
       CAST(SUM(t.weight) AS BIGINT) AS score,
       (CAST(SUM(t.weight) AS BIGINT) >= 0) AS pass
FROM grams g JOIN wt t ON substr(md5(g.gram), 1, 2) = t.feat
GROUP BY g.doc_id
"""


def chunk_documents(
    documents: DataFrame, chunk_words: int = 64, overlap: int = 8
) -> DataFrame:
    """Training-window chunking: split each doc into overlapping
    ``chunk_words``-word windows (stride = chunk_words - overlap) — the
    standard pre-tokenization packing step for LM training corpora.

    Output: doc_id, chunk_idx (0-based), chunk_text, n_words. Narrow
    plan: split + per-row sequence of starts + posexplode — no shuffle;
    chunk rows inherit the scan's partitioning, so the downstream
    tokenizer/packer sees ~stride-balanced rows at any scale.

    Engine alignment (DESIGN.md §5): Spark ``sequence(0, n-1, stride)``
    == DuckDB ``range(0, n, stride)``; ``slice(w, s+1, chunk)`` ==
    ``list_slice(w, s+1, s+chunk)`` (1-based, clamped)."""
    stride = chunk_words - overlap
    if stride <= 0:
        raise ValueError("overlap must be smaller than chunk_words")
    wdf = documents.select(
        "doc_id", F.filter(F.split("text", " "), lambda x: x != "").alias("w")
    )
    starts = F.when(
        F.size("w") > 0, F.sequence(F.lit(0), F.size("w") - 1, F.lit(stride))
    ).otherwise(F.array().cast("array<int>"))
    sdf = wdf.select("doc_id", "w", starts.alias("starts"))
    e = sdf.select(
        "doc_id", "w", F.posexplode("starts").alias("chunk_idx", "start")
    )
    chunk = F.slice("w", F.col("start") + 1, F.lit(chunk_words))
    return e.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).cast("bigint").alias("n_words"),
    )


def chunk_documents_sql(
    chunk_words: int = 64, overlap: int = 8,
    source_sql: str = "documents", text_col: str = "text",
) -> str:
    """DuckDB twin of ``chunk_documents`` (source/text parameterized so
    composed pipelines can chunk an upstream CTE)."""
    stride = chunk_words - overlap
    return f"""
WITH w AS (
  SELECT doc_id, list_filter(string_split({text_col}, ' '), x -> x <> '') AS w
  FROM {source_sql}
),
s AS (
  SELECT doc_id, w,
         unnest(list_transform(range(1, len(range(0, len(w), {stride})) + 1),
           i -> struct_pack(ci := i - 1, st := (range(0, len(w), {stride}))[i]))) AS u
  FROM w
)
SELECT doc_id, CAST(u.ci AS INT) AS chunk_idx,
       array_to_string(list_slice(w, u.st + 1, u.st + {chunk_words}), ' ')
         AS chunk_text,
       CAST(len(list_slice(w, u.st + 1, u.st + {chunk_words})) AS BIGINT)
         AS n_words
FROM s
"""


def vocab_stats(documents: DataFrame, min_tf: int = 1) -> DataFrame:
    """Corpus vocabulary table: word → term frequency + document
    frequency — the input to tokenizer/vocab training and to stop-word
    discovery. One explode + one groupBy on the word key; tf is
    map-side combinable, df runs as Spark's standard two-phase
    count-distinct. Word keys are near-uniform (md5-free natural key is
    fine: df≤corpus bounds skew; the super-hot stop words are exactly
    what AQE skew-split handles)."""
    w = words(documents)
    out = w.groupBy("word").agg(
        F.count(F.lit(1)).alias("tf"),
        F.count_distinct("doc_id").alias("df"),
    )
    return out.where(F.col("tf") >= min_tf)


def vocab_stats_sql(min_tf: int = 1) -> str:
    return f"""
WITH w AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
  FROM documents
)
SELECT word, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
FROM w GROUP BY word HAVING COUNT(*) >= {min_tf}
"""


def decontaminate(
    documents: DataFrame, benchmark: DataFrame, k: int = 3
) -> DataFrame:
    """Benchmark decontamination — the training-data op every eval-aware
    pipeline runs before training: flag corpus documents sharing ANY
    k-gram shingle with a benchmark/eval set (the n-gram overlap rule of
    GPT-3 appendix C / The Pile). Output: one row per corpus doc —
    (doc_id, n_shared_shingles, clean).

    Scale shape: the benchmark shingle set is tiny next to a 100 TB
    corpus → broadcast semi-join against the exploded corpus shingles;
    the corpus never shuffles beyond its own shingle distinct."""
    doc_sh = shingles(documents, k)
    bench_sh = shingles(benchmark, k).select("shingle").distinct()
    hits = (
        doc_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
    )
    return (
        documents.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shared_shingles", F.lit(0)).alias("n_shared_shingles"),
            (F.coalesce("n_shared_shingles", F.lit(0)) == 0).alias("clean"),
        )
    )


def length_quantiles(documents: DataFrame, qs=(50, 90, 99)) -> DataFrame:
    """EXACT doc-length quantiles per source — corpus QA analytics.
    percentile_approx is engine-specific; the portable exact phrasing is
    the classic window rank: value at row ceil(q/100 * n) of the sorted
    lengths (ordinal/nearest-rank definition, ties broken by doc_id).
    One exchange on source; at scale the per-source sort is the cost —
    acceptable because this is an offline QA query, not a hot path."""
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    d = documents.select(
        "source", "n_chars", "doc_id",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("n"),
    )
    # ONE window pass: explode the quantile literals per row and filter
    # (a union of per-q branches would re-sort the corpus once per q —
    # Spark does not share subtrees across union branches)
    qarr = F.array(*[F.lit(int(q)) for q in qs])
    e = d.select(
        "source", "n_chars", "rn", "n", F.explode(qarr).alias("q")
    )
    return e.where(
        F.col("rn") == F.ceil(F.col("n") * F.col("q") / 100).cast("int")
    ).select(
        "source", F.col("q").cast("int").alias("q"),
        F.col("n_chars").cast("bigint").alias("value"),
    )


def length_quantiles_sql(qs=(50, 90, 99)) -> str:
    selects = [
        f"""SELECT source, {q} AS q, CAST(n_chars AS BIGINT) AS value
FROM ranked WHERE rn = CAST(ceil(n * {q} / 100) AS INT)"""
        for q in qs
    ]
    return """
WITH ranked AS (
  SELECT source, n_chars, doc_id,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM documents
)
""" + "\nUNION ALL\n".join(selects)


def bigram_lm_score(documents: DataFrame, thr: float = 4.55) -> DataFrame:
    """Perplexity-proxy quality filter (the KenLM-filter family — CCNet,
    Wenzek+19 arXiv:1911.00359): score every document by the mean
    INTEGER SURPRISAL of its bigrams under a bigram model trained on the
    corpus itself:

        surprisal(w1 w2) = ilog2 c(w1 ·) - ilog2 c(w1 w2)   (~ -log2 p(w2|w1))

    with ilog2 n = floor(log2 n) computed EXACTLY as len(bin(n)) - 1
    (Spark ``conv(n,10,2)`` / DuckDB ``bin(n)``), so the whole statistic
    is integer arithmetic — a float log() path could not be oracled
    hash-exact because transcendental rounding is not pinned across
    engines. ``lm_pass`` keeps predictable (low mean-surprisal) text,
    comparing the UNROUNDED exact-int division.

    Scale shape: one explode -> (doc, gram) combinable pre-agg -> global
    gram counts (gram-keyed combinable shuffle) -> two keyed equi-joins
    (gram, then first-word) -> one doc_id agg. No all-pairs, no Python;
    the bigram count table is the only large intermediate and both its
    producers and the final agg are map-side combinable. Only docs with
    >= 1 bigram appear (a 1-word doc has no LM evidence)."""
    ws = F.col("ws")
    grams = F.when(
        F.size(ws) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(ws) - 2),
            lambda i: F.concat_ws(" ", ws[i], ws[i + 1]),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # ONE linear pipeline (round 6): the (doc, gram) pre-agg rides an
    # explicit gram-keyed exchange (hash on a SUBSET of the grouping keys
    # satisfies the groupBy — the r5 tail-fuse rule), so the corpus-wide
    # bigram count c12 is a WINDOW sum on the same partitioning (zero
    # extra exchange) and c1 one w1-keyed window away. The former
    # bg/ug join phrasing re-computed the explode+pre-agg subtree 3x
    # (column pruning defeats ReuseExchange) and re-shuffled for both
    # joins: 3 corpus passes + ~6 exchanges, now 1 pass + 3 exchanges.
    # Per-window-key row counts stay bounded by distinct (doc, gram)
    # pairs — the same stop-word skew envelope as the join phrasing.
    dg = (
        documents.select("doc_id", F.split("text", " ").alias("ws"))
        .select("doc_id", F.explode(grams).alias("gram"))
        .repartition(F.col("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("k"))
        .withColumn("c12", F.sum("k").over(Window.partitionBy("gram")))
        .withColumn("w1", F.split("gram", " ")[0])
        .withColumn("c1", F.sum("k").over(Window.partitionBy("w1")))
    )

    def ilog2(c):
        return F.length(F.conv(c.cast("string"), 10, 2)) - 1

    scored = (
        dg.groupBy("doc_id")
        .agg(
            F.sum("k").cast("bigint").alias("n_bigrams"),
            F.sum(
                F.col("k") * (ilog2(F.col("c1")) - ilog2(F.col("c12")))
            ).cast("bigint").alias("surprisal"),
        )
    )
    avg = F.col("surprisal") / F.col("n_bigrams")
    return scored.select(
        "doc_id", "n_bigrams", "surprisal",
        F.round(avg, 6).alias("avg_surprisal"),
        (avg <= F.lit(thr)).alias("lm_pass"),
    )


def bigram_lm_score_sql(thr: float = 4.55) -> str:
    """DuckDB twin of ``bigram_lm_score`` (identical integer ilog2)."""
    return f"""
WITH arr AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
g AS (
  SELECT doc_id,
         unnest(list_transform(range(len(a) - 1),
                               i -> a[i + 1] || ' ' || a[i + 2])) AS gram
  FROM arr WHERE len(a) >= 2
),
dg AS (
  SELECT doc_id, gram, COUNT(*) AS k, string_split(gram, ' ')[1] AS w1
  FROM g GROUP BY doc_id, gram
),
bg AS (SELECT gram, SUM(k) AS c12 FROM dg GROUP BY gram),
ug AS (SELECT w1, SUM(k) AS c1 FROM dg GROUP BY w1),
s AS (
  SELECT dg.doc_id,
         CAST(SUM(dg.k) AS BIGINT) AS n_bigrams,
         CAST(SUM(dg.k * ((length(bin(ug.c1)) - 1)
                          - (length(bin(bg.c12)) - 1))) AS BIGINT) AS surprisal
  FROM dg JOIN bg USING (gram) JOIN ug USING (w1)
  GROUP BY dg.doc_id
)
SELECT doc_id, n_bigrams, surprisal,
       ROUND(surprisal / n_bigrams, 6) AS avg_surprisal,
       surprisal / n_bigrams <= {thr} AS lm_pass
FROM s
"""


def tfidf_topk(documents: DataFrame, k: int = 3) -> DataFrame:
    """Top-k characteristic terms per document by tf-idf with EXACT
    ranking: score = tf(d,w) * N / df(w) using the RATIO idf form (not
    log — pinned as the contract: log(N/df) reweights but its
    transcendental rounding is not engine-portable; the ratio ranks by
    the same "rare + frequent-in-doc" signal with exact-int numerators
    and ONE IEEE division, like the quantized-dot pattern). Ties break
    on word ASC.

    Scale shape: (doc, word) combinable pre-agg -> word-keyed df agg ->
    word-keyed equi-join back + broadcast 1-row corpus count -> one
    per-doc top-k window. The df table is vocabulary-sized; stop-word
    skew in the join is bounded because the window input is already
    pre-aggregated to one row per (doc, word)."""
    # df as a WINDOW count on the word-keyed exchange the pre-agg already
    # rides (hash on a subset of the grouping keys satisfies the groupBy),
    # instead of a second recompute of the whole words+pre-agg subtree
    # feeding a df agg + join (column pruning defeats ReuseExchange):
    # 2 corpus passes + 3 exchanges before the rank window become 1 + 1
    wc = (
        words(documents)
        .repartition(F.col("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("word")))
    )
    n = documents.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = wc.crossJoin(F.broadcast(n))
    score = F.col("tf") * F.col("n_docs") / F.col("df")
    w = Window.partitionBy("doc_id").orderBy(score.desc(), F.col("word").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "doc_id", "word",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            F.round(score, 6).alias("tfidf"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def tfidf_topk_sql(k: int = 3) -> str:
    return f"""
WITH w AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
  FROM documents
),
wc AS (SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY doc_id, word),
dfq AS (SELECT word, COUNT(*) AS df FROM wc GROUP BY word),
scored AS (
  SELECT wc.doc_id, wc.word, wc.tf, dfq.df,
         wc.tf * (SELECT COUNT(*) FROM documents) / dfq.df AS score
  FROM wc JOIN dfq USING (word)
),
r AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY score DESC, word ASC) AS INT) AS rank
  FROM scored
)
SELECT doc_id, word, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       ROUND(score, 6) AS tfidf, rank
FROM r WHERE rank <= {k}
"""


def dedup_against(
    documents: DataFrame, reference: DataFrame, prefix: int = 64
) -> DataFrame:
    """Cross-corpus EXACT dedup (the Dolma/RefinedWeb shape: dedupe a
    NEW dump against the EXISTING training corpus, not against itself):
    drop every document whose normalized key already appears in the
    reference corpus. Returns the survivors (doc_id, key).

    Plan at 100 TB: the reference side reduces to DISTINCT keys first
    (combinable, vocabulary-sized vs its text), then ONE key-keyed LEFT
    ANTI join — the exact-set equivalent of the bloom-filter pass
    production pipelines run before any expensive per-doc work; no
    Python, no skew beyond the md5 key space (uniform)."""
    key = F.md5(F.substring("text", 1, prefix))
    ref_keys = reference.select(key.alias("key")).distinct()
    return (
        documents.select("doc_id", key.alias("key"))
        .join(ref_keys, "key", "left_anti")
        .select("doc_id", "key")
    )


def neardup_against(documents: DataFrame, reference: DataFrame) -> DataFrame:
    """Cross-corpus NEAR-dup flags: corpus documents sharing any
    MinHash-LSH band bucket with any reference document, with the count
    of distinct reference partners. The cross-corpus complement of
    ``lsh_candidate_pairs`` (self-join there, corpus×reference bucket
    equi-join here) — how a new crawl is screened against the training
    set before exact verification.

    Plan: both sides reduce to (doc, band, bucket) via the one-pass
    8-way MIN signature; the join is (band, bucket)-keyed — never
    all-pairs; the distinct + count are combinable."""
    cb = _lsh_bands(documents)
    rb = _lsh_bands(reference)
    return (
        cb.alias("c")
        .join(rb.alias("r"), ["band", "bucket"])
        .select(
            F.col("c.doc_id").alias("doc_id"),
            F.col("r.doc_id").alias("ref_id"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_ref_candidates"))
    )


def segment_dedup(documents: DataFrame, seg_words: int = 32) -> DataFrame:
    """Segment-level corpus-wide exact dedup (the CCNet/RefinedWeb
    line-dedup family — Wenzek+19 drops duplicated *lines* across the
    whole crawl; our corpus has no newlines, so the segmenting rule is
    fixed non-overlapping ``seg_words``-word windows): every segment
    keeps only its FIRST occurrence in (doc_id, seg_idx) order; each doc
    is reassembled from its surviving segments; docs whose every segment
    lost are dropped.

    Output: doc_id, dedup_text, n_kept, n_total.

    Plan at 100 TB (round-5 rewrite — the TEXT NEVER SHUFFLES): the
    winner per segment key is ``min(struct(doc_id, seg_idx))`` over
    md5(segment) — an AGGREGATE, so it combines map-side and the key
    exchange carries ~16-byte keys for DISTINCT segments per map
    partition, not corpus text (the previous window phrasing shuffled
    and sorted the full segment text, then shuffled the survivors'
    text AGAIN for reassembly — measured 0.32 scaling efficiency on
    one box because exchange bandwidth, not compute, was the
    bottleneck). Kept indices fold to one int-list row per doc; the
    single text movement left is the doc_id equi-join of documents
    against that tiny flag table, and each doc's surviving text is
    re-derived MAP-SIDE from its own words (the same slice rule as
    ``chunk_documents``, so bytes are identical). Bucket the documents
    table by doc_id and even that join is co-located. n_total is the
    map-side integer ceil-div of the word count.
    """
    segs = chunk_documents(documents, chunk_words=seg_words, overlap=0)
    # winner = min (doc_id, chunk_idx) per content key: equivalent to the
    # row_number()=1 pick but map-side combinable; chunk_text is pruned
    # before the exchange (only its md5 rides along)
    winners = (
        segs.groupBy(F.md5("chunk_text").alias("key"))
        .agg(F.min(F.struct("doc_id", "chunk_idx")).alias("w"))
        .select(F.col("w.doc_id").alias("doc_id"), F.col("w.chunk_idx").alias("chunk_idx"))
    )
    keep_idx = winners.groupBy("doc_id").agg(
        F.array_sort(F.collect_list("chunk_idx")).alias("ki"),
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
    )
    wcol = F.filter(F.split("text", " "), lambda x: x != "")
    docs = documents.select(
        "doc_id",
        wcol.alias("wrds"),
        F.expr(
            f"CAST((size(filter(split(text, ' '), x -> x != '')) "
            f"+ {seg_words - 1}) DIV {seg_words} AS BIGINT)"
        ).alias("n_total"),
    )
    seg_text = lambda i: F.array_join(  # noqa: E731
        F.slice(F.col("wrds"), i * F.lit(seg_words) + 1, F.lit(seg_words)), " "
    )
    return docs.join(keep_idx, "doc_id").select(
        "doc_id",
        F.array_join(F.transform("ki", seg_text), " ").alias("dedup_text"),
        "n_kept",
        "n_total",
    )


def segment_dedup_sql(
    seg_words: int = 32, source_sql: str = "documents", text_col: str = "text"
) -> str:
    """DuckDB twin of ``segment_dedup`` (composes chunk_documents_sql;
    source/text parameterized so composed pipelines can dedup an
    upstream CTE)."""
    chunks = chunk_documents_sql(
        chunk_words=seg_words, overlap=0,
        source_sql=source_sql, text_col=text_col,
    )
    return f"""
WITH segs AS ({chunks}),
kept AS (
  SELECT doc_id, chunk_idx, chunk_text
  FROM segs
  QUALIFY row_number() OVER (
    PARTITION BY md5(chunk_text) ORDER BY doc_id, chunk_idx) = 1
),
agg AS (
  SELECT doc_id,
         string_agg(chunk_text, ' ' ORDER BY chunk_idx) AS dedup_text,
         CAST(COUNT(*) AS BIGINT) AS n_kept
  FROM kept GROUP BY doc_id
),
tot AS (
  SELECT doc_id,
         CAST((len(list_filter(string_split({text_col}, ' '), x -> x <> ''))
               + {seg_words - 1}) // {seg_words} AS BIGINT) AS n_total
  FROM {source_sql}
)
SELECT a.doc_id, a.dedup_text, a.n_kept, t.n_total
FROM agg a JOIN tot t USING (doc_id)
"""


def mixture_sample(
    documents: DataFrame, rate: float = 0.5, salt: str = "mix"
) -> DataFrame:
    """Temperature-weighted source-mixture sampling (the GPT-3 /
    PaLM-style α = 0.5 reweighting: a source's share of the kept corpus
    ∝ √count, upweighting small high-quality sources relative to raw
    proportional sampling). Target total = floor(rate · corpus size);
    per-source quota q_s = N · w_s ÷ Σw (exact integer arithmetic over
    w_s = floor(100·√c_s); √ is IEEE-correctly-rounded in every engine).
    Two terms ARE floating point and must be computed identically by any
    twin: this √, and N = floor(n_total · rate) — rate multiplies as an
    IEEE DOUBLE on the Spark side, so the DuckDB twin casts the rate
    literal to DOUBLE too (a bare SQL literal would be DECIMAL and
    multiply exactly; floor(100 * 0.29) already diverges 29 vs 28). Selection inside a source is the deterministic
    md5-prefix rule of ``sketches.hash_sample`` with per-source rate
    q_s/c_s: keep iff the 4-hex md5(salt:doc_id) prefix sorts below
    printf('%04x', 65536·q_s ÷ c_s) — so the sample is reproducible
    across runs, partitionings, and engines, and quota is hit in
    expectation (binomial concentration; a rank-exact quota would cost a
    per-source sort — the documented trade).

    Boundary semantics (pinned by tests): ``rate=0.0`` keeps nothing;
    ``rate=1.0`` is NOT the identity — the √-reweighting still moves
    mass from large sources toward small ones, so large sources are
    thinned below their count even when the total target equals the
    corpus size (small sources saturate at q ≥ c and keep everything;
    the corpus as a whole shrinks). Resampling-with-replacement to hit
    the target exactly is a different operator by design — this one
    never duplicates a document.

    Output: doc_id, source. Plan at 100 TB: one combinable count agg
    (|sources| rows), quota table broadcast back, then a MAP-ONLY
    md5-prefix filter that fuses into the scan — no window, no skew,
    no second shuffle.
    """
    if not 0.0 <= rate <= 1.0:
        raise ValueError("rate must be in [0, 1]")
    c = documents.groupBy("source").agg(F.count(F.lit(1)).alias("c"))
    wt = c.withColumn(
        "wt", F.floor(F.sqrt(F.col("c")) * 100).cast("bigint")
    )
    tot = wt.agg(
        F.sum("c").alias("n_total"), F.sum("wt").alias("wsum")
    )
    q = (
        wt.crossJoin(F.broadcast(tot))
        .withColumn("n_keep", F.floor(F.col("n_total") * F.lit(rate)).cast("bigint"))
        .withColumn("q", F.expr("(n_keep * wt) DIV wsum"))
        .select("source", "c", "q")
    )
    pref = F.substring(
        F.md5(F.concat(F.lit(salt + ":"), F.col("doc_id").cast("string"))), 1, 4
    )
    thresh = F.format_string("%04x", F.expr("(65536 * q) DIV c"))
    return (
        documents.join(F.broadcast(q), "source")
        .where((F.col("q") >= F.col("c")) | (pref < thresh))
        .select("doc_id", "source")
    )


def mixture_sample_sql(
    rate: float = 0.5, salt: str = "mix", source_sql: str = "documents"
) -> str:
    """DuckDB twin of ``mixture_sample`` (identical integer quota rule;
    ``source_sql`` must yield at least (doc_id, source))."""
    return f"""
WITH c AS (SELECT source, COUNT(*) AS c FROM {source_sql} GROUP BY source),
wt AS (SELECT source, c, CAST(floor(sqrt(c) * 100) AS BIGINT) AS wt FROM c),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total,
               CAST(SUM(wt) AS BIGINT) AS wsum FROM wt),
q AS (
  SELECT source, c,
         (CAST(floor(n_total * CAST({rate!r} AS DOUBLE)) AS BIGINT) * wt) // wsum AS q
  FROM wt, tot
)
SELECT d.doc_id, d.source
FROM {source_sql} d JOIN q USING (source)
WHERE q.q >= q.c
   OR substr(md5('{salt}:' || CAST(d.doc_id AS VARCHAR)), 1, 4)
      < printf('%04x', (65536 * q.q) // q.c)
"""


def pack_sequences(documents: DataFrame, seq_len: int = 256) -> DataFrame:
    """Sequence packing (concat-and-split, the standard LM pre-training
    batcher): documents are laid end-to-end in (doc_id) order and cut
    into fixed ``seq_len``-word training sequences; a document lands in
    the bin its first word falls into. Packing is per SOURCE (the
    per-shard packing real pipelines run — a single global order would
    serialize the cumulative sum), so the window is
    partitionBy(source) — parallel across sources, deterministic within
    one (doc_id is a unique order key).

    Output: source, seq_bin, n_docs, n_words — the packing manifest
    (which docs share a training sequence, and its fill in words).

    Plan at 100 TB: one shuffle on source for the running sum, one
    combinable agg on (source, seq_bin). Skew note: rows-per-source is
    the skew axis; production shards a huge source by hash(doc_id)
    into sub-shards first (same rule, composed) — documented rather
    than silently applied so the twin stays exact.
    """
    return (
        pack_assign(documents, seq_len)
        .groupBy("source", "seq_bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("n_words"),
        )
    )


def pack_assign(documents: DataFrame, seq_len: int = 256) -> DataFrame:
    """Per-doc packing assignment (the core rule of ``pack_sequences``,
    exposed for composed pipelines): doc_id, source, n_words, seq_bin —
    the bin the doc's FIRST word lands in under per-source
    concat-and-split."""
    t = documents.select(
        "doc_id",
        "source",
        F.size(F.filter(F.split("text", " "), lambda x: x != ""))
        .cast("bigint")
        .alias("n_words"),
    )
    win = Window.partitionBy("source").orderBy("doc_id")
    c = t.withColumn("cum", F.sum("n_words").over(win))
    return c.select(
        "doc_id",
        "source",
        "n_words",
        F.expr(f"CAST((cum - n_words) DIV {seq_len} AS BIGINT)").alias(
            "seq_bin"
        ),
    )


def pack_assign_sql(
    seq_len: int = 256, source_sql: str = "documents", text_col: str = "text"
) -> str:
    """DuckDB twin of ``pack_assign`` (source/text parameterized)."""
    return f"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(list_filter(string_split({text_col}, ' '), x -> x <> ''))
              AS BIGINT) AS n_words
  FROM {source_sql}
),
c AS (
  SELECT doc_id, source, n_words,
         SUM(n_words) OVER (PARTITION BY source ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
)
SELECT doc_id, source, n_words,
       CAST((cum - n_words) // {seq_len} AS BIGINT) AS seq_bin
FROM c
"""


def pack_sequences_sql(seq_len: int = 256) -> str:
    """DuckDB twin of ``pack_sequences`` (composes pack_assign_sql)."""
    return f"""
WITH a AS ({pack_assign_sql(seq_len)})
SELECT source, seq_bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS n_words
FROM a
GROUP BY source, seq_bin
"""


def dsir_select(
    documents: DataFrame, target: DataFrame, rate: float = 0.25
) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    arXiv:2302.03169): score every raw document by how much more likely
    its hashed-n-gram bag is under the TARGET domain's feature
    distribution than under the raw corpus's own, then keep the top
    ``floor(rate · n)``. Features are the same 256-bucket hashed word
    unigram+bigram space as ``quality_classifier`` (bucket key IS
    substr(md5(gram),1,2) — engine-portable hex, never parsed ints);
    both distributions are add-1 smoothed.

    The log importance weight is computed in EXACT integer arithmetic
    with the same ilog2 n = len(bin(n)) - 1 device as
    ``bigram_lm_score`` (float log() can't be oracled hash-exact):

        score(doc) = Σ_g [ilog2(c_tgt(f_g)+1) - ilog2(c_raw(f_g)+1)]
                     + n_feats · [ilog2(R+256) - ilog2(T+256)]

    where c_* are corpus-wide feature counts and R/T the total feature
    masses (the second term is the smoothed denominators, which scale
    with n_feats and so cannot be dropped from a ranking). Selection is
    the DETERMINISTIC top-k by (score DESC, doc_id) — the paper's
    Gumbel-noise resampling replaced by its noise-free limit so the
    selected set is reproducible across runs, partitionings, and
    engines.

    Scale shape: two gram explodes feed two COMBINABLE 256-row count
    aggs; the per-feat delta table (≤ 256 rows) broadcast-joins onto the
    raw gram stream; one combinable groupBy(doc_id). The only
    non-combinable step is the exact global rank (one single-partition
    window over ≤ n docs of (id, score) pairs — column-pruned, NOT the
    corpus). At 100 TB swap the exact rank for a score threshold from a
    quantile sketch (``sketches``/``length_quantiles`` pattern) and the
    plan becomes fully map-side — the documented trade, same as
    ``mixture_sample``'s expectation-exact quota.

    Only docs with ≥ 1 word appear (no features → no evidence, same
    contract as ``bigram_lm_score``). ``rate`` multiplies as an IEEE
    DOUBLE (twins must cast — see ``mixture_sample``).
    Output: doc_id, n_feats, dsir_score, selected.
    """
    if not 0.0 <= rate <= 1.0:
        raise ValueError("rate must be in [0, 1]")
    from pyspark.sql import Window

    scored = _dsir_scored(documents, target)
    w = Window.orderBy(F.col("dsir_score").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .withColumn("cnt", F.count(F.lit(1)).over(Window.partitionBy()))
        .select(
            "doc_id", "n_feats", "dsir_score",
            (
                F.col("rn")
                <= F.floor(F.col("cnt") * F.lit(rate)).cast("bigint")
            ).alias("selected"),
        )
    )


def dsir_select_threshold(
    documents: DataFrame, target: DataFrame, min_score: int
) -> DataFrame:
    """The PRODUCTION-scale form of ``dsir_select``: same exact-integer
    DSIR scoring chain, but selection is ``dsir_score >= min_score`` — a
    MAP-ONLY compare on the scored stream, no global rank window at
    all. This is the documented 100 TB swap made concrete: take
    ``min_score`` from an offline quantile estimate (the
    ``length_quantiles``/sketch pattern over a prior run's scores, or a
    sample) and the whole plan is combinable aggs + broadcast joins —
    the selected FRACTION is approximate (whatever mass clears the
    threshold), the selected SET is exact, deterministic, and
    partition-invariant for any given threshold.
    Output: doc_id, n_feats, dsir_score, selected.
    """
    return _dsir_scored(documents, target).select(
        "doc_id", "n_feats", "dsir_score",
        (F.col("dsir_score") >= F.lit(int(min_score))).alias("selected"),
    )


def _dsir_scored(documents: DataFrame, target: DataFrame) -> DataFrame:
    """Shared DSIR scoring chain (see ``dsir_select`` for the contract):
    two combinable 256-row feature-count aggs, broadcast delta join onto
    the raw gram stream, one combinable per-doc agg → (doc_id, n_feats,
    dsir_score)."""
    from pyspark.sql.functions import broadcast

    def feats_of(df):
        wcol = F.col("w")
        bigrams = F.when(
            F.size(wcol) >= 2,
            F.transform(
                F.sequence(F.lit(0), F.size(wcol) - 2),
                lambda i: F.concat_ws(" ", wcol[i], wcol[i + 1]),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return (
            df.select(
                "doc_id",
                F.filter(F.split("text", " "), lambda x: x != "").alias("w"),
            )
            .select("doc_id", F.explode(F.concat(wcol, bigrams)).alias("gram"))
            .select("doc_id", F.substring(F.md5("gram"), 1, 2).alias("feat"))
        )

    def ilog2(c):
        return F.length(F.conv(c.cast("string"), 10, 2)) - 1

    raw_feats = feats_of(documents)
    tgt_feats = feats_of(target)
    # pre-aggregate the raw gram stream ONCE to (doc_id, feat, k): the
    # corpus-wide counts (cr) and the per-doc scoring both derive from
    # this one exchange (ReuseExchange dedupes it), so the explode+md5
    # pass over the corpus runs once instead of twice, and the scoring
    # join below carries ≤256 rows per doc instead of every occurrence
    # materialize the two ≤256-row count tables ONCE: each is consumed
    # twice (delta AND the totals), and column pruning makes the
    # consumers' subtrees non-identical so ReuseExchange cannot dedupe
    # them — without this the corpus gram explode ran 3x (scoring, cr's
    # two consumers) and the target explode 2x per query
    cr = (
        raw_feats.groupBy("feat")
        .agg(F.count(F.lit(1)).alias("cr"))
        .localCheckpoint(eager=True)
    )
    ct = (
        tgt_feats.groupBy("feat")
        .agg(F.count(F.lit(1)).alias("ct"))
        .localCheckpoint(eager=True)
    )
    # LEFT join, not full-outer: every feat being scored comes from the
    # raw stream so it exists in cr; target-only feats can never match.
    # (Full-outer would force a sort-merge — outer joins can't broadcast.)
    delta = (
        cr.join(broadcast(ct), "feat", "left")
        .select(
            "feat",
            (
                ilog2(F.coalesce(F.col("ct"), F.lit(0)) + 1)
                - ilog2(F.col("cr") + 1)
            ).alias("d"),
        )
    )
    # coalesce the totals: SUM over an EMPTY side is NULL in Spark but
    # the twin counts 0 (COUNT(*) over tfeats) — an empty target corpus
    # must score, not null out (fuzz-pinned)
    tot = cr.agg(
        F.coalesce(F.sum("cr"), F.lit(0)).alias("r_tot")
    ).crossJoin(
        ct.agg(F.coalesce(F.sum("ct"), F.lit(0)).alias("t_tot"))
    )
    return (
        raw_feats.join(broadcast(delta), "feat")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_feats"),
            F.sum("d").cast("bigint").alias("sd"),
        )
        .crossJoin(broadcast(tot))
        .select(
            "doc_id",
            "n_feats",
            (
                F.col("sd")
                + F.col("n_feats")
                * (ilog2(F.col("r_tot") + 256) - ilog2(F.col("t_tot") + 256))
            ).cast("bigint").alias("dsir_score"),
        )
    )


def _dsir_scored_cte(source_sql: str, target_sql: str) -> str:
    """Shared WITH-body of the DSIR twins: identical ilog2 integer
    scoring chain ending in the ``scored`` CTE."""
    return f"""wd AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM {source_sql}
),
twd AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM {target_sql}
),
feats AS (
  SELECT doc_id, substr(md5(gram), 1, 2) AS feat FROM (
    SELECT doc_id, unnest(w) AS gram FROM wd
    UNION ALL
    SELECT doc_id,
           unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1]))
      FROM wd WHERE len(w) >= 2
  )
),
tfeats AS (
  SELECT doc_id, substr(md5(gram), 1, 2) AS feat FROM (
    SELECT doc_id, unnest(w) AS gram FROM twd
    UNION ALL
    SELECT doc_id,
           unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1]))
      FROM twd WHERE len(w) >= 2
  )
),
cr AS (SELECT feat, COUNT(*) AS cr FROM feats GROUP BY feat),
ct AS (SELECT feat, COUNT(*) AS ct FROM tfeats GROUP BY feat),
delta AS (
  SELECT cr.feat,
         (length(bin(COALESCE(ct.ct, 0) + 1)) - 1)
         - (length(bin(cr.cr + 1)) - 1) AS d
  FROM cr LEFT JOIN ct ON cr.feat = ct.feat
),
tot AS (
  SELECT (SELECT COUNT(*) FROM feats) AS r_tot,
         (SELECT COUNT(*) FROM tfeats) AS t_tot
),
scored AS (
  SELECT f.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_feats,
         CAST(SUM(d.d) + COUNT(*) * ((length(bin(t.r_tot + 256)) - 1)
                                     - (length(bin(t.t_tot + 256)) - 1))
              AS BIGINT) AS dsir_score
  FROM feats f JOIN delta d USING (feat), tot t
  GROUP BY f.doc_id, t.r_tot, t.t_tot
)"""


def dsir_select_sql(
    rate: float = 0.25,
    source_sql: str = "documents",
    target_sql: str = "(SELECT * FROM documents WHERE source = 'src0')",
) -> str:
    """DuckDB twin of ``dsir_select`` (identical ilog2 integer scoring;
    rate cast to DOUBLE so floor(n·rate) matches Spark's IEEE product)."""
    return f"""
WITH {_dsir_scored_cte(source_sql, target_sql)}
SELECT doc_id, n_feats, dsir_score,
       ROW_NUMBER() OVER (ORDER BY dsir_score DESC, doc_id)
         <= CAST(floor(COUNT(*) OVER () * CAST({rate!r} AS DOUBLE)) AS BIGINT)
         AS selected
FROM scored
"""


def dsir_select_threshold_sql(
    min_score: int,
    source_sql: str = "documents",
    target_sql: str = "(SELECT * FROM documents WHERE source = 'src0')",
) -> str:
    """DuckDB twin of ``dsir_select_threshold`` (same scoring chain, the
    rank window replaced by the threshold compare)."""
    return f"""
WITH {_dsir_scored_cte(source_sql, target_sql)}
SELECT doc_id, n_feats, dsir_score,
       dsir_score >= {int(min_score)} AS selected
FROM scored
"""


def leakage_safe_split(
    documents: DataFrame, val_frac: float = 0.1, salt: str = "split"
) -> DataFrame:
    """Deterministic train/val split keyed on CONTENT, not doc_id:
    byte-identical texts always land on the same side, so a duplicate
    cannot sit in train while its twin sits in val (the eval-leakage
    failure mode Lee et al. 2022, arXiv:2107.06499 §6 measure — dedup's
    sibling problem). The split bit is the ``sketches.hash_sample``
    md5-prefix rule over md5(text): val iff the 4-hex prefix of
    md5(salt:content_key) sorts below printf('%04x', floor(65536·f)) —
    reproducible across runs, partitionings, and engines, val mass ≈ f
    in expectation. ``val_frac`` multiplies as an IEEE DOUBLE (twins
    cast, same rule as ``mixture_sample``). ``val_frac=1.0`` saturates
    via an explicit clause — printf('%04x', 65536) is the FIVE-char
    '10000', which string-compares BELOW most 4-hex prefixes, so the
    threshold form alone would silently keep only ~1/16 (the same
    saturation guard ``mixture_sample`` carries as ``q >= c``).

    For NEAR-duplicate safety compose upstream: map each doc to its
    cluster representative (``simsearch.neardup_clusters``) and pass the
    rep's text as the content key. Plan at 100 TB: MAP-ONLY — two md5s
    and a compare fused into the scan; zero exchanges, zero skew.
    Output: doc_id, source, split ('train' | 'val').
    """
    if not 0.0 <= val_frac <= 1.0:
        raise ValueError("val_frac must be in [0, 1]")
    pref = F.substring(
        F.md5(F.concat(F.lit(salt + ":"), F.md5(F.col("text")))), 1, 4
    )
    thresh = F.format_string(
        "%04x", F.floor(F.lit(65536) * F.lit(val_frac)).cast("bigint")
    )
    return documents.select(
        "doc_id", "source",
        F.when(
            (F.lit(val_frac) >= 1.0) | (pref < thresh), F.lit("val")
        ).otherwise(F.lit("train")).alias("split"),
    )


def leakage_safe_split_sql(
    val_frac: float = 0.1, salt: str = "split", source_sql: str = "documents"
) -> str:
    """DuckDB twin of ``leakage_safe_split`` (identical md5-prefix rule)."""
    return f"""
SELECT doc_id, source,
       CASE WHEN CAST({val_frac!r} AS DOUBLE) >= 1.0
              OR substr(md5('{salt}:' || md5(text)), 1, 4)
                 < printf('%04x', CAST(floor(65536 * CAST({val_frac!r} AS DOUBLE)) AS BIGINT))
            THEN 'val' ELSE 'train' END AS split
FROM {source_sql}
"""


def bm25_topk(
    documents: DataFrame, query: str = "dup window merge", k: int = 10
) -> DataFrame:
    """BM25 ranked retrieval (Robertson & Zaragoza 2009, "The
    Probabilistic Relevance Framework") over the documents table — the
    LEXICAL counterpart of ``simsearch``'s ANN stack, in EXACT
    fixed-point integer arithmetic so the ranking is engine- and
    partition-stable. k1 = 6/5 and b = 3/4 are carried as exact
    rationals; multiplying the per-term fraction through by 10·W (W =
    corpus word count) clears every denominator:

        s_term = (22 · idf · tf · W · 10^6) div (10·tf·W + 3·W + 9·dl·N)

    where dl is the doc length, N the doc count, and idf the clamped
    integer log — max(0, ilog2(2(N−df)+1) − ilog2(2df+1)) — the same
    ilog2 n = len(bin(n))−1 device as ``bigram_lm_score`` and the same
    ≥0 clamp Lucene applies. 1-bit idf granularity is the documented
    quantization contract (transcendental log is not hash-oracleable);
    tf and dl keep ranking fine-grained within an idf band. The div is
    integer truncation — identical in both engines for the non-negative
    operands the clamp guarantees.

    Scale shape: tf is a combinable (doc, term) pre-agg over the words
    stream FILTERED to the |query| literal terms (the filter lands in
    the scan); dl is a combinable per-doc count; df/N/W are tiny
    broadcast tables (df has |query| rows). The doc-keyed tf⋈dl join
    shuffles only docs containing ≥1 query term. Exact top-k is the
    ``dsir_select`` single-partition window over (doc_id, score) pairs
    — same sketch-threshold swap documented there for 100 TB. BIGINT
    overflow bound: 22·idf·tf·W·10^6 needs W ≲ 10^9 at idf,tf ≲ 64;
    beyond that cast the numerator chain to DECIMAL(38,0) in BOTH
    engines. Docs with no query term don't appear (no evidence — the
    ``bigram_lm_score`` contract).
    Output: doc_id, n_terms, score, rank.
    """
    terms = sorted({t for t in query.split(" ") if t})
    if not terms:
        raise ValueError("query must contain at least one term")

    def ilog2(c):
        return F.length(F.conv(c.cast("string"), 10, 2)) - 1

    wtab = words(documents)
    # ONE pass over the words stream (round 6): dl and every per-term tf
    # ride a single combinable per-doc wide aggregate, checkpointed once
    # — the former dl/tf/df/w_tot branches each recomputed the explode
    # (4 corpus passes; column pruning defeats ReuseExchange), and the
    # tf⋈dl doc-keyed join disappears because dl already sits on the tf
    # row. df and w_tot are tiny aggregates over the checkpoint.
    aggs = [F.count(F.lit(1)).alias("dl")] + [
        F.count(F.when(F.col("word") == t, F.lit(1))).alias(f"t{i}")
        for i, t in enumerate(terms)
    ]
    per_doc = wtab.groupBy("doc_id").agg(*aggs).localCheckpoint(eager=True)
    kv = F.explode(
        F.array(
            *[
                F.named_struct(
                    F.lit("word"), F.lit(t), F.lit("tf"), F.col(f"t{i}")
                )
                for i, t in enumerate(terms)
            ]
        )
    ).alias("kv")
    tf = (
        per_doc.select("doc_id", "dl", kv)
        .select("doc_id", "dl", F.col("kv.word").alias("word"), F.col("kv.tf").alias("tf"))
        .where(F.col("tf") > 0)
    )
    df = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    tot = documents.agg(F.count(F.lit(1)).alias("n_docs")).crossJoin(
        per_doc.agg(F.sum("dl").alias("w_tot"))
    )
    idf = F.greatest(
        F.lit(0),
        ilog2((F.col("n_docs") - F.col("df")) * 2 + 1)
        - ilog2(F.col("df") * 2 + 1),
    )
    scored = (
        tf.join(F.broadcast(df), "word")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            (idf * F.col("tf") * F.col("w_tot") * 22000000).alias("num"),
            (
                F.col("tf") * F.col("w_tot") * 10
                + F.col("w_tot") * 3
                + F.col("dl") * F.col("n_docs") * 9
            ).alias("den"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_terms"),
            F.sum(F.expr("num div den")).cast("bigint").alias("score"),
        )
    )
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("doc_id", "n_terms", "score", "rank")
    )


def bm25_topk_sql(
    query: str = "dup window merge", k: int = 10,
    source_sql: str = "documents",
) -> str:
    """DuckDB twin of ``bm25_topk`` (identical fixed-point arithmetic;
    // is floor division ≡ Spark's div on the non-negative operands)."""
    terms = sorted({t for t in query.split(" ") if t})
    term_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    return f"""
WITH w AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
  FROM {source_sql}
),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM w GROUP BY doc_id),
tf AS (
  SELECT doc_id, word, COUNT(*) AS tf FROM w
  WHERE word IN ({term_list}) GROUP BY doc_id, word
),
dfq AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
tot AS (
  SELECT (SELECT COUNT(*) FROM {source_sql}) AS n_docs,
         (SELECT COUNT(*) FROM w) AS w_tot
),
scored AS (
  SELECT tf.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_terms,
         CAST(SUM(
           (GREATEST(0, (length(bin((t.n_docs - dfq.df) * 2 + 1)) - 1)
                        - (length(bin(dfq.df * 2 + 1)) - 1))
            * tf.tf * t.w_tot * 22000000)
           // (tf.tf * t.w_tot * 10 + t.w_tot * 3 + dl.dl * t.n_docs * 9)
         ) AS BIGINT) AS score
  FROM tf JOIN dfq USING (word) JOIN dl USING (doc_id), tot t
  GROUP BY tf.doc_id
)
SELECT doc_id, n_terms, score,
       CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rank
FROM scored
QUALIFY rank <= {int(k)}
"""
