"""Text-analysis operators over the ``documents`` table.

Large-scale-training-pipeline primitives the reference lacks (net-new,
per the build brief): token counting, quality scoring, language-ID
heuristic, and document fingerprinting.  All expressions are Spark
built-ins (whole-stage codegen; no Python in the hot path) with exact
DuckDB oracle equivalents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .common import duck_h28_sql, duck_words_sql, h28_sql, words_sql, ROLL_P

STOPWORDS = {
    "en": ("the", "a", "an", "of", "and", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "ein", "nicht"),
    "es": ("el", "la", "los", "de", "que", "y", "es"),
    "fr": ("le", "les", "des", "et", "une", "est", "dans"),
}


def _in_list(vals) -> str:
    return ", ".join(f"'{v}'" for v in vals)


def _stats_exprs(words: str, spark_side: bool) -> dict[str, str]:
    """Column-name -> SQL expression, identical semantics in both engines."""
    if spark_side:
        flt = lambda lst: (f"size(filter({words}, w -> w IN ({_in_list(lst)})))")
        n_tok = f"size({words})"
        n_dis = f"size(array_distinct({words}))"
        # fold directly over the word array — the transform-then-aggregate
        # spelling materialized a same-length intermediate array per row
        # just to fold it away (r12, guide §4.2: per-task work; results
        # identical — aggregate is the same strict left fold either way)
        sum_len = f"aggregate({words}, 0, (acc, w) -> acc + length(w))"
        roll = (f"aggregate({words}, CAST(0 AS BIGINT), "
                f"(acc, w) -> (acc * 31 + {h28_sql('w')}) % {ROLL_P})")
        fp_sorted = f"md5(array_join(array_sort(array_distinct({words})), ' '))"
    else:
        flt = lambda lst: (f"len(list_filter({words}, "
                           f"w -> w IN ({_in_list(lst)})))")
        n_tok = f"len({words})"
        n_dis = f"len(list_distinct({words}))"
        sum_len = f"list_sum(list_transform({words}, w -> length(w)))"
        roll = (f"list_reduce(list_prepend(0::BIGINT, "
                f"list_transform({words}, w -> {duck_h28_sql('w')})), "
                f"(acc, x) -> (acc * 31 + x) % {ROLL_P})")
        fp_sorted = (f"md5(array_to_string(list_sort(list_distinct({words})), "
                     f"' '))")

    # BPE-ish sub-word segmentation: letter runs, single digits, and
    # punctuation each count as one token (GPT-2-style pre-tokenizer
    # collapsed to a portable character-class regex; space is the only
    # whitespace in the corpus so the class stays engine-identical)
    bpe_re = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"
    if spark_side:
        # count matches without materializing the match array (r12,
        # guide §4.2): regexp_count walks the same non-overlapping
        # left-to-right matches size(regexp_extract_all(...)) counted,
        # minus one string-array allocation per row
        n_bpe = f"regexp_count(text, '{bpe_re}')"
    else:
        n_bpe = f"len(regexp_extract_all(text, '{bpe_re}'))"

    votes = {lang: flt(sw) for lang, sw in STOPWORDS.items()}
    # deterministic arg-max with fixed tie-break order en > de > es > fr
    lang_pred = (
        f"CASE WHEN {votes['en']} >= {votes['de']} AND {votes['en']} >= "
        f"{votes['es']} AND {votes['en']} >= {votes['fr']} THEN 'en' "
        f"WHEN {votes['de']} >= {votes['es']} AND {votes['de']} >= "
        f"{votes['fr']} THEN 'de' "
        f"WHEN {votes['es']} >= {votes['fr']} THEN 'es' ELSE 'fr' END")
    stop_cnt = flt(STOPWORDS["en"])
    return {
        "n_tokens": n_tok,
        "n_tokens_bpe": n_bpe,
        "n_distinct": n_dis,
        "avg_token_len": (f"round(CAST({sum_len} AS DOUBLE) "
                          f"/ {n_tok}, 6)"),
        "stop_ratio": f"round(CAST({stop_cnt} AS DOUBLE) / {n_tok}, 6)",
        "type_token_ratio": (f"round(CAST({n_dis} AS DOUBLE) "
                             f"/ {n_tok}, 6)"),
        # composite quality score: length saturation + lexical diversity
        # + stopword presence, each term a deterministic double
        "quality_score": (
            f"round(0.4 * (CAST(LEAST({n_tok}, 100) AS DOUBLE) / 100) "
            f"+ 0.4 * (CAST({n_dis} AS DOUBLE) / {n_tok}) "
            f"+ 0.2 * (CAST({stop_cnt} AS DOUBLE) / {n_tok}), 6)"),
        "lang_pred": lang_pred,
        "fp_exact": "md5(text)",
        "fp_wordset": fp_sorted,
        "fp_rolling": roll,
        **_pii_exprs(spark_side),
    }


# PII patterns shared by both engines (Java regex and RE2): plain
# character classes only — no backslash classes, so string-literal
# escaping cannot diverge between the two SQL dialects
PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+"
PII_PHONE_RE = "[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}"
PII_ID_RE = "[0-9]{3}-[0-9]{2}-[0-9]{4}"


def pii_redact_sql(spark_side: bool, col: str = "text") -> str:
    """Redacted-text expression: emails, then phones, then id numbers."""
    def redact(inner: str, pat: str, tag: str) -> str:
        if spark_side:
            return f"regexp_replace({inner}, '{pat}', '<{tag}>')"
        return f"regexp_replace({inner}, '{pat}', '<{tag}>', 'g')"

    return redact(redact(redact(col, PII_EMAIL_RE, "EMAIL"),
                         PII_PHONE_RE, "PHONE"), PII_ID_RE, "ID")


def _pii_exprs(spark_side: bool) -> dict[str, str]:
    """PII detection + redaction: match counts per category and the hash
    of the fully-redacted text (the hash stays content-dependent, so the
    oracle verifies the whole redaction pipeline even when counts are 0).
    Spark's regexp_replace is replace-all; DuckDB needs the 'g' flag."""
    def count(pat: str) -> str:
        if spark_side:
            # same regexp_count-for-extract_all swap as n_bpe (r12)
            return f"regexp_count(text, '{pat}')"
        return f"len(regexp_extract_all(text, '{pat}'))"

    red = pii_redact_sql(spark_side)
    return {
        "pii_emails": count(PII_EMAIL_RE),
        "pii_phones": count(PII_PHONE_RE),
        "pii_ids": count(PII_ID_RE),
        "fp_redacted": f"md5({red})",
    }


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .common import load_table
    return text_stats_frame(load_table(spark, sf_dir, "documents"))


def text_stats_frame(docs: DataFrame) -> DataFrame:
    """STAGED spelling of ``_stats_exprs(spark_side=True)`` — identical
    values, one evaluation per expensive array traversal (r13, guide
    §1.2 step 2 "per-task work").

    The single-projection form re-inlined every multiply-consumed
    higher-order function: the plan showed ``size(filter(w, ...))``
    14x per row (each language vote appears in several lang_pred
    branches plus stop_ratio/quality_score) and ``array_distinct(w)``
    4x — all CodegenFallback expressions with no codegen CSE, so each
    occurrence was a full interpreted array walk. Staging them as named
    columns makes each one a multi-use non-cheap expression, which
    CollapseProject refuses to re-inline — every vote / distinct /
    fold now runs exactly once per row. Value-identity with the
    un-staged form (and transitively with the DuckDB oracle) is pinned
    by tests/test_ops_determinism.py."""
    in_en = _in_list(STOPWORDS["en"])
    votes = {lang: f"size(filter(w, x -> x IN ({_in_list(sw)}))) AS v_{lang}"
             for lang, sw in STOPWORDS.items() if lang != "en"}
    lang_pred = (
        "CASE WHEN v_en >= v_de AND v_en >= v_es AND v_en >= v_fr "
        "THEN 'en' "
        "WHEN v_de >= v_es AND v_de >= v_fr THEN 'de' "
        "WHEN v_es >= v_fr THEN 'es' ELSE 'fr' END")
    red = pii_redact_sql(spark_side=True)
    bpe_re = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"
    return (
        docs
        .selectExpr("doc_id", "text", f"{words_sql()} AS w")
        # dis is consumed twice below (n_distinct + fp_wordset): its own
        # stage keeps it single-evaluation
        .selectExpr("doc_id", "text", "w", "array_distinct(w) AS dis")
        .selectExpr(
            "doc_id",
            "size(w) AS n_tokens",
            f"regexp_count(text, '{bpe_re}') AS n_tokens_bpe",
            "size(dis) AS n_distinct",
            f"size(filter(w, x -> x IN ({in_en}))) AS v_en",
            *votes.values(),
            "aggregate(w, 0, (acc, x) -> acc + length(x)) AS sum_len",
            "md5(text) AS fp_exact",
            "md5(array_join(array_sort(dis), ' ')) AS fp_wordset",
            f"aggregate(w, CAST(0 AS BIGINT), (acc, x) -> "
            f"(acc * 31 + {h28_sql('x')}) % {ROLL_P}) AS fp_rolling",
            f"regexp_count(text, '{PII_EMAIL_RE}') AS pii_emails",
            f"regexp_count(text, '{PII_PHONE_RE}') AS pii_phones",
            f"regexp_count(text, '{PII_ID_RE}') AS pii_ids",
            f"md5({red}) AS fp_redacted")
        .selectExpr(
            "doc_id",
            "n_tokens",
            "n_tokens_bpe",
            "n_distinct",
            "round(CAST(sum_len AS DOUBLE) / n_tokens, 6) "
            "AS avg_token_len",
            "round(CAST(v_en AS DOUBLE) / n_tokens, 6) AS stop_ratio",
            "round(CAST(n_distinct AS DOUBLE) / n_tokens, 6) "
            "AS type_token_ratio",
            "round(0.4 * (CAST(LEAST(n_tokens, 100) AS DOUBLE) / 100) "
            "+ 0.4 * (CAST(n_distinct AS DOUBLE) / n_tokens) "
            "+ 0.2 * (CAST(v_en AS DOUBLE) / n_tokens), 6) "
            "AS quality_score",
            f"{lang_pred} AS lang_pred",
            "fp_exact", "fp_wordset", "fp_rolling",
            "pii_emails", "pii_phones", "pii_ids", "fp_redacted"))


def text_stats_oracle() -> str:
    exprs = _stats_exprs("w", spark_side=False)
    proj = ",\n       ".join(f"{sql} AS {name}" for name, sql in exprs.items())
    return (f"SELECT doc_id,\n       {proj}\n"
            f"FROM (SELECT doc_id, text, {duck_words_sql()} AS w "
            f"FROM documents)")


# ------------------------------------------------------------- repetition
#: top-n-gram / duplicate-n-gram widths (Gopher repetition signals:
#: Rae et al. 2021, "Scaling Language Models: ... Gopher", Table A1 —
#: fraction of the doc occupied by the most frequent 2/3-gram and the
#: fraction of duplicated 5/8-grams; thresholds below are the published
#: filter settings adapted to token-count fractions)
TOP_NS = (2, 3)
DUP_NS = (5, 8)
TOP2_MAX, DUP5_MAX = 0.20, 0.15


def gram_rows_spark(words_df: "DataFrame", ns) -> "DataFrame":
    """(doc_id, n, gram) rows for every width in ``ns`` over a
    ``(doc_id, w)`` frame.

    ONE source scan, two chained Generate-safe explodes: positions
    first (a cheap index ``sequence``), then the literal width array,
    with ``i + n - 1 <= size(w)`` keeping exactly the in-range (i, n)
    pairs — the same row set the previous per-width UNION produced
    from FOUR separate scans of the base, each with its own
    repartition Exchange (plan-audited r12: the union form put 4
    Exchange+Generate chains over identical input into every
    text-profile plan; guide §2.4). The gram string is still built
    AFTER the explodes, from position indices: ``explode`` of a
    *computed* array re-evaluates the array expression once per OUTPUT
    row (GenerateExec keeps the generator child inline), which made
    the build-arrays-then-explode form O(doc length) per emitted gram
    — measured 165x slower at sf0.1. Post-explode,
    ``array_join(slice(w, i, n))`` touches only its own n elements.

    The position explode is guarded for empty word arrays: Spark's
    ``sequence(1, 0)`` steps DOWN to [1, 0], and the stray i=0 row
    would survive the range filter for a width of 1 and make
    ``slice(w, 0, 1)`` throw at runtime. Widths >= 2 filtered the
    stray rows anyway, so results are unchanged; the guard makes the
    function total over any ``ns``."""
    widths = ", ".join(str(n) for n in sorted(set(ns)))
    return (words_df
            .selectExpr("doc_id", "w",
                        "explode(CASE WHEN size(w) >= 1 THEN "
                        "sequence(1, size(w)) "
                        "ELSE CAST(array() AS array<int>) END) AS i")
            .selectExpr("doc_id", "w", "i",
                        f"explode(array({widths})) AS n")
            .filter("i + n - 1 <= size(w)")
            .selectExpr("doc_id", "n",
                        "array_join(slice(w, i, n), ' ') AS gram"))


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition signals (Gopher-style quality filters):
    ``topN_frac`` = occurrences of the most frequent n-gram / total
    n-grams (n=2,3); ``dupN_frac`` = fraction of n-gram occurrences that
    are repeats of an earlier one (n=5,8); plus the filter verdict.

    Scale shape: one explode over (doc, n, gram) -> count per gram ->
    per-(doc, n) totals -> conditional-agg fold to one row per doc. Every
    shuffle is keyed by doc_id (+gram/n) — partial aggregation collapses
    within-partition repeats map-side, nothing is global, no Python.
    """
    from pyspark.sql import functions as F
    from .common import load_table
    docs = load_table(spark, sf_dir, "documents")
    # r13 REVERT of the r12 source repartition(doc_id) (VERDICT r12
    # item 4, guide §1 "re-measure"): collapsing the three downstream
    # agg Exchanges into one source exchange measured NET-SLOWER
    # (op_text_stats 1.97 -> 2.22/2.34 s) for two reasons: (a) the
    # exchange carries the RAW text column (the words projection sits
    # above it), the widest bytes in the op, and (b) with no explicit
    # partition count AQE is free to coalesce the tiny exchange to a
    # couple of partitions, which then serializes the EXPENSIVE
    # downstream n-gram explode on 1-2 cores. The natural plan keeps
    # the scan's full parallelism through the explode and its agg
    # exchanges carry partially-aggregated compact rows (map-side
    # combine) — the scale-correct shape at 100 TB too, where the
    # explode multiplies rows ~4x before any shuffle.
    base = docs.selectExpr("doc_id", f"{words_sql()} AS w")
    g = gram_rows_spark(base, {*TOP_NS, *DUP_NS})
    per_gram = g.groupBy("doc_id", "n", "gram").count()
    per_n = per_gram.groupBy("doc_id", "n").agg(
        F.sum("count").alias("total"), F.max("count").alias("top"),
        F.count(F.lit(1)).alias("dis"))

    def frac(n: int, kind: str) -> "F.Column":
        num = (F.max(F.when(F.col("n") == n, F.col("top")))
               if kind == "top" else
               F.max(F.when(F.col("n") == n,
                            F.col("total") - F.col("dis"))))
        den = F.max(F.when(F.col("n") == n, F.col("total")))
        return F.round(F.coalesce(num.cast("double") / den, F.lit(0.0)), 6)

    folded = per_n.groupBy("doc_id").agg(
        *[frac(n, "top").alias(f"top{n}_frac") for n in TOP_NS],
        *[frac(n, "dup").alias(f"dup{n}_frac") for n in DUP_NS])
    out = (base.selectExpr("doc_id", "size(w) AS n_words")
           .join(folded, "doc_id", "left_outer"))
    fracs = [f"top{n}_frac" for n in TOP_NS] + [f"dup{n}_frac"
                                                for n in DUP_NS]
    for c in fracs:
        out = out.withColumn(c, F.coalesce(F.col(c), F.lit(0.0)))
    return out.withColumn(
        "is_repetitive",
        ((F.col("top2_frac") > TOP2_MAX)
         | (F.col("dup5_frac") > DUP5_MAX)).cast("int"))


def text_repetition_oracle() -> str:
    ns = sorted({*TOP_NS, *DUP_NS})
    gram_branches = "\n            UNION ALL ".join(
        f"SELECT doc_id, {n} AS n, "
        f"array_to_string(w[i:i + {n - 1}], ' ') AS gram "
        f"FROM (SELECT doc_id, w, "
        f"unnest(range(1, len(w) - {n} + 2)) AS i FROM words)"
        for n in ns)

    def frac(n: int, kind: str) -> str:
        num = (f"MAX(CASE WHEN n = {n} THEN top END)" if kind == "top"
               else f"MAX(CASE WHEN n = {n} THEN total - dis END)")
        den = f"MAX(CASE WHEN n = {n} THEN total END)"
        return (f"round(COALESCE(CAST({num} AS DOUBLE) / {den}, 0.0), 6)")

    frac_cols = ", ".join(
        [f"{frac(n, 'top')} AS top{n}_frac" for n in TOP_NS]
        + [f"{frac(n, 'dup')} AS dup{n}_frac" for n in DUP_NS])
    return f"""
        WITH words AS (
            SELECT doc_id, {duck_words_sql()} AS w FROM documents
        ), g AS (
            {gram_branches}
        ), per_gram AS (
            SELECT doc_id, n, gram, COUNT(*) AS c FROM g GROUP BY 1, 2, 3
        ), per_n AS (
            SELECT doc_id, n, SUM(c) AS total, MAX(c) AS top,
                   COUNT(*) AS dis
            FROM per_gram GROUP BY 1, 2
        ), folded AS (
            SELECT doc_id, {frac_cols} FROM per_n GROUP BY 1
        )
        SELECT w.doc_id, len(w.w) AS n_words,
               COALESCE(top2_frac, 0.0) AS top2_frac,
               COALESCE(top3_frac, 0.0) AS top3_frac,
               COALESCE(dup5_frac, 0.0) AS dup5_frac,
               COALESCE(dup8_frac, 0.0) AS dup8_frac,
               CAST(COALESCE(top2_frac, 0.0) > {TOP2_MAX}
                    OR COALESCE(dup5_frac, 0.0) > {DUP5_MAX} AS INT)
                   AS is_repetitive
        FROM words w LEFT JOIN folded f ON w.doc_id = f.doc_id
    """


def text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full per-document text profile: the pure-codegen stats /
    fingerprint / PII columns joined with the aggregation-based
    repetition signals — one driver entry covering the whole text-quality
    surface (both halves stay public API with their own tests)."""
    rep = text_repetition(spark, sf_dir).drop("n_words")  # == n_tokens
    return text_stats(spark, sf_dir).join(rep, "doc_id")


def text_profile_oracle() -> str:
    rep_cols = ", ".join(
        [f"r.top{n}_frac" for n in TOP_NS]
        + [f"r.dup{n}_frac" for n in DUP_NS] + ["r.is_repetitive"])
    return (f"SELECT s.*, {rep_cols} FROM ({text_stats_oracle()}) s "
            f"JOIN ({text_repetition_oracle()}) r USING (doc_id)")
