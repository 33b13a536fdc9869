"""Text-analysis operators for LLM training-data pipelines (SURVEY §2.12 L3).

Extends the reference's data-quality audit pattern (per-column stats and
null/dup audits, ``06_pipeline_metrics_demo.ipynb:224-265``) to document
corpora: corpus stats, quality scoring, token counting, language ID, and
content fingerprinting — all JVM-side built-ins (string functions +
higher-order array functions), no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dst_spark_k8_lakehouse_spark.llm.dedup import spread_compute
from dst_spark_k8_lakehouse_spark.llm.tokens import tokens
from dst_spark_k8_lakehouse_spark.registry import query
from dst_spark_k8_lakehouse_spark.sources.catalog import load_table

# Tiny per-language stopword profiles for the n-gram/stopword heuristic
# language scorer. Real pipelines plug in fastText/CLD3 via a pandas UDF;
# the heuristic keeps the hot path JVM-side and dependency-free.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "is"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
    "fr": ["le", "la", "les", "et", "est", "un"],
    "es": ["el", "la", "los", "y", "es", "un"],
    "zh": ["的", "是", "了", "在", "和", "有"],
}


@query(
    "l3_text_stats",
    oracle="""
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(floor(1e4 * sum(n_chars) / count(*)) / 1e4 AS DOUBLE)
                   AS avg_chars,
               max(n_chars) AS max_chars,
               CAST(floor(1e4 * sum(len(string_split(trim(text), ' ')))
                    / count(*)) / 1e4 AS DOUBLE) AS avg_tokens
        FROM documents
        GROUP BY lang
    """,
)
def l3_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3: corpus statistics by language — doc counts, char/token means.

    Averages are floor-truncated from exact integer sums (token and char
    counts are integers, so sum order cannot diverge between engines).
    """
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "n_tokens", F.size(F.split(F.trim("text"), " "))
    )
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        (F.floor(1e4 * F.sum("n_chars") / F.count("*")) / 1e4).alias(
            "avg_chars"
        ),
        F.max("n_chars").alias("max_chars"),
        (F.floor(1e4 * F.sum("n_tokens") / F.count("*")) / 1e4).alias(
            "avg_tokens"
        ),
    )


@query(
    "l3_quality_score",
    oracle="""
        WITH t AS (
            SELECT doc_id,
                   len(string_split(trim(text), ' ')) AS n_tokens,
                   len(list_filter(string_split(trim(lower(text)), ' '),
                       w -> list_contains(['the','a','of','and','to','is'], w)))
                       AS n_stop,
                   length(text) AS n_chars_raw,
                   length(regexp_replace(text, '[^a-z]', '', 'g')) AS n_alpha
            FROM documents
        )
        SELECT doc_id, n_tokens,
               CAST(CASE WHEN n_tokens = 0 THEN 0.0
                    ELSE floor(1e4 * n_stop / n_tokens) / 1e4 END AS DOUBLE)
                   AS stop_ratio,
               CAST(CASE WHEN n_chars_raw = 0 THEN 0.0
                    ELSE floor(1e4 * n_alpha / n_chars_raw) / 1e4 END AS DOUBLE)
                   AS alpha_ratio,
               CAST(CASE WHEN n_tokens BETWEEN 20 AND 1000
                          AND n_stop > 0 THEN 1 ELSE 0 END AS INT)
                   AS quality_keep
        FROM t
    """,
)
def l3_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3: per-document quality signals (length band, stopword ratio,
    alphabetic-character ratio) + a keep/drop gate — the C4/Gopher-style
    rule filter, entirely in whole-stage-codegen'd built-ins.

    Zero denominators are guarded (ratio → 0.0): a quality filter's
    whole job is to ingest junk like empty documents, and Spark 4's
    default ANSI mode turns an unguarded x/0 into a job-killing
    SparkArithmeticException, not an inf."""
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.trim("text"), " ")).alias("n_tokens"),
        F.expr(
            f"size(filter(split(trim(lower(text)), ' '), "
            f"w -> array_contains(array({stop_list}), w)))"
        ).alias("n_stop"),
        F.length("text").alias("n_chars_raw"),
        F.length(F.regexp_replace("text", "[^a-z]", "")).alias("n_alpha"),
    )

    def ratio(num: str, den: str):
        return F.when(F.col(den) == 0, F.lit(0.0)).otherwise(
            F.floor(1e4 * F.col(num) / F.col(den)) / 1e4
        )

    return docs.select(
        "doc_id",
        "n_tokens",
        ratio("n_stop", "n_tokens").alias("stop_ratio"),
        ratio("n_alpha", "n_chars_raw").alias("alpha_ratio"),
        F.when(
            F.col("n_tokens").between(20, 1000) & (F.col("n_stop") > 0), 1
        )
        .otherwise(0)
        .cast("int")
        .alias("quality_keep"),
    )


# BPE-ish pre-tokenization: letter runs, digit runs, single non-space
# symbols — the GPT-2 pre-tokenizer shape without the merges table.
BPE_REGEX = "[a-z]+|[0-9]+|[^a-z0-9 ]"


@query(
    "l3_token_count",
    oracle=f"""
        SELECT doc_id,
               CAST(len(string_split(trim(text), ' ')) AS INT) AS ws_tokens,
               CAST(len(regexp_extract_all(lower(text), '{BPE_REGEX}'))
                    AS INT) AS bpe_tokens
        FROM documents
    """,
)
def l3_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3: token counting — whitespace split and a BPE-ish regex
    pre-tokenizer. Both are single-pass scans; the regex stays in the
    JVM (``regexp_extract_all``), which is what makes corpus-wide token
    accounting tractable at 100 TB."""
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.trim("text"), " ")).cast("int").alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(BPE_REGEX), 0))
        .cast("int")
        .alias("bpe_tokens"),
    )


@query(
    "l3_fingerprint",
    oracle="""
        SELECT doc_id,
               list_reduce(
                   list_concat([CAST(0 AS BIGINT)],
                       list_transform(string_split(text, ''),
                                      c -> CAST(ascii(c) AS BIGINT))),
                   (acc, x) -> (acc * 31 + x) % 1000000007
               ) AS fingerprint
        FROM documents
    """,
)
def l3_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3: document fingerprint — polynomial rolling hash over the
    character stream (base 31 mod 1e9+7), the Rabin-Karp family used for
    shift-tolerant content addressing. Pure ``aggregate`` higher-order
    fold; order-dependent by design and identical in both engines
    (left-to-right)."""
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "aggregate(transform(split(text, ''), c -> CAST(ascii(c) AS BIGINT)), "
            "CAST(0 AS BIGINT), (acc, x) -> (acc * 31 + x) % 1000000007)"
        ).alias("fingerprint"),
    )


@query("l3_langid")  # rows-only: heuristic scorer, not SQL-expressible
def l3_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3: language identification via stopword-profile scoring — argmax
    over per-language stopword hit counts, deterministic tiebreak by
    language code. One scan, k small array-intersections per row; at
    100 TB this is embarrassingly parallel with zero shuffle."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "tok", tokens("text")
    )
    scores = F.array(
        *[
            F.struct(
                F.size(
                    F.array_intersect(
                        "tok",
                        F.array(*[F.lit(w) for w in words]),
                    )
                ).alias("hits"),
                F.lit(lang).alias("lang"),
            )
            for lang, words in sorted(STOPWORDS.items())
        ]
    )
    # array_max on struct<hits,lang> orders by (hits, lang); ties break
    # to the lexicographically largest code — fixed, documented, stable.
    return docs.withColumn("scores", scores).select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        F.expr("array_max(scores).lang").alias("predicted_lang"),
        F.expr("array_max(scores).hits").cast("int").alias("stopword_hits"),
    )


@query(
    "l3_langid_eval",
    oracle="""
        SELECT count(*) AS n_docs, TRUE AS en_rate_ok FROM documents
    """,
)
def l3_langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3: language-ID evaluation as an oracle-checked contract.

    The fixture's ``lang`` column is a synthetic label uncorrelated
    with the text (the corpus is English-ish word soup throughout —
    see ``test_langid_beats_chance_on_english``), so labeled accuracy
    would score the label generator, not the classifier. The checkable
    invariant is the classifier's deterministic behavior on this
    corpus: ≥90% of docs must score as English. ``n_docs`` rides along
    so the oracle pins a real data value, not just the bound.
    """
    preds = l3_langid(spark, sf_dir)
    return preds.agg(
        F.count("*").alias("n_docs"),
        (
            F.sum((F.col("predicted_lang") == "en").cast("long"))
            >= F.count("*") * 0.9
        ).alias("en_rate_ok"),
    )


@query(
    "l3_repetition_stats",
    oracle="""
        WITH t AS (
            SELECT doc_id, string_split(trim(text), ' ') AS tok
            FROM documents
        ),
        wc AS (
            SELECT doc_id, w, count(*) AS n
            FROM (SELECT doc_id, unnest(tok) AS w FROM t)
            GROUP BY doc_id, w
        ),
        wstat AS (
            SELECT doc_id,
                   CAST(sum(n) AS INT) AS n_tokens,
                   floor(1e6 * max(n) / sum(n)) / 1e6 AS top_word_frac
            FROM wc GROUP BY doc_id
        ),
        gc AS (
            SELECT doc_id, g, count(*) AS n
            FROM (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(tok)),
                                             i -> tok[i] || ' ' || tok[i + 1]))
                           AS g
                FROM t WHERE len(tok) >= 2
            )
            GROUP BY doc_id, g
        ),
        gstat AS (
            SELECT doc_id,
                   floor(1e6 * max(n) / sum(n)) / 1e6 AS top_2gram_frac,
                   floor(1e6 * sum(CASE WHEN n > 1 THEN n ELSE 0 END)
                         / sum(n)) / 1e6 AS dup_2gram_frac
            FROM gc GROUP BY doc_id
        )
        SELECT w.doc_id, w.n_tokens,
               CAST(w.top_word_frac AS DOUBLE) AS top_word_frac,
               CAST(COALESCE(g.top_2gram_frac, 0.0) AS DOUBLE)
                   AS top_2gram_frac,
               CAST(COALESCE(g.dup_2gram_frac, 0.0) AS DOUBLE)
                   AS dup_2gram_frac
        FROM wstat w LEFT JOIN gstat g ON w.doc_id = g.doc_id
    """,
)
def l3_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3: repetition-based quality signals (the Gopher/MassiveText
    repetition filters): most-frequent-word fraction, most-frequent-
    2-gram fraction, and the fraction of 2-gram occurrences that are
    repeats — the standard signals for machine-generated / boilerplate
    text.

    Plan: two partial-agg shuffles (word counts, 2-gram counts), both
    keyed (doc_id, term) then (doc_id) — classic map-side-combine
    shapes — and one co-partitioned join on doc_id. No Python, no
    per-row loops; at 100 TB each agg is the wordcount pattern.
    Fractions are exact integer-count divisions (floor-truncated to
    1e-6 for cross-engine hash parity)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim("text"), " ").alias("tok")
    )
    wc = (
        docs.select("doc_id", F.explode("tok").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("n"))
    )
    wstat = wc.groupBy("doc_id").agg(
        F.sum("n").cast("int").alias("n_tokens"),
        (F.floor(1e6 * F.max("n") / F.sum("n")) / 1e6).alias(
            "top_word_frac"
        ),
    )
    grams = F.expr(
        "transform(sequence(1, size(tok) - 1), "
        "i -> concat_ws(' ', tok[i - 1], tok[i]))"
    )
    gc = (
        docs.filter(F.size("tok") >= 2)
        .select("doc_id", F.explode(grams).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("n"))
    )
    gstat = gc.groupBy("doc_id").agg(
        (F.floor(1e6 * F.max("n") / F.sum("n")) / 1e6).alias(
            "top_2gram_frac"
        ),
        (
            F.floor(
                1e6
                * F.sum(F.when(F.col("n") > 1, F.col("n")).otherwise(0))
                / F.sum("n")
            )
            / 1e6
        ).alias("dup_2gram_frac"),
    )
    return wstat.join(gstat, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        "top_word_frac",
        F.coalesce("top_2gram_frac", F.lit(0.0)).alias("top_2gram_frac"),
        F.coalesce("dup_2gram_frac", F.lit(0.0)).alias("dup_2gram_frac"),
    )


@query(
    "l3_unigram_logprob",
    oracle=r"""
        WITH w AS (
            SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w
            FROM documents
        ),
        v AS (SELECT w, count(*) AS cnt FROM w GROUP BY 1),
        t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM v)
        SELECT w.doc_id,
               CAST(count(*) AS INT) AS n_tokens,
               floor(1e6 * sum(length(to_base(t.total, 2))
                               - length(to_base(v.cnt, 2)))
                     / count(*)) / 1e6 AS avg_surprisal_bits,
               CAST(min(v.cnt) AS BIGINT) AS min_tok_count
        FROM w JOIN v USING (w), t
        GROUP BY w.doc_id
    """,
)
def l3_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3: unigram-LM quality score — per document, the mean surprisal
    of its tokens under the corpus's own unigram distribution (the
    poor man's KenLM filter: fluent text scores low, rare-token noise
    scores high), plus the corpus count of its rarest token.

    Surprisal is quantized to INTEGER bits — ``bits(total) -
    bits(count)`` where ``bits(n)`` is the binary-representation
    length (= floor(log2 n) + 1) — so both engines compute identical
    integers and the single final division is exact IEEE; a float
    ``ln()`` here would hash-diverge across engines at the ulp level.
    Production would swap in ``ln`` one-lined; the ranking the filter
    acts on is unchanged (log2-floor is monotone in count).

    Plan: one wordcount partial agg builds the vocab; scoring joins
    exploded tokens back to the vocab — the classic zipf-skewed join
    (stopwords are hot keys). The vocab is broadcast here and in any
    deployment that caps it top-K (every real tokenizer does); an
    uncapped 100 TB vocab join instead relies on AQE skew splitting,
    noted in SCALING.md. The corpus total is an unpartitioned window
    over the AGGREGATED vocab frame (r13 — bounded input by
    construction; the old 1-row crossJoin broadcast re-executed the
    whole tokenize+wordcount subtree a second time, so the corpus was
    tokenized three times per run instead of two)."""
    from pyspark.sql import Window

    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split(F.trim("text"), " ")).alias("w")
    )
    vocab = toks.groupBy("w").agg(F.count("*").alias("cnt"))
    vocab = vocab.withColumn(
        "total", F.sum("cnt").over(Window.partitionBy())
    )
    bits = lambda c: F.length(F.expr(f"bin({c})"))  # noqa: E731
    return (
        toks.join(F.broadcast(vocab), "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_tokens"),
            (
                F.floor(
                    1e6
                    * F.sum(bits("total") - bits("cnt"))
                    / F.count("*")
                )
                / 1e6
            ).alias("avg_surprisal_bits"),
            F.min("cnt").alias("min_tok_count"),
        )
    )


_GOPHER_STOPWORDS = "'the','be','to','of','and','that','have','with'"


@query(
    "l3_gopher_gate",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, trim(text) AS tx,
                   string_split(trim(text), ' ') AS tok
            FROM documents
        ),
        s AS (
            SELECT doc_id,
                   CAST(len(tok) AS INT) AS n_words,
                   floor(1e6 * len(replace(tx, ' ', '')) / len(tok))
                       / 1e6 AS mean_word_len,
                   floor(1e6 * ((len(tx) - len(replace(tx, '#', '')))
                                + (len(tx) - len(replace(tx, '...', '')))
                                  / 3)
                         / len(tok)) / 1e6 AS symbol_ratio,
                   floor(1e6 * len(list_filter(tok,
                             x -> regexp_matches(x, '[A-Za-z]')))
                         / len(tok)) / 1e6 AS alpha_word_frac,
                   CAST(len(list_filter(tok,
                            x -> list_contains([{_GOPHER_STOPWORDS}],
                                               lower(x)))) AS INT)
                       AS n_stopwords
            FROM t
        )
        SELECT *,
               CAST(CASE WHEN n_words BETWEEN 50 AND 100000
                          AND mean_word_len BETWEEN 3 AND 10
                          AND symbol_ratio <= 0.1
                          AND alpha_word_frac > 0.8
                          AND n_stopwords >= 2
                     THEN 1 ELSE 0 END AS INT) AS passes
        FROM s
    """,
)
def l3_gopher_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3: the Gopher/MassiveText document quality gate (Rae et al.
    2021, public rules) — word-count bounds [50, 100k], mean word
    length [3, 10], symbol-to-word ratio (# and …) <= 0.1, fraction of
    words containing an alphabetic character > 0.8, and >= 2 of the
    paper's eight stopwords. The two LINE-level rules (bullet-start /
    ellipsis-end fractions) are inapplicable to this corpus's
    newline-free text and are documented out. Ratios are floor(1e6)
    quantized so both engines compare identical doubles.

    Plan: entirely map-side (string fns + HOF filters over the token
    array; no shuffle, no UDF) — at 100 TB this is a pure scan
    pipeline that AQE never has to think about. ``spread_compute``
    (r13): the HOF filters evaluate interpreted per token, so the
    1-2-partition local scan serialized the whole gate on one core;
    spreading measured 0.32 → 0.15 s at sf0.1 (no-op at cluster
    scale, where the scan has thousands of splits)."""
    docs = spread_compute(load_table(spark, sf_dir, "documents"))
    tx = F.trim("text")
    base = docs.select(
        "doc_id",
        tx.alias("tx"),
        F.split(tx, " ").alias("tok"),
    ).select(
        "doc_id",
        F.size("tok").cast("int").alias("n_words"),
        (
            F.floor(
                1e6
                * F.length(F.regexp_replace("tx", " ", ""))
                / F.size("tok")
            )
            / 1e6
        ).alias("mean_word_len"),
        (
            F.floor(
                1e6
                * (
                    (
                        F.length("tx")
                        - F.length(F.regexp_replace("tx", "#", ""))
                    )
                    + (
                        F.length("tx")
                        - F.length(F.replace(F.col("tx"), F.lit("...")))
                    )
                    / 3
                )
                / F.size("tok")
            )
            / 1e6
        ).alias("symbol_ratio"),
        (
            F.floor(
                1e6
                * F.expr("size(filter(tok, x -> x rlike '[A-Za-z]'))")
                / F.size("tok")
            )
            / 1e6
        ).alias("alpha_word_frac"),
        F.expr(
            f"size(filter(tok, x -> lower(x) IN ({_GOPHER_STOPWORDS})))"
        ).cast("int").alias("n_stopwords"),
    )
    return base.withColumn(
        "passes",
        (
            F.col("n_words").between(50, 100000)
            & F.col("mean_word_len").between(3, 10)
            & (F.col("symbol_ratio") <= 0.1)
            & (F.col("alpha_word_frac") > 0.8)
            & (F.col("n_stopwords") >= 2)
        ).cast("int"),
    )
