"""Corpus-health composite (x3): the LLM-layer analogue of the TPC-H
composites x1/x2 — one per-source report that composes exact dedup,
passage-level boilerplate detection, token stats, and benchmark
contamination in a single plan, value-checked end-to-end against one
DuckDB oracle. Proves the curation inventory COMPOSES (each component
is independently oracle-checked; this checks their join).

Plan shape: four doc-level signals (each a partial-agg or broadcast-
join shape audited in its home module) co-joined on doc_id, then one
groupBy(source). At 100 TB every branch is the shape its home module
ships — no new shuffle classes appear by composing them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dst_spark_k8_lakehouse_spark.llm.contamination import (
    gram_hash_array,
)
from dst_spark_k8_lakehouse_spark.llm.curation import (
    PASSAGE,
    PASSAGE_DF,
)
from dst_spark_k8_lakehouse_spark.llm.dedup import (
    DUP_OFFSET,
    PLANTED_SQL,
    with_planted_duplicates,
)
from dst_spark_k8_lakehouse_spark.llm.tokens import tokens
from dst_spark_k8_lakehouse_spark.registry import query
from dst_spark_k8_lakehouse_spark.sources.catalog import load_table


@query(
    "x3_corpus_health",
    oracle=rf"""
        WITH bronze AS ({PLANTED_SQL}),
        dup AS (
            SELECT text, count(*) AS n_copies FROM bronze GROUP BY 1
        ),
        toks AS (
            SELECT doc_id, source,
                   len(string_split(trim(text), ' ')) AS n_tokens
            FROM bronze
        ),
        p AS (
            SELECT doc_id,
                   array_to_string(
                       list_slice(tok, s + 1, s + {PASSAGE}), ' ')
                       AS passage
            FROM (SELECT doc_id, string_split(trim(text), ' ') AS tok
                  FROM bronze),
                 unnest(range(0, len(tok), {PASSAGE})) AS u(s)
        ),
        pf AS (SELECT passage, count(DISTINCT doc_id) AS df
               FROM p GROUP BY 1),
        boiler AS (
            SELECT DISTINCT p.doc_id FROM p JOIN pf USING (passage)
            WHERE pf.df >= {PASSAGE_DF}
        ),
        g AS (
            SELECT DISTINCT doc_id,
                   array_to_string(t[i.i:i.i + 4], ' ') AS gram
            FROM (SELECT doc_id,
                         regexp_split_to_array(trim(lower(text)), '\s+')
                             AS t
                  FROM bronze) tok,
                 LATERAL (SELECT unnest(range(1, len(t) - 3)) AS i) i
            WHERE len(t) >= 5
        ),
        bg AS (SELECT DISTINCT gram FROM g
               WHERE doc_id % 10 = 0 AND doc_id < {DUP_OFFSET}),
        contam AS (
            SELECT DISTINCT g.doc_id FROM g JOIN bg USING (gram)
            WHERE g.doc_id % 10 <> 0 OR g.doc_id >= {DUP_OFFSET}
        )
        SELECT b.source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN d.n_copies >= 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_exact_dup,
               CAST(sum(CASE WHEN bo.doc_id IS NOT NULL THEN 1 ELSE 0
                    END) AS BIGINT) AS n_boilerplate,
               CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0
                    END) AS BIGINT) AS n_contaminated,
               CAST(floor(1e4 * sum(t.n_tokens) / count(*)) / 1e4
                    AS DOUBLE) AS avg_tokens
        FROM bronze b
        JOIN dup d USING (text)
        JOIN toks t USING (doc_id)
        LEFT JOIN boiler bo ON b.doc_id = bo.doc_id
        LEFT JOIN contam c ON b.doc_id = c.doc_id
        GROUP BY b.source
    """,
)
def x3_corpus_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: per-source corpus health — doc counts, exact-duplicate
    docs, boilerplate-passage carriers, benchmark-contaminated docs,
    and mean token length, in one composed plan over the planted
    corpus (mirrors surface in their own 'mirror' source row)."""
    docs = with_planted_duplicates(load_table(spark, sf_dir, "documents"))
    # ONE tokenize pass (r12, VERDICT r11 item 1b): the four signals
    # used to re-derive their token streams from `docs` per branch —
    # sha2 twice (dup agg + join-back), the passage-hash stream twice
    # (df agg + boiler semi side), and the gram-hash tokenization
    # twice (benchmark + corpus) — six evaluations of the heavy
    # string work per run. Materialize ONE compact per-doc frame
    # (content hash, token count, passage-hash set, gram-hash set;
    # hashes only, never text) via an eager localCheckpoint, and
    # every branch reads it from block storage. At 100 TB the
    # checkpoint is ~#tokens × 16 B distributed — bounded by the
    # corpus itself and strictly cheaper than re-tokenizing it per
    # signal.
    #
    # dup-copy counts key on the CONTENT HASH, not raw text: the
    # groupBy and join-back shuffle 32-byte keys instead of document
    # text (the l1_exact_dedup scale rule; collision odds are the
    # accepted sha2 class, and the oracle's text-keyed form would
    # catch one). Passage hashes are TOKEN-hash slices and grams are
    # xxhash64 5-grams — 8-byte keys end to end (see
    # curation.passage_dedup_report / contamination._doc_gram_hashes
    # for the measured rationale of each shape).
    base = (
        docs.select(
            "doc_id",
            "source",
            F.sha2("text", 256).alias("thash"),
            F.expr(
                "transform(split(trim(text), ' '), t -> xxhash64(t))"
            ).alias("tokh"),
            F.transform(tokens("text"), lambda t: F.xxhash64(t)).alias(
                "ltokh"
            ),
        )
        .select(
            "doc_id",
            "source",
            "thash",
            F.size("tokh").alias("n_tokens"),
            F.expr(
                f"array_distinct(transform("
                f"sequence(0, size(tokh) - 1, {PASSAGE}), "
                f"s -> xxhash64(slice(tokh, s + 1, {PASSAGE}))))"
            ).alias("pass_h"),
            gram_hash_array(5, "ltokh").alias("gram_h"),
        )
        .localCheckpoint()  # eager: branches race it if lazy
    )
    dup = base.groupBy("thash").agg(F.count("*").alias("n_copies"))
    # boilerplate flag only — no clean-text reassembly (that is
    # l6_passage_dedup's job): per-doc-distinct passage hashes so
    # document frequency is a plain partial-agg count, boilerplate
    # set broadcast back
    ph = base.select("doc_id", F.explode("pass_h").alias("ph"))
    pdup = (
        ph.groupBy("ph")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= PASSAGE_DF)
        .select("ph")
    )
    boiler = (
        ph.join(F.broadcast(pdup), "ph", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("is_boiler", F.lit(1))
    )
    is_bench = (F.col("doc_id") % 10 == 0) & (
        F.col("doc_id") < DUP_OFFSET
    )
    # hashed-gram contamination (the l7 string-free formulation):
    # benchmark gram hashes broadcast, corpus side map-only
    bench_grams = F.broadcast(
        base.filter(is_bench)
        .select(F.explode("gram_h").alias("gram_h"))
        .distinct()
    )
    contam = (
        base.filter(~is_bench)
        .select("doc_id", F.explode("gram_h").alias("gram_h"))
        .join(bench_grams, "gram_h", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("is_contam", F.lit(1))
    )
    per_doc = (
        base.select("doc_id", "source", "thash", "n_tokens")
        .join(dup, "thash")
        .join(boiler, "doc_id", "left")
        .join(contam, "doc_id", "left")
    )
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("n_copies") >= 2).cast("long")).alias("n_exact_dup"),
        F.sum(F.coalesce("is_boiler", F.lit(0)).cast("long")).alias(
            "n_boilerplate"
        ),
        F.sum(F.coalesce("is_contam", F.lit(0)).cast("long")).alias(
            "n_contaminated"
        ),
        (F.floor(1e4 * F.sum("n_tokens") / F.count("*")) / 1e4).alias(
            "avg_tokens"
        ),
    )
