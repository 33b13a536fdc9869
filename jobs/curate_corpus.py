#!/usr/bin/env python
"""Batch job: LLM training-data curation pipeline.

documents → quality gate → exact dedup → repeated-passage scrub →
MinHash near-dup dedup → benchmark decontamination (exact 5-gram +
fuzzy Jaccard) → curated corpus + signature table + mixture manifest
+ corpus stats, with pipeline metrics at every layer. The medallion flow (``06_pipeline_metrics_demo.ipynb``)
applied to corpus curation:

  bronze  raw documents
  silver  quality-filtered, exactly-deduplicated
  gold    near-dup-free, decontaminated corpus + stats + persisted
          dedup state + per-domain epoch manifest

spark-submit-able like ``jobs/revenue_report.py``. Deterministic keep
rules throughout: smallest doc_id survives any duplicate group;
eval-set members and any doc sharing a 5-gram with them are excluded
from training (``llm/contamination.py``); the mixture manifest
realizes ``MIXTURE_MILLI`` epoch rates (``llm/curation.py``).
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from dst_spark_k8_lakehouse_spark import get_session  # noqa: E402
from dst_spark_k8_lakehouse_spark.llm import (  # noqa: E402
    contamination,
    curation,
    dedup,
)
from dst_spark_k8_lakehouse_spark.llm.tokens import tokens  # noqa: E402
from dst_spark_k8_lakehouse_spark.metrics import MetricContext  # noqa: E402
from dst_spark_k8_lakehouse_spark.plans import (  # noqa: E402
    delta_reader,
    delta_writer,
)
from dst_spark_k8_lakehouse_spark.sources.catalog import load_table  # noqa: E402


def quality_gate(docs: DataFrame) -> DataFrame:
    """Silver rule filter (C4/Gopher-style, cf. l3_quality_score):
    token-length band + must contain a common-word token."""
    toks = tokens("text")
    return docs.where(
        F.size(toks).between(5, 2000)
        & (F.size(F.array_intersect(toks, F.array(F.lit("the"), F.lit("a")))) > 0)
    )


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Keep the smallest doc_id per distinct text (hash-group)."""
    from pyspark.sql import Window

    w = Window.partitionBy(F.sha2("text", 256)).orderBy("doc_id")
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .where("_rn = 1")
        .drop("_rn")
    )


def neardup_dedup(
    docs: DataFrame, threshold: float = 0.7
) -> tuple[DataFrame, DataFrame]:
    """Drop near-duplicates, keeping one representative per connected
    cluster (dropping the second doc of every pair independently would
    over-delete on chains a~b~c where a and c are NOT near-dups);
    returns (kept docs, signature table for incremental reuse)."""
    # spread=False: docs is the silver layer (window + filter upstream),
    # already shuffle-wide; the spread probe would re-run that pipeline.
    # localCheckpoint: the signature frame feeds candidate generation
    # (band self-join, 2 sides), verification (2 sides) and the
    # persisted-signature output — materialize the pandas-UDF stage
    # ONCE instead of ~5x (the l2_minhash_lsh pattern).
    sigs = dedup.signature_table(docs, spread=False).localCheckpoint(
        eager=False
    )
    pairs = dedup.verified_pairs(
        dedup.candidates_from_sigs(sigs), sigs, threshold
    )
    kept = dedup.dedup_keep_representatives(docs, pairs)
    return kept, sigs.join(
        kept.select("doc_id"), "doc_id", "left_semi"
    )


def _write_state(df: DataFrame, path: str) -> None:
    """Publish a gold/state table as native Delta: CTAS on the first
    run, one overwrite commit on a re-run (earlier runs stay
    time-travellable)."""
    if delta_reader.is_delta_table(path):
        delta_writer.overwrite_delta(df, path)
    else:
        delta_writer.create_delta(df, path)


def run(spark: SparkSession, sf_dir: str, out_dir: str) -> dict[str, int]:
    counts: dict[str, int] = {}
    with MetricContext(
        spark,
        layer=3,
        project="corpus",
        dataset_year=2024,
        description="corpus curation",
        job_name="curate_corpus",
        table_path=f"{out_dir}/_activity_log",
    ) as ctx:

        def log(layer: int, desc: str, n: int) -> None:
            counts[desc] = n
            ctx.log_metric(
                layer=layer,
                project="corpus",
                dataset_year=2024,
                description=desc,
                value=n,
                unit="rows",
                function="count",
                source_path=sf_dir,
            )

        bronze = load_table(spark, sf_dir, "documents")
        log(1, "bronze_docs", bronze.count())

        silver = exact_dedup(quality_gate(bronze))
        log(2, "silver_docs", silver.count())

        # C4-style boilerplate removal AFTER exact dedup (before it,
        # exact-duplicate docs would raise every own passage's df to 2
        # and gut themselves); docs left with no unique content drop,
        # and the rewritten text must RE-qualify the gate (a scrub can
        # leave a stub too short to near-dup-fingerprint downstream)
        scrubbed = quality_gate(curation.passage_scrub(silver))
        log(2, "passage_scrubbed_docs", scrubbed.count())

        gold, sigs = neardup_dedup(scrubbed)

        # decontamination: the stand-in eval set is every 97th bronze
        # doc (production passes a real benchmark path); eval members
        # self-flag at 100% gram overlap, so training never sees them
        # OR any doc sharing a 5-gram with them
        benchmark = bronze.filter(F.col("doc_id") % 97 == 0)
        flagged = contamination.contamination_report(gold, benchmark, n=5)
        # fuzzy pass: paraphrase-level leaks (Jaccard >= 0.5) that
        # share no exact 5-gram; spread=False — gold is shuffle-wide
        fuzzy = contamination.fuzzy_decontamination(
            gold, benchmark, spread=False, corpus_sigs=sigs
        )
        drop_ids = flagged.select("doc_id").union(
            fuzzy.select("doc_id")
        ).distinct()
        clean = gold.join(drop_ids, "doc_id", "left_anti")
        log(3, "contaminated_removed", drop_ids.count())

        _write_state(clean, f"{out_dir}/corpus")
        _write_state(
            sigs.join(clean.select("doc_id"), "doc_id", "left_semi")
            .withColumn("sig_v", F.lit(dedup.SIG_VERSION)),
            f"{out_dir}/signatures",
        )
        log(3, "gold_docs", delta_reader.read_delta(
            spark, f"{out_dir}/corpus"
        ).count())

        manifest = curation.mixture_epochs(clean, curation.MIXTURE_MILLI)
        manifest.write.mode("overwrite").parquet(
            f"{out_dir}/mixture_manifest"
        )
        log(3, "mixture_rows", spark.read.parquet(
            f"{out_dir}/mixture_manifest"
        ).count())

        stats = clean.groupBy("lang").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        stats.write.mode("overwrite").parquet(f"{out_dir}/stats")
    return counts


def main() -> None:
    parser = argparse.ArgumentParser()
    parser.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    parser.add_argument("--out", required=True)
    args = parser.parse_args()
    spark = get_session(app_name="curate-corpus")
    counts = run(spark, args.sf_dir, args.out)
    print(counts)


if __name__ == "__main__":
    main()
