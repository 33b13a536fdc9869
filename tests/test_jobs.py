"""The spark-submit-able job (reference entry point 3) runs end-to-end:
gold output written, metrics logged with a completion event."""

from __future__ import annotations

from pyspark.sql import functions as F

from dst_spark_k8_lakehouse_spark.plans import delta_reader as dr
from dst_spark_k8_lakehouse_spark.plans import delta_writer as dw
from jobs.revenue_report import run


def test_revenue_report_job(spark, sf_dir, tmp_path):
    out = str(tmp_path / "gold")
    n = run(spark, sf_dir, out)
    assert n == 25  # one row per nation

    report = spark.read.parquet(f"{out}/revenue_by_nation")
    assert set(report.columns) == {"region", "nation", "revenue", "n_items"}

    log = dr.read_delta(spark, f"{out}/_activity_log")
    by_fn = {r.metric_function: r for r in log.collect()}
    assert by_fn["count"].metric_value == 25.0
    assert by_fn["completion"].status == "success"
    assert log.count() == 2  # one batched commit, two events


def test_gold_star_report_job(spark, sf_dir, tmp_path):
    """r12: the stats-planned gold job — silver bootstrap publishes
    sidecar statistics, plan_star_join orders the urgent-orders dim
    (selective) before supplier (1:1), the gold output matches a
    plainly-joined reference, and a second run reuses the silver
    tables (idempotent bootstrap)."""
    from jobs.gold_star_report import bootstrap_silver
    from jobs.gold_star_report import run as run_gold

    out = str(tmp_path / "g")
    n = run_gold(spark, sf_dir, out)
    gold = spark.read.parquet(f"{out}/gold_star_revenue")
    assert n == gold.count() > 0

    from dst_spark_k8_lakehouse_spark.sources.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").where(
        "o_orderpriority = '1-URGENT'"
    )
    supp = load_table(spark, sf_dir, "supplier")
    ref = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy("s_nationkey", "o_orderdate")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue"),
        )
    )
    assert gold.count() == ref.count()
    assert (
        gold.join(
            ref.withColumnsRenamed({"n_items": "n2", "revenue": "r2"}),
            ["s_nationkey", "o_orderdate"],
        )
        .where("n_items <> n2 OR abs(revenue - r2) > 1e-6")
        .count()
        == 0
    )
    # the planner put the selective dim first
    from dst_spark_k8_lakehouse_spark.plans import cbo

    silver = bootstrap_silver(spark, sf_dir, out)  # reuses, no rewrite
    _, plan = cbo.plan_star_join(
        spark, silver["fact"],
        [(silver["orders_dim"], ["o_orderkey"]),
         (silver["supplier_dim"], ["s_suppkey"])],
    )
    assert plan["order"][0] == silver["orders_dim"], plan["reasons"]


def test_curate_corpus_job(spark, sf_dir, tmp_path):
    from jobs.curate_corpus import run as curate

    out = str(tmp_path / "curated")
    counts = curate(spark, sf_dir, out)
    assert 0 < counts["gold_docs"] <= counts["silver_docs"] <= counts["bronze_docs"]

    corpus = dr.read_delta(spark, f"{out}/corpus")
    sigs = dr.read_delta(spark, f"{out}/signatures")
    assert corpus.count() == counts["gold_docs"]
    assert sigs.count() == counts["gold_docs"]  # state matches corpus

    log = dr.read_delta(spark, f"{out}/_activity_log")
    assert log.count() == 7  # 6 layer counts + completion, one commit
    assert (
        log.filter("metric_function = 'completion'").collect()[0].status
        == "success"
    )
    stats = spark.read.parquet(f"{out}/stats")
    assert stats.count() > 0

    # decontamination: no corpus doc may share a 5-gram with the
    # stand-in eval set (every 97th bronze doc)
    from dst_spark_k8_lakehouse_spark.llm.contamination import (
        contamination_report,
    )
    from dst_spark_k8_lakehouse_spark.sources.catalog import load_table

    bench = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 97 == 0
    )
    assert contamination_report(corpus, bench, n=5).count() == 0
    assert counts["contaminated_removed"] > 0  # non-vacuous

    # mixture manifest: excluded domain absent, upsampled domain has
    # more rows than docs
    manifest = spark.read.parquet(f"{out}/mixture_manifest")
    assert counts["mixture_rows"] == manifest.count()
    assert manifest.filter("source = 'src3'").count() == 0
    n_src0_docs = corpus.filter("source = 'src0'").count()
    if n_src0_docs:
        assert (
            manifest.filter("source = 'src0'").count() >= 2 * n_src0_docs
        )


def test_ingest_batch_job(spark, sf_dir, tmp_path):
    """Daily-increment flow against curated state: exact copies and
    near-dups of corpus docs are dropped, fresh docs land, and every
    state table grows by O(batch)."""
    from pyspark.sql import functions as F

    from jobs.curate_corpus import run as curate
    from jobs.ingest_batch import run as ingest

    state = str(tmp_path / "state")
    curate(spark, sf_dir, state)
    corpus = f"{state}/corpus"
    base = dr.read_delta(spark, corpus)
    n0 = base.count()
    fresh = base.limit(4).select(
        (F.col("doc_id") + 900_000).alias("doc_id"),
        F.concat(F.lit("totally new the "), F.reverse("text")).alias("text"),
        "lang", "source", "n_chars",
    )
    exact_copies = base.limit(3).select(
        (F.col("doc_id") + 910_000).alias("doc_id"),
        "text", "lang", "source", "n_chars",
    )
    near_dups = base.limit(2).select(
        (F.col("doc_id") + 920_000).alias("doc_id"),
        F.concat("text", F.lit(" the end")).alias("text"),
        "lang", "source", "n_chars",
    )
    batch = fresh.unionByName(exact_copies).unionByName(near_dups)

    counts = ingest(spark, batch, state)
    assert counts["batch_docs"] == 9
    assert counts["batch_after_exact"] == 6  # 3 exact copies dropped
    assert counts["batch_ingested"] == 4  # 2 near-dups dropped too

    assert dr.read_delta(spark, corpus).count() == n0 + 4
    # state grew by exactly the ingested docs
    assert dr.read_delta(spark, f"{state}/hashes").count() == n0 + 4
    sigs = dr.read_delta(spark, f"{state}/signatures")
    assert sigs.join(
        dr.read_delta(spark, corpus), "doc_id", "left_anti"
    ).count() == 0
    # every state table and the activity log is a native Delta table
    for name in ("corpus", "signatures", "hashes", "_activity_log"):
        assert dr.is_delta_table(f"{state}/{name}"), name
    from dst_spark_k8_lakehouse_spark.metrics import METRICS_SCHEMA

    log = dr.read_delta(spark, f"{state}/_activity_log")
    assert log.schema == METRICS_SCHEMA

    # idempotence of policy: re-ingesting the same batch drops everything
    counts2 = ingest(spark, batch, state)
    assert counts2["batch_ingested"] == 0


def test_neardup_drop_set_resolves_chains_and_corpus_wins(spark):
    """Cluster-level drop policy: a batch chain a~b, c~b collapses to
    ONE survivor (smallest id), and any cluster touching an existing
    corpus doc drops its entire batch side."""
    from jobs.ingest_batch import neardup_drop_set

    pairs = spark.createDataFrame(
        # chain within batch: 10~11, 12~11 (10 and 12 never paired)
        # corpus-wins: existing doc 1 ~ batch doc 20
        [(10, 11, 0.9), (11, 12, 0.9), (1, 20, 0.95)],
        "doc_a long, doc_b long, jaccard double",
    )
    batch = spark.createDataFrame(
        [(10,), (11,), (12,), (20,), (99,)], "doc_id long"
    )
    drops = {r.doc_id for r in neardup_drop_set(pairs, batch).collect()}
    # chain keeps 10 only; 20 loses to corpus doc 1; 99 untouched
    assert drops == {11, 12, 20}


def test_stream_ingest_resumes_and_stays_idempotent(spark, sf_dir, tmp_path):
    """File-source streaming ingest: each arrival file becomes one
    micro-batch through the incremental ingest; the checkpoint skips
    already-processed files on restart; and re-delivering identical
    content (the micro-batch-retry shape) ingests nothing — content
    dedup turns at-least-once execution into exactly-once corpus
    state."""
    from pyspark.sql import functions as F

    from jobs.curate_corpus import run as curate
    from jobs.stream_ingest import run_stream

    state = str(tmp_path / "state")
    curate(spark, sf_dir, state)
    corpus = f"{state}/corpus"
    base = dr.read_delta(spark, corpus)
    n0 = base.count()

    arrivals = tmp_path / "arrivals"
    arrivals.mkdir()
    fresh1 = base.limit(3).select(
        (F.col("doc_id") + 800_000).alias("doc_id"),
        F.concat(F.lit("stream batch one the "), F.reverse("text")).alias(
            "text"
        ),
        "lang", "source", "n_chars",
    )
    fresh1.coalesce(1).write.parquet(str(arrivals / "b1"))
    # batch 2: 2 fresh docs + 2 exact copies of batch-1 docs
    # fresh relative to batch 1 too: different base rows (reversing
    # the SAME base docs again would near-duplicate batch 1 and be
    # correctly dropped)
    fresh2 = base.orderBy(F.desc("doc_id")).limit(2).select(
        (F.col("doc_id") + 810_000).alias("doc_id"),
        F.concat(F.lit("stream batch two the "), F.reverse("text")).alias(
            "text"
        ),
        "lang", "source", "n_chars",
    )
    copies = fresh1.limit(2).select(
        (F.col("doc_id") + 20_000).alias("doc_id"),
        "text", "lang", "source", "n_chars",
    )
    fresh2.unionByName(copies).coalesce(1).write.parquet(str(arrivals / "b2"))

    counts = run_stream(spark, str(arrivals) + "/*", state)
    assert [c["batch_ingested"] for c in counts] == [3, 2]
    assert dr.read_delta(spark, corpus).count() == n0 + 5

    # restart with the same checkpoint: nothing new to process
    assert run_stream(spark, str(arrivals) + "/*", state) == []
    assert dr.read_delta(spark, corpus).count() == n0 + 5

    # retry shape: the same content re-arrives as a NEW file (new ids);
    # the source processes it, the ingest drops every doc
    fresh1.select(
        (F.col("doc_id") + 30_000).alias("doc_id"),
        "text", "lang", "source", "n_chars",
    ).coalesce(1).write.parquet(str(arrivals / "b3"))
    counts3 = run_stream(spark, str(arrivals) + "/*", state)
    assert [c["batch_ingested"] for c in counts3] == [0]
    assert dr.read_delta(spark, corpus).count() == n0 + 5


def test_ingest_refuses_incompatible_signature_state(spark, sf_dir, tmp_path):
    """State written by an older minhash family (no sig_v stamp, or
    sig_v = 2 from the removed JVM signature spelling, which split
    non-ASCII whitespace differently) must be refused loudly — a
    band-join against it would silently match nothing and admit
    duplicates."""
    import pytest

    from jobs.curate_corpus import run as curate
    from jobs.ingest_batch import run as ingest

    state = str(tmp_path / "state")
    sigs = f"{state}/signatures"
    curate(spark, sf_dir, state)
    batch = spark.createDataFrame(
        [(999_999, "the quick brown fox jumps over the lazy dog", "en",
          "src0", 43)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    # state stamped by the previous signature family
    dw.overwrite_delta(
        dr.read_delta(spark, sigs).withColumn("sig_v", F.lit(2)), sigs
    )
    with pytest.raises(ValueError, match="incompatible"):
        ingest(spark, batch, state)
    # simulate pre-fix state: strip the version stamp
    dw.drop_column(spark, sigs, "sig_v")
    with pytest.raises(ValueError, match="incompatible"):
        ingest(spark, batch, state)


def test_stream_ingest_reconciles_partial_state(spark, sf_dir, tmp_path):
    """Crash-window recovery: corpus rows whose hash/signature state
    never landed (crash between the three appends) are healed on
    stream start, so re-delivered content still ingests nothing."""
    from pyspark.sql import functions as F

    from jobs.curate_corpus import run as curate
    from jobs.stream_ingest import run_stream

    state = str(tmp_path / "state")
    curate(spark, sf_dir, state)
    corpus = f"{state}/corpus"
    base = dr.read_delta(spark, corpus)

    arrivals = tmp_path / "arrivals"
    arrivals.mkdir()
    fresh = base.limit(2).select(
        (F.col("doc_id") + 700_000).alias("doc_id"),
        F.concat(F.lit("recovery probe the "), F.reverse("text")).alias(
            "text"
        ),
        "lang", "source", "n_chars",
    )
    fresh.coalesce(1).write.parquet(str(arrivals / "b1"))
    assert [c["batch_ingested"] for c in run_stream(
        spark, str(arrivals) + "/*", state
    )] == [2]
    n1 = dr.read_delta(spark, corpus).count()

    # simulate the crash window: corpus rows landed, state rows did not
    for t in (f"{state}/hashes", f"{state}/signatures"):
        dw.overwrite_delta(
            dr.read_delta(spark, t).filter(F.col("doc_id") < 700_000), t
        )

    # the same content re-arrives as a new file with new ids: without
    # reconciliation the missing state rows would let it duplicate
    fresh.select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        "text", "lang", "source", "n_chars",
    ).coalesce(1).write.parquet(str(arrivals / "b2"))
    assert [c["batch_ingested"] for c in run_stream(
        spark, str(arrivals) + "/*", state
    )] == [0]
    assert dr.read_delta(spark, corpus).count() == n1


def test_wap_ingest_gates_bad_batches(spark, tmp_path):
    """jobs/wap_ingest (r10): a clean batch publishes via
    fast_forward; a batch that breaks an audit leaves main
    byte-untouched with the branch quarantined; a duplicate
    (app, epoch) is a no-op."""
    import importlib

    from pyspark.sql import functions as F

    from dst_spark_k8_lakehouse_spark.plans import (
        iceberg_reader as ir,
        iceberg_writer as iw,
    )

    job = importlib.import_module("jobs.wap_ingest")
    t = str(tmp_path / "t")

    def rows(lo, hi, null_at=None):
        df = spark.range(lo, hi).select(
            F.col("id"), (F.col("id") % 3).cast("long").alias("g")
        )
        if null_at is not None:
            df = df.withColumn(
                "g",
                F.when(F.col("id") == null_at, None).otherwise(
                    F.col("g")
                ),
            )
        return df

    iw.create_iceberg(rows(0, 50), t)
    audits = [
        job.not_null_audit(["g"]),
        job.unique_audit(["id"]),
        job.min_rows_audit(5),
    ]
    # clean batch → published
    rep = job.run_wap_ingest(spark, t, rows(50, 80), audits,
                             txn=("wap-job", 1))
    assert rep["published"] and rep["main_rows_before"] == 50
    assert ir.read_iceberg(spark, t).count() == 80
    meta, _ = iw._load_meta(t)
    assert not (meta.get("refs") or {})  # branch cleaned up
    # bad batch (a null g) → quarantined, main untouched
    rep = job.run_wap_ingest(spark, t, rows(80, 100, null_at=90),
                             audits, branch="quarantine",
                             txn=("wap-job", 2))
    assert not rep["published"]
    assert rep["audits"]["not_null(g)"] == 1
    assert ir.read_iceberg(spark, t).count() == 80
    # the quarantined branch is inspectable
    assert ir.read_iceberg(spark, t, ref="quarantine").count() == 100
    iw.drop_ref(t, "quarantine")
    # duplicate-key batch → unique audit fails
    rep = job.run_wap_ingest(spark, t, rows(70, 90), audits,
                             keep_branch_on_failure=False,
                             txn=("wap-job", 3))
    assert not rep["published"]
    assert rep["audits"]["unique(id)"] == 10
    meta, _ = iw._load_meta(t)
    assert not (meta.get("refs") or {})
    # duplicate (app, epoch) replay: no-op, no publish, no leak
    rep = job.run_wap_ingest(spark, t, rows(100, 120), audits,
                             txn=("wap-job", 1))
    assert rep.get("duplicate_txn") and not rep["published"]
    assert ir.read_iceberg(spark, t).count() == 80
