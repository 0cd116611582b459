"""Streaming distribution-drift monitor — the micro-batch form of
``source_kl_drift`` (queries_ml.py): score every arriving batch's
per-source unigram distribution against a FROZEN baseline and emit
alert rows when the smoothed KL divergence crosses a threshold.

Batch drift asks "has this source moved vs the corpus?"; the
streaming question is "has the LAST FIVE MINUTES of this source moved
vs what we trained the mix on?" — the monitor a crawler pipeline
needs to catch template floods, language flips, or scraper breakage
while the batch is still small enough to quarantine.

Design:
- the baseline is a static (tok, cw) count table over a fixed top-T
  vocabulary, built once from a reference corpus
  (``baseline_from_corpus``) and broadcast into every micro-batch —
  no streaming state at all, so nothing grows, nothing checkpoints
  beyond the source offsets, and a replayed batch rescores to the
  identical KL (idempotent sink contract);
- each foreachBatch computes the same add-one-smoothed restricted-
  simplex KL as the batch query (terms rounded to 6dp then
  decimal-summed — deterministic across replays and engines);
- output rows (batch_id, source, n_top_tokens, kl, alert) append to
  a parquet sink; ``alert`` marks sources over the threshold.

100 TB shape: per batch the only wide operation is one
(source, tok) count of the BATCH (micro-batches are small by
definition); the baseline join is a broadcast of T rows per source
dictionary entry. The monitor's cost scales with the trigger size,
never with history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tpg_weather_etl_spark.functions.text import norm_text
from tpg_weather_etl_spark.sources.writers import replace_partitions

DRIFT_TOP = 50
DRIFT_ALERT_KL = 0.15


def baseline_from_corpus(docs: DataFrame, top: int = DRIFT_TOP) -> DataFrame:
    """(tok, cw) counts over the reference corpus's top-``top`` words
    (deterministic count-desc, tok-asc cut) — the frozen yardstick."""
    toks = docs.select(
        F.explode(F.split(norm_text(F.col("text")), " ")).alias("tok"))
    return (toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cw"))
            .orderBy(F.desc("cw"), "tok").limit(top))


def batch_kl(batch: DataFrame, baseline: DataFrame,
             top: int = DRIFT_TOP) -> DataFrame:
    """(source, n_top_tokens, kl) of one batch vs the baseline.

    Same math as queries_ml.q_source_kl_drift restricted to the
    baseline vocabulary: P_s(w) = (c_sw+1)/(n_s+T) against
    Q(w) = (cw+1)/(N+T), terms 6dp-rounded then decimal-summed.
    """
    toks = batch.select(
        "source",
        F.explode(F.split(norm_text(F.col("text")), " ")).alias("tok"))
    sw = (toks.join(F.broadcast(baseline.select("tok")), "tok")
          .groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c")))
    # Two correctness subtleties vs a naive restricted-vocabulary KL:
    # 1. T is the baseline's ACTUAL vocabulary size, not the
    #    requested cap — a fixed cap over a smaller reference vocab
    #    leaves both simplexes un-normalized and the "KL" can go
    #    negative (Gibbs holds only for proper distributions).
    # 2. An explicit OOV cell: a template flood whose tokens are all
    #    outside the baseline vocabulary would otherwise smooth to
    #    the uniform restricted distribution and can score ZERO drift
    #    (observed against a uniform baseline). All batch mass that
    #    falls outside the vocab lands in cell T+1, whose baseline
    #    probability is the add-one floor — so pure-OOV drift is the
    #    LARGEST signal, as it should be.
    tot = baseline.agg(F.sum("cw").alias("n_corpus"),
                       F.count(F.lit(1)).alias("t_sz"))
    n_all = toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_all"))
    grid = (toks.select("source").distinct()
            .crossJoin(F.broadcast(baseline))
            .join(sw, ["source", "tok"], "left")
            .fillna({"c": 0}))
    in_vocab = grid.groupBy("source").agg(F.sum("c").alias("n_in"))
    denom_p = (F.col("n_all") + F.col("t_sz") + 1).cast("double")
    denom_q = (F.col("n_corpus") + F.col("t_sz") + 1).cast("double")
    p = (F.col("c") + 1.0) / denom_p
    q = (F.col("cw") + 1.0) / denom_q
    term = F.round(p * F.log(p / q), 6).cast("decimal(38,8)")
    vocab_terms = (
        grid.join(n_all, "source").crossJoin(F.broadcast(tot))
        .select("source", F.col("c").alias("n_tok"), term.alias("term"))
    )
    p_oov = (F.col("n_all") - F.col("n_in") + 1.0) / denom_p
    q_oov = F.lit(1.0) / denom_q
    oov_terms = (
        n_all.join(in_vocab, "source").crossJoin(F.broadcast(tot))
        .select(
            "source", F.lit(0).cast("long").alias("n_tok"),
            F.round(p_oov * F.log(p_oov / q_oov), 6)
            .cast("decimal(38,8)").alias("term"))
    )
    return (
        vocab_terms.unionByName(oov_terms)
        .groupBy("source")
        .agg(F.sum("n_tok").alias("n_top_tokens"),
             (F.round(F.sum("term"), 6).cast("double") + F.lit(0.0))
             .alias("kl"))
    )


def _has_root_part_files(spark, out_dir: str) -> bool:
    """True when ``out_dir`` holds root-level ``part-*`` files (the
    pre-round-7 unpartitioned layout). Local paths go through os so
    the check works without a JVM round-trip; any non-local scheme
    (s3a/hdfs/dbfs/...) lists via Hadoop's FileSystem so the eager
    legacy-layout guard protects remote sinks too, not only the local
    filesystem it was first written against."""
    import os
    from urllib.parse import urlparse

    scheme = urlparse(out_dir).scheme
    if scheme in ("", "file"):
        path = urlparse(out_dir).path if scheme == "file" else out_dir
        return os.path.isdir(path) and any(
            f.startswith("part-") for f in os.listdir(path))
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(out_dir)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return False
    return any(st.getPath().getName().startswith("part-")
               for st in fs.listStatus(hpath))


def start_drift_monitor(stream: DataFrame, baseline: DataFrame,
                        out_dir: str, checkpoint_dir: str,
                        alert_kl: float = DRIFT_ALERT_KL,
                        top: int = DRIFT_TOP):
    """foreachBatch scorer: write per-source KL rows (with the alert
    flag) for every micro-batch. Stateless beyond source offsets.

    Idempotent sink contract, made real: the sink is partitioned by
    ``batch_id`` and written with dynamic partition overwrite, so a
    batch replayed after a crash between the parquet commit and the
    offset commit OVERWRITES its own partition instead of appending a
    duplicate — foreachBatch's at-least-once delivery composes to
    exactly-once at the sink because batch_id is stable across
    replays of the same epoch.

    MIGRATION NOTE (layout change, round 7): this sink was previously
    an UNPARTITIONED append. An ``out_dir`` written by that version
    mixes root-level part files with ``batch_id=N`` directories, which
    Spark's partition discovery rejects (or misreads) as conflicting
    directory structures. Checked eagerly below: a legacy layout
    raises here at start() time with a migration hint instead of
    failing obscurely at first read. Recreate legacy sinks or move the
    old part files into a ``batch_id=-1`` subdirectory."""
    if _has_root_part_files(stream.sparkSession, out_dir):
        raise ValueError(
            f"drift sink {out_dir!r} holds root-level part files from "
            "the pre-partitioned layout; recreate it or move them into "
            "a batch_id=-1 subdirectory before starting the monitor")

    def score(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        out = batch_kl(batch, baseline, top=top).select(
            F.lit(batch_id).alias("batch_id"),
            "source", "n_top_tokens", "kl",
            (F.col("kl") >= alert_kl).alias("alert"),
        )
        replace_partitions(out, out_dir, "batch_id")

    return (
        stream.writeStream.foreachBatch(score)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
