package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic, engine-portable sampling and dataset splitting.
  *
  * Training-data pipelines need splits that are (a) stable under
  * re-runs, repartitioning and cluster-size changes, (b) derivable from
  * the record's identity alone (no persisted split table to keep in
  * sync), and (c) reproducible OUTSIDE the engine for audits. Spark's
  * `sample()`/`randomSplit()` give none of these: they are seed+partition
  * dependent. Here each row hashes to a stable bucket via md5 of its
  * stringified key — md5 is identical in every engine (the q_train_test
  * _split oracle recomputes the exact assignment in DuckDB SQL).
  *
  * All pure Column expressions: bucketing runs inside the scan stage,
  * sampling is a pushable-adjacent filter, no shuffle. */
object Sampling {

  /** Stable bucket in [0, buckets): first 8 md5 hex chars of the
    * stringified key, as an integer, mod buckets. */
  def hashBucket(key: Column, buckets: Int = 100): Column =
    conv(substring(md5(key.cast(StringType)), 1, 8), 16, 10)
      .cast(LongType) % buckets

  /** Keep ~pct% of rows, deterministically by key. */
  def deterministicSample(df: DataFrame, key: Column, pct: Int): DataFrame =
    df.filter(hashBucket(key) < pct)

  /** Deterministic per-group sample: keep k rows per group, chosen by
    * md5-hash priority (a keyed reservoir without randomness — the
    * "cap documents per source/domain" curation op). With the
    * GraftExtensions rules in place the row_number+filter rewrites to
    * the bounded TopKPerGroup operator, so no full per-group sort runs. */
  def perGroupSample(df: DataFrame, group: Column, key: Column, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(group).orderBy(md5(key.cast(StringType)), key)
    df.withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= k)
  }

  /** Deterministic mixture resampling toward target group shares — the
    * domain-reweighting step of training-corpus assembly (the DoReMi /
    * Pile recipe: fix the source mixture, then sample). The largest
    * total for which no group runs out is T = min_g n_g / share_g; each
    * group then keeps rate r_g = share_g · T / n_g of its rows, chosen
    * by the stable md5-uniform (so the kept set is identical across
    * runs, partitionings and engines — no seeded RNG).
    *
    * Scale shape: group counts are one tiny aggregation, T a broadcast
    * scalar, and the keep decision a scan-stage predicate against the
    * broadcast per-group rate — the corpus itself never shuffles.
    * Output keeps a `keep_rate` column for reporting. */
  def mixToShares(df: DataFrame, group: Column, key: Column,
                  targets: Map[String, Double]): DataFrame = {
    require(targets.values.forall(_ > 0), "target shares must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val t = targets.toSeq.toDF("grp", "share")
    val counts = df.groupBy(group.as("grp")).agg(count(lit(1)).as("n"))
    // T = min_g n_g/share_g as a global window over the counts table —
    // counts has group-cardinality rows (tiny), and the window keeps the
    // whole rate derivation on ONE pass over it (a separate agg +
    // re-join would re-execute the corpus-count subtree)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    val rates = counts.join(t, "grp")
      .withColumn("t_total", min(col("n") / col("share")).over(w))
      .select(col("grp"),
        least(lit(1.0), col("share") * col("t_total") / col("n")).as("keep_rate"))
    df.join(broadcast(rates), group === col("grp"))
      .filter(WeightedSample.hashUniform(key) < col("keep_rate"))
      .drop("grp")
  }

  /** Assign 'test' / 'val' / 'train' split labels by stable hash bucket:
    * buckets [0, testPct) → test, [testPct, testPct+valPct) → val,
    * rest → train. */
  def trainValTest(df: DataFrame, key: Column,
                   valPct: Int = 10, testPct: Int = 10): DataFrame = {
    require(valPct + testPct < 100, "val + test must leave room for train")
    val b = hashBucket(key)
    df.withColumn("split",
      when(b < testPct, lit("test"))
        .when(b < testPct + valPct, lit("val"))
        .otherwise(lit("train")))
  }
}
