package graft.transform

import graft.Q
import graft.expressions.VocabLookup
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Label encoding: string -> dense int code with sklearn semantics
  * (alphabetical vocabulary order; unseen category -> -1). Reference:
  * house_predict.py:118-127 (fit on train∪test) and Sol_2.ipynb cell 4
  * (fit=False path mapping unseen to -1).
  *
  * Both paths code a value by its rank in Spark's string order among the
  * distinct non-null values of the fit frame, with the column cast to
  * string as fit casts it (the oracles' dense_rank over distinct).
  */
sealed trait LabelEncodeModel {
  def column: String

  /** Adds `out` = dense code of `column`, -1 when unseen/null. */
  def transform(df: DataFrame, out: String): DataFrame
}

/** Small vocabulary, collected in code order: transform is
  * one [[VocabLookup]] expression, so applying the encoder adds no join,
  * window or exchange to the plan.
  */
final case class SmallVocabModel(column: String, vocab: IndexedSeq[String])
    extends LabelEncodeModel {
  def transform(df: DataFrame, out: String): DataFrame =
    df.withColumn(out, VocabLookup.lookup(col(column).cast("string"), vocab))
}

/** Large vocabulary as a (value, __code) frame that never leaves the
  * executors: transform is a broadcast equi-join + coalesce(-1).
  */
final case class LargeVocabModel(column: String, vocab: DataFrame)
    extends LabelEncodeModel {
  def transform(df: DataFrame, out: String): DataFrame =
    df.join(
        broadcast(vocab.withColumnRenamed("value", "__vocab_value")),
        col(column).cast("string") === col("__vocab_value"), "left")
      .withColumn(out, coalesce(col("__code"), lit(-1)))
      .drop("__vocab_value", "__code")
}

object LabelEncoder {
  /** Vocabularies at or below this size are collected and coded by a
    * lookup expression. Its map is serialized into the task binary of
    * every stage that applies the encoder: 10,000 values of 13 bytes take
    * 360 KB, under Spark's 1 MB large-task warning, where a million take
    * 36 MB.
    */
  val SmallVocab = 10000L

  /** Fit = sorted distinct non-null values -> codes 0..k-1, size-gated:
    *
    *  - small vocab (≤ [[SmallVocab]] distinct values): collect the
    *    distinct values and sort them in Spark's string order; the model
    *    is a [[SmallVocabModel]].
    *  - large vocab: range-repartition the distinct set (parallel sort),
    *    freeze the partitioning with an eager localCheckpoint, then code =
    *    per-partition `row_number` + a broadcast cumulative-offset join
    *    keyed on `spark_partition_id()`. No single-task window, no RDD
    *    seam; the checkpoint pins partition boundaries so codes are
    *    stable across re-executions.
    *
    * Order (and therefore every code) is identical between the paths.
    */
  def fit(
      df: DataFrame, column: String,
      smallVocabThreshold: Long = SmallVocab): LabelEncodeModel =
    fitMany(df, Seq(column), smallVocabThreshold).head

  /** Fit over train∪test (house_predict.py:123). */
  def fitConcat(a: DataFrame, b: DataFrame, column: String): LabelEncodeModel =
    fit(a.select(column).unionByName(b.select(column)), column)

  /** Batched fit over one distinct (column, value) set of every column:
    * one action counts each vocabulary (the small-vs-large gate) and one
    * collects every small vocabulary — two actions for any number of
    * categoricals.
    */
  def fitMany(
      df: DataFrame, columns: Seq[String],
      smallVocabThreshold: Long = SmallVocab): Seq[LabelEncodeModel] = {
    if (columns.isEmpty) return Seq.empty
    val pairs = df
      .select(explode(array(columns.zipWithIndex.map { case (c, i) =>
        struct(lit(i).as("g"), col(c).cast("string").as("v")) }: _*))
        .as("gv"))
      .select("gv.g", "gv.v")
      .filter(col("v").isNotNull)
      .distinct()
    val sizes = pairs.groupBy("g").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val small = columns.indices
      .filter(i => sizes.getOrElse(i, 0L) <= smallVocabThreshold)
    // with every column small, the collect's first stage is the probe's
    // verbatim, so its generated code comes from the codegen cache
    val vocabs =
      if (small.isEmpty) Map.empty[Int, Array[Row]]
      else (if (small.size == columns.size) pairs
            else pairs.filter(col("g").isin(small: _*)))
        .collect().groupBy(_.getInt(0))
    columns.zipWithIndex.map { case (c, i) =>
      if (!small.contains(i)) fitLarge(df, c)
      else SmallVocabModel(c, vocabs.getOrElse(i, Array.empty[Row])
        // Spark's string order, so code k is the value ORDER BY puts k-th
        .map(r => UTF8String.fromString(r.getString(1)))
        .sortWith(_.compareTo(_) < 0)
        .map(_.toString).toIndexedSeq)
    }
  }

  private def fitLarge(df: DataFrame, column: String): LargeVocabModel = {
    val spark = df.sparkSession
    import spark.implicits._
    val parts = spark.sparkContext.defaultParallelism.max(2)
    val sorted = df
      .select(col(column).cast("string").as("value"))
      .filter(col("value").isNotNull)
      .distinct()
      .repartitionByRange(parts, col("value"))
      .sortWithinPartitions("value")
      .localCheckpoint() // eager: pins range boundaries + pid mapping
    val sizes = sorted
      .groupBy(spark_partition_id().as("__pid"))
      .agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets =
      sizes.map(_._1).zip(sizes.map(_._2).scanLeft(0L)(_ + _).init)
    val offDf = broadcast(offsets.toSeq.toDF("__pid", "__off"))
    val wLocal = Window.partitionBy("__pid").orderBy("value")
    LargeVocabModel(column, sorted
      .withColumn("__pid", spark_partition_id())
      .withColumn("__rn", row_number().over(wLocal))
      .join(offDf, Seq("__pid"))
      .select(col("value"),
        (col("__off") + col("__rn") - 1).cast("int").as("__code")))
  }
}

/** Standardization (x-mean)/std. sklearn's StandardScaler uses the biased
  * population std (ddof=0) — Sol_2.ipynb cell 5; pandas describe uses
  * ddof=1. Moments are computed from exact scaled-integer sums so the
  * transform is deterministic under any partitioning.
  */
final case class StandardizeModel(
    column: String, mean: Double, std: Double) {
  def transform(df: DataFrame, out: String): DataFrame =
    df.withColumn(out, Q.r6((col(column) - mean) / std))
}

object Standardizer {
  def fit(
      df: DataFrame, column: String, decimals: Int = 2,
      ddof: Int = 0): StandardizeModel = {
    import graft.stats.Stats.scaled
    val scale = math.pow(10, decimals)
    val r = df
      .agg(
        sum(scaled(col(column), decimals)).as("s1"),
        // x is an integer-valued double with x^2 < 2^53 here, so the
        // product IS the exact square pow() would return (r16: avoid
        // Math.pow per row)
        sum({ val x = scaled(col(column), decimals).cast("double"); x * x })
          .as("s2"),
        count(col(column)).as("n"))
      .head()
    val n = r.getLong(2).toDouble
    val mean = r.getLong(0) * 1.0 / n
    val variance = (r.getDouble(1) / n - mean * mean) * n / (n - ddof)
    StandardizeModel(column, mean / scale, math.sqrt(variance) / scale)
  }
}

/** Supervised categorical encodings — the two feature transforms a
  * scorecard / GBM pipeline fits per category against a target, computed
  * as single grouped aggregations (one shuffle over category cardinality,
  * never over rows) so they hold at any corpus size.
  *
  * Determinism: category/fold counts and target sums are exact integers;
  * every double (WoE's ln, the smoothed mean) is one fixed closed-form
  * expression over those integers, mirrored verbatim in the oracles.
  * Cross-category totals are carried in integer micro-units (the
  * [[graft.stats.Stats.psiDeciles]] convention) so sums are
  * order-independent.
  */
object SupervisedEncoding {

  /** Weight-of-evidence per category against a boolean target, plus the
    * information-value decomposition: woe = ln(((n_pos+0.5)/T_pos) /
    * ((n_neg+0.5)/T_neg)) (the standard half-event adjustment keeps
    * zero-event categories finite) and iv_term = (n_pos/T_pos −
    * n_neg/T_neg)·woe, emitted in integer micro-units with the
    * order-independent grand total alongside.
    */
  def woeIv(df: DataFrame, cat: Column, isPos: Column): DataFrame = {
    val per = df
      .select(cat.as("category"), when(isPos, 1L).otherwise(0L).as("y"))
      .groupBy("category")
      .agg(
        count(lit(1)).as("n"),
        sum("y").as("n_pos"),
        (count(lit(1)) - sum("y")).as("n_neg"))
    val all = Window.partitionBy()
    val base = per.select(
      col("category"), col("n"), col("n_pos"), col("n_neg"),
      sum("n_pos").over(all).as("t_pos"),
      sum("n_neg").over(all).as("t_neg"))
    val woeRaw = log(
      ((col("n_pos") + 0.5) / col("t_pos")) /
        ((col("n_neg") + 0.5) / col("t_neg")))
    val term = (col("n_pos") * 1.0 / col("t_pos") -
      col("n_neg") * 1.0 / col("t_neg")) * woeRaw
    val termMicro = (floor(abs(term) * 1e6 + 0.5).cast("long") *
      when(term > 0, 1L).when(term < 0, -1L).otherwise(0L))
      .as("iv_term_micro")
    base
      .select(col("category"), col("n"), col("n_pos"), col("n_neg"),
        Q.r6(woeRaw).as("woe"), termMicro)
      .withColumn("iv_micro", sum("iv_term_micro").over(all))
      .orderBy("category")
  }

  /** Leak-free out-of-fold target encoding: for fold f of category c the
    * encoding is the smoothed target mean over c's rows OUTSIDE f —
    * (cat_sum − fold_sum + m·global_mean) / (cat_n − fold_n + m) — the
    * standard CV-safe mean encoding (no row sees its own target). Emits
    * the complete (category, fold) lookup table, which IS the row-level
    * transform (a broadcast join away), in original units (cents/100).
    * `valueCents` must be an exact integer grid ([[Q.cents]]).
    */
  def targetEncodeOof(
      df: DataFrame, cat: Column, valueCents: Column, fold: Column,
      priorWeight: Int): DataFrame = {
    val per = df
      .select(cat.as("category"), fold.as("fold"),
        valueCents.cast("long").as("v"))
      .groupBy("category", "fold")
      .agg(count(lit(1)).as("n"), sum("v").as("s"))
    val byCat = Window.partitionBy("category")
    val all = Window.partitionBy()
    val gmean = sum("s").over(all) * 1.0 / sum("n").over(all)
    val enc = (sum("s").over(byCat) - col("s") +
      lit(priorWeight) * gmean) /
      (sum("n").over(byCat) - col("n") + lit(priorWeight))
    per
      .select(col("category"), col("fold"), col("n"),
        Q.r6(enc / 100.0).as("enc"))
      .orderBy("category", "fold")
  }
}
