package graft.tree

import graft.transform.QuantileBinner
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed decision-tree training with the reference's exact
  * semantics (sol_2/house_predict.py:212-369), re-architected level-wise
  * (PLANET-style) for Spark:
  *
  *  - the driver holds only the tree + per-node class counts;
  *  - one Spark job per level computes, for ALL frontier nodes at once,
  *    per (node, feature, candidate-threshold) cumulative class histograms
  *    (melt features to rows -> groupBy -> ordered window cumsum);
  *  - the driver applies the reference's stopping rules
  *    (house_predict.py:325-334) and tie-breaks (first feature in sampled
  *    order, lowest threshold, strict gain improvement — :310-313), then
  *    routes rows to children with a compiled `when` expression.
  *
  * Exact mode (maxBins=None) searches every distinct value like the
  * reference (:275-283); `maxBins=Some(k)` pre-quantizes features with
  * exact-quantile edges — the 100-TB scalable mode (MLlib-style binning).
  *
  * Known reference bug NOT replicated (SURVEY §7.5): `_get_feature_subset`
  * reseeds identically per call so every node samples the same subset; we
  * seed per node with seed+nodeId.
  */
sealed trait TreeNode
final case class TreeLeaf(label: Long, n: Long, counts: Seq[Long])
    extends TreeNode
final case class TreeSplit(
    feature: String, threshold: Double, left: TreeNode, right: TreeNode)
    extends TreeNode

final case class TreeParams(
    maxDepth: Int = 5,
    minSamplesSplit: Int = 2,
    minSamplesLeaf: Int = 1,
    maxFeatures: Option[String] = None, // None | "sqrt" | "log2" | "<int>"
    criterion: String = "entropy",      // entropy | gini
    seed: Long = 42,
    maxBins: Option[Int] = None)

final case class TreeModel(
    root: TreeNode, features: Seq[String], labels: Seq[Long],
    params: TreeParams) {

  /** Compile the tree to a nested `when` expression — codegen'd scalar
    * inference, ~free at scan speed (reference predicts row-by-row in
    * Python, house_predict.py:371-387). Nulls route right.
    */
  def predictExpr: Column = {
    def go(n: TreeNode): Column = n match {
      case TreeLeaf(l, _, _) => lit(l)
      case TreeSplit(f, t, lft, rgt) =>
        when(col(f) <= lit(t), go(lft)).otherwise(go(rgt))
    }
    go(root)
  }

  def transform(df: DataFrame, out: String = "prediction"): DataFrame =
    df.withColumn(out, predictExpr)

  /** Leaf class distribution as probabilities, aligned with `labels` —
    * richer than the reference's one-hot predict_proba
    * (house_predict.py:389-394; documented divergence, SURVEY §7.5).
    * Same compiled when-chain shape as predictExpr: codegen'd, no UDF.
    */
  def probaExpr: Column = {
    def go(n: TreeNode): Column = n match {
      case TreeLeaf(_, tot, counts) =>
        val t = math.max(tot, 1L).toDouble
        array(counts.map(c => lit(c / t)): _*)
      case TreeSplit(f, t, lft, rgt) =>
        when(col(f) <= lit(t), go(lft)).otherwise(go(rgt))
    }
    go(root)
  }

  /** Probability of a single class (e.g. the positive class, for ROC-AUC
    * over tree scores).
    */
  def probaOf(label: Long): Column = {
    val i = labels.indexOf(label)
    require(i >= 0, s"unknown label $label (labels: $labels)")
    def go(n: TreeNode): Column = n match {
      case TreeLeaf(_, tot, counts) =>
        lit(counts(i) / math.max(tot, 1L).toDouble)
      case TreeSplit(f, t, lft, rgt) =>
        when(col(f) <= lit(t), go(lft)).otherwise(go(rgt))
    }
    go(root)
  }

  /** Per-row decision path (house_predict_model.ipynb cell 14's per-sample
    * path printout) — a compiled when-chain over path-string LITERALS, so
    * inference stays codegen'd with zero per-row string building.
    *
    * `fmt` renders thresholds; the default is Scala's Double.toString.
    * Pass [[TreeModel.fmt6]] for fixed 6-decimal output that is
    * bit-reproducible from SQL `printf('%.6f', t)` (oracle parity).
    */
  def pathExpr(fmt: Double => String = _.toString): Column = {
    def go(n: TreeNode, path: List[String]): Column = n match {
      case TreeLeaf(l, _, _) =>
        lit((if (path.isEmpty) "(root)" else path.reverse.mkString(" AND "))
          + s" => label=$l")
      case TreeSplit(f, t, lft, rgt) =>
        when(col(f) <= lit(t), go(lft, s"$f <= ${fmt(t)}" :: path))
          .otherwise(go(rgt, s"$f > ${fmt(t)}" :: path))
    }
    go(root, Nil)
  }

  /** Split-count importance, normalized (house_predict.py:396-418). */
  def importance: Seq[(String, Double)] = {
    def counts(n: TreeNode): Map[String, Int] = n match {
      case TreeLeaf(_, _, _) => Map.empty
      case TreeSplit(f, _, l, r) =>
        (counts(l).toSeq ++ counts(r).toSeq ++ Seq(f -> 1))
          .groupMapReduce(_._1)(_._2)(_ + _)
    }
    val c = counts(root)
    val tot = c.values.sum.toDouble.max(1.0)
    features.map(f => f -> c.getOrElse(f, 0) / tot)
  }

  /** Textual decision rules (house_predict_model.ipynb cell 14). */
  def rules: Seq[String] = {
    def go(n: TreeNode, path: List[String]): Seq[String] = n match {
      case TreeLeaf(l, cnt, _) =>
        Seq((if (path.isEmpty) "(root)" else path.reverse.mkString(" AND "))
          + s" => label=$l (n=$cnt)")
      case TreeSplit(f, t, lft, rgt) =>
        go(lft, s"$f <= $t" :: path) ++ go(rgt, s"$f > $t" :: path)
    }
    go(root, Nil)
  }

  def depth: Int = {
    def d(n: TreeNode): Int = n match {
      case TreeLeaf(_, _, _)     => 0
      case TreeSplit(_, _, l, r) => 1 + math.max(d(l), d(r))
    }
    d(root)
  }
}

object TreeModel {
  /** Locale-stable fixed 6-decimal threshold formatter (= SQL
    * `printf('%.6f', t)` for the non-tie doubles this engine produces).
    */
  def fmt6(t: Double): String =
    String.format(java.util.Locale.ROOT, "%.6f", Double.box(t))
}

object DecisionTree {

  /** Impurity of class-count columns (matching reference vectorized
    * entropy/gini, house_predict.py:228-245). Count/total columns must be
    * integer-typed; division yields identical doubles in Spark and DuckDB,
    * making the gain table oracle-checkable.
    */
  def impurityExpr(counts: Seq[Column], n: Column, criterion: String): Column =
    criterion match {
      case "entropy" =>
        -counts.map(c => when(c > 0, (c / n) * log2(c / n)).otherwise(0.0))
          .reduce(_ + _)
      case "gini" =>
        lit(1.0) - counts.map(c => (c / n) * (c / n)).reduce(_ + _)
      case other => throw new IllegalArgumentException(s"criterion $other")
    }

  /** Per (node, feature, threshold) split statistics + information gain
    * for all frontier nodes in ONE aggregation pass.
    *
    * Input must have columns: __node (int), label (long), plus features.
    * Output: (__node, feat, threshold, ln, tn, gain, l_ci.., t_ci..) where
    * ln/l_ci are cumulative (x <= threshold) counts and tn/t_ci node
    * totals. Rows violating minSamplesLeaf are pre-filtered; the row for
    * the max value (empty right child) drops out via tn-ln >= msl, and the
    * MIN distinct value is never a candidate — the reference iterates
    * `unique_values[1:]` (house_predict.py:283).
    *
    * Null feature values are excluded from the histograms (and from gain):
    * at routing/inference time `x <= thr` is null for them, so they fall
    * to the RIGHT child; child counts stay consistent because the right
    * child's counts are computed as (node total - left counts).
    */
  def splitStats(
      cur: DataFrame, features: Seq[String], labels: Seq[Long],
      criterion: String, minSamplesLeaf: Int): DataFrame = {
    val stackExpr = explode(array(features.map(f =>
      struct(lit(f).as("feat"), col(f).cast("double").as("value"))): _*))
    val melted = cur.select(col("__node"), col("label"), stackExpr.as("fv"))
      .select(col("__node"), col("label"), col("fv.feat"), col("fv.value"))
      .filter(col("value").isNotNull)
    val classAggs = labels.zipWithIndex.map { case (l, i) =>
      sum(when(col("label") === l, 1L).otherwise(0L)).as(s"c$i")
    }
    val grouped = melted.groupBy("__node", "feat", "value")
      .agg(count(lit(1)).as("n"), classAggs: _*)
    val wCum = Window.partitionBy("__node", "feat").orderBy("value")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy("__node", "feat")
    val cums = labels.indices.foldLeft(
      grouped
        .withColumn("ln", sum("n").over(wCum))
        .withColumn("tn", sum("n").over(wAll))) { (df, i) =>
      df.withColumn(s"l_c$i", sum(s"c$i").over(wCum))
        .withColumn(s"t_c$i", sum(s"c$i").over(wAll))
    }
    val lCounts = labels.indices.map(i => col(s"l_c$i"))
    val rCounts = labels.indices.map(i => col(s"t_c$i") - col(s"l_c$i"))
    val tCounts = labels.indices.map(i => col(s"t_c$i"))
    val rn = col("tn") - col("ln")
    val hp = impurityExpr(tCounts, col("tn"), criterion)
    val hl = impurityExpr(lCounts, col("ln"), criterion)
    val hr = impurityExpr(rCounts, rn, criterion)
    cums
      .withColumn("__vmin", min("value").over(wAll))
      .filter(col("value") > col("__vmin") &&
        col("ln") >= minSamplesLeaf && rn >= minSamplesLeaf)
      .drop("__vmin")
      .withColumn(
        "gain", hp - (col("ln") / col("tn")) * hl - (rn / col("tn")) * hr)
      .withColumnRenamed("value", "threshold")
  }

  /** Root-level gain table for one feature — the trainer's core
    * aggregation exposed for the differential oracle.
    */
  def rootGains(
      df: DataFrame, feature: String, labelCol: String, labels: Seq[Long],
      criterion: String = "entropy", minSamplesLeaf: Int = 1): DataFrame =
    splitStats(
      df.select(
        lit(0).as("__node"), col(labelCol).cast("long").as("label"),
        col(feature)),
      Seq(feature), labels, criterion, minSamplesLeaf)
      .select(col("threshold"), col("ln"), col("tn"), col("gain"))

  def fit(
      input: DataFrame, features: Seq[String], labelCol: String,
      params: TreeParams): TreeModel = {

    // Optional scalable mode: pre-quantize features, train on bucket
    // codes, map thresholds back to bucket upper edges at the end.
    val (df0, thresholdOf): (DataFrame, (String, Double) => Double) =
      params.maxBins match {
        case None => (input, (_, v) => v)
        case Some(k) =>
          // one wide agg fits every feature's quantile edges (fitMany);
          // per-feature fit would cost one full scan per feature
          val fitted = QuantileBinner.fitMany(input, features.map(_ -> k))
          val models = features.map(f => f -> fitted(f))
          // replace each feature with its bucket code; a split at code c
          // equals "value <= edges(c+1)" (right-closed buckets)
          val binned = models.foldLeft(input) { case (d, (f, m)) =>
            d.withColumn(f, m.expr)
          }
          val edgeMap = models.toMap
          (binned, (f, code) => edgeMap(f).edges(code.toInt + 1))
      }

    // the label set and the root's class counts come from one action
    val (labels, rootCounts) = df0
      .groupBy(col(labelCol).cast("long").as("label")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toSeq.unzip

    val nFeat = params.maxFeatures match {
      case None          => features.size
      case Some("sqrt")  => math.sqrt(features.size).toInt.max(1)
      case Some("log2")  => (math.log(features.size) / math.log(2)).toInt.max(1)
      case Some(k)       => k.toInt.min(features.size).max(1)
    }

    def sampleFeatures(nodeId: Int): Seq[String] =
      if (nFeat >= features.size) features
      else {
        val rng = new scala.util.Random(params.seed + nodeId)
        rng.shuffle(features.toList).take(nFeat)
      }

    def leafOf(counts: Seq[Long]): TreeLeaf = {
      val best = counts.zipWithIndex.maxBy { case (c, i) => (c, -i) }._2
      TreeLeaf(labels(best), counts.sum, counts)
    }

    // nodeId -> decided subtree piece
    val leaves = scala.collection.mutable.Map[Int, TreeLeaf]()
    val splits = scala.collection.mutable.Map[Int, (String, Double)]()
    var frontier: Map[Int, Seq[Long]] = Map(0 -> rootCounts)
    // materialized by the level-0 stats pass, like every routed child
    var cur = df0
      .select((features.map(col) :+
        col(labelCol).cast("long").as("label") :+
        lit(0).as("__node")): _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // parent frame whose persisted blocks are still feeding the (lazily
    // materialized) child: unpersisted only after the child's first
    // action (r17 — the explicit per-level count() materialization was a
    // full extra pass over the routed data at every depth)
    var pendingPrev: Option[DataFrame] = None

    try {
      for (depth <- 0 to params.maxDepth if frontier.nonEmpty) {
        // stopping rules (house_predict.py:325-334)
        val (stopNow, searchable) = frontier.partition { case (_, counts) =>
          depth >= params.maxDepth ||
            counts.sum < params.minSamplesSplit ||
            counts.count(_ > 0) <= 1
        }
        stopNow.foreach { case (id, c) => leaves(id) = leafOf(c) }

        if (searchable.nonEmpty) {
          val ids = searchable.keys.toSeq.sorted
          val active = cur.filter(col("__node").isin(ids: _*))
          val featsByNode = ids.map(id => id -> sampleFeatures(id)).toMap
          val usedFeats = featsByNode.values.flatten.toSeq.distinct
          val stats = splitStats(
            active, usedFeats, labels, params.criterion, params.minSamplesLeaf)
          // best candidate per (node, feature): max gain, lowest threshold
          val w = Window.partitionBy("__node", "feat")
            .orderBy(desc("gain"), asc("threshold"))
          val best = stats.withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1).drop("__rn")
            .collect()
            .map { r =>
              (r.getAs[Int]("__node"), r.getAs[String]("feat")) ->
                (r.getAs[Double]("threshold"), r.getAs[Double]("gain"),
                  labels.indices.map(i => r.getAs[Long](s"l_c$i")))
            }.toMap
          // this level's stats pass has materialized `cur`'s persisted
          // blocks — the parent's are no longer needed
          pendingPrev.foreach(_.unpersist())
          pendingPrev = None

          var next = Map.empty[Int, Seq[Long]]
          val routed = scala.collection.mutable.ArrayBuffer[(Int, String, Double)]()
          searchable.foreach { case (id, counts) =>
            // first feature in sampled order wins on strict gain improvement
            var bestGain = 0.0
            var chosen: Option[(String, Double, Seq[Long])] = None
            featsByNode(id).foreach { f =>
              best.get((id, f)).foreach { case (thr, gain, lc) =>
                if (gain > bestGain) { bestGain = gain; chosen = Some((f, thr, lc)) }
              }
            }
            chosen match {
              case None => leaves(id) = leafOf(counts)
              case Some((f, thrRaw, lc)) =>
                val thr = thrRaw // still in (possibly binned) training units
                splits(id) = (f, thr)
                routed += ((id, f, thr))
                next += (2 * id + 1) -> lc
                next += (2 * id + 2) -> counts.zip(lc).map { case (t, l) => t - l }
            }
          }

          if (routed.nonEmpty) {
            val routeExpr = routed.foldLeft(col("__node")) {
              case (e, (id, f, thr)) =>
                when(col("__node") === id,
                  when(col(f).cast("double") <= thr, lit(2 * id + 1))
                    .otherwise(lit(2 * id + 2))).otherwise(e)
            }
            val prev = cur
            cur = cur.filter(col("__node").isin(routed.map(_._1).toSeq: _*))
              .withColumn("__node", routeExpr)
              .persist(StorageLevel.MEMORY_AND_DISK)
            // no explicit count: the NEXT level's stats pass materializes
            // the child (the useful work), and only then is the parent
            // released (pendingPrev)
            pendingPrev = Some(prev)
          }
          frontier = next
        } else {
          frontier = Map.empty
        }
      }
    } finally {
      // also on a throw: a failed fit must not leave its frames cached
      cur.unpersist()
      pendingPrev.foreach(_.unpersist()) // loop may end before a next pass
    }
    frontier.foreach { case (id, c) => leaves(id) = leafOf(c) } // safety

    def build(id: Int): TreeNode =
      splits.get(id) match {
        case Some((f, thr)) =>
          TreeSplit(f, thresholdOf(f, thr), build(2 * id + 1), build(2 * id + 2))
        case None => leaves(id)
      }
    TreeModel(build(0), features, labels, params)
  }
}
