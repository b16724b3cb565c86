package graft.pipeline

import graft.metrics.Metrics
import graft.split.Splits
import graft.transform._
import graft.tree.{DecisionTree, TreeModel, TreeParams}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap

/** End-to-end reproduction of the reference's canonical pipeline
  * (house_predict.py `__main__`, traced in SURVEY §3 entry point 1):
  *
  *   scan -> preprocess (label-encode 3 categoricals fit on train∪test,
  *   per-column equal-width/quantile binning, 7 derived features, quantile
  *   binning of derived ratios) -> stratified 80/20 split -> decision-tree
  *   fit -> accuracy + macro-F1 -> test predictions -> submission table.
  *
  * Preprocessing fits every model from the raw frames in three actions
  * and applies them all in one projection per frame (no join, window or
  * exchange), so later stages never re-run a fit's plan; the tree is the
  * level-wise trainer. Binning/encoding configs are parameters (the
  * reference hard-codes them, house_predict.py:22-56); `referenceYear` is
  * parameterized per SURVEY §7.4.6.
  */
object HousePipeline {

  sealed trait Strategy
  case object EqualWidth extends Strategy
  case object Quantile extends Strategy

  final case class Config(
      categoricals: Seq[String] =
        Seq("country", "property_type", "furnishing_status"),
      binning: Seq[(String, Strategy, Int)] = Seq(
        ("price", Quantile, 8),
        ("loan_amount", EqualWidth, 8),
        ("down_payment", EqualWidth, 8),
        ("customer_salary", Quantile, 8),
        ("monthly_expenses", Quantile, 8),
        ("emi_to_income_ratio", Quantile, 8)),
      derivedBinning: Seq[(String, Strategy, Int)] = Seq(
        ("affordability_ratio", Quantile, 8),
        ("loan_to_value", Quantile, 8),
        ("down_payment_ratio", Quantile, 8),
        ("payment_capacity", Quantile, 8)),
      passthrough: Seq[String] = Seq(
        "property_size_sqft", "constructed_year", "previous_owners", "rooms",
        "bathrooms", "garage", "garden", "crime_cases_reported",
        "legal_cases_on_property", "loan_tenure_years", "satisfaction_score",
        "neighbourhood_rating", "connectivity_score"),
      referenceYear: Int = 2025,
      splitFrac: Double = 0.8,
      seed: Long = 42,
      tree: TreeParams = TreeParams(
        maxDepth = 8, minSamplesSplit = 50, minSamplesLeaf = 25,
        maxFeatures = Some("sqrt"), criterion = "entropy"))

  final case class Result(
      submission: DataFrame,      // (id, label) for the test table
      valAccuracy: Double,
      valMacroF1: Double,
      model: TreeModel,
      featureCols: Seq[String])

  /** Fit-on-train / transform-both preprocessing (house_predict.py:109-208).
    *
    * Every model is fit from the raw frames, so no fit re-runs another
    * fit's plan: the label encoders on train∪test (a size probe and one
    * vocabulary collect for all categoricals), and all binning specs of
    * both blocks in one [[QuantileBinner.fitMany]] over train plus the
    * derived block. An equal-width spec joins that call with k = 1: its
    * edges are then exactly the column's min and max, which is all
    * [[EqualWidthBinner.fromMinMax]] needs. Each frame then gets every
    * code, bin and derived column in one projection. The bins of derived
    * columns apply to the derived expressions themselves, since a
    * projection cannot read the columns it adds.
    */
  def preprocess(
      train: DataFrame, test: DataFrame, cfg: Config)
      : (DataFrame, DataFrame, Seq[String]) = {
    val specs = cfg.binning ++ cfg.derivedBinning
    // fitMany keys by column name, so a column listed twice would
    // silently reuse one model for both specs
    require(specs.map(_._1).distinct.size == specs.size,
      s"duplicate column in binning specs: ${specs.map(_._1)}")

    val catUnion = train.select(cfg.categoricals.map(col): _*)
      .unionByName(test.select(cfg.categoricals.map(col): _*))
    val encoders = LabelEncoder.fitMany(catUnion, cfg.categoricals)

    val derived = Features.houseScriptBlock(cfg.referenceYear)
    val bins = QuantileBinner.fitMany(Features.derive(train, derived),
      specs.map {
        case (c, Quantile, k)   => c -> k
        case (c, EqualWidth, _) => c -> 1
      })
    val binModels = specs.map {
      case (c, Quantile, _)   => c -> bins(c)
      case (c, EqualWidth, k) =>
        val e = bins(c).edges
        c -> EqualWidthBinner.fromMinMax(c, k, e.head, e.last)
    }.toMap
    val derivedOf = derived.toMap
    val binned =
      cfg.binning.map { case (c, _, _) => s"${c}_binned" -> binModels(c).expr } ++
        cfg.derivedBinning.map { case (c, _, _) =>
          s"${c}_binned" -> binModels(c).exprOf(derivedOf.getOrElse(c, col(c)))
        }
    // small-vocabulary codes are projections too, which the optimizer
    // collapses into this one
    def apply(df: DataFrame): DataFrame =
      encoders.foldLeft(df)((d, m) => m.transform(d, s"${m.column}_encoded"))
        .withColumns(ListMap(derived ++ binned: _*))

    val featureCols =
      cfg.categoricals.map(c => s"${c}_encoded") ++
        cfg.binning.map { case (c, _, _) => s"${c}_binned" } ++
        Seq("property_age", "risk_score", "quality_score") ++
        cfg.derivedBinning.map { case (c, _, _) => s"${c}_binned" } ++
        cfg.passthrough
    (apply(train), apply(test), featureCols)
  }

  def run(train: DataFrame, test: DataFrame, cfg: Config = Config()): Result = {
    val (tr, te, feats) = preprocess(train, test, cfg)
    val split = Splits.stratifiedSplit(tr, "label", cfg.splitFrac, cfg.seed)
      .persist()
    try {
      val fitSet = split.filter(col("split") === 0)
      val valSet = split.filter(col("split") === 1)
      val model = DecisionTree.fit(fitSet, feats, "label", cfg.tree)
      val scored = model.transform(valSet, "pred")
        .select(col("label").cast("long").as("label"), col("pred"))
      // one action for both validation metrics (r17): accuracy and macro-F1
      // aggregate the same scored frame — crossJoin the two 1-row results
      // so the frame is computed once (the rf_train_eval shape)
      val mRow = Metrics.accuracy(scored, "label", "pred")
        .crossJoin(Metrics.macroAvg(scored, "label", "pred")).head()
      val acc = mRow.getDouble(0)
      val f1 = mRow.getAs[Double]("macro_f1")
      val submission = model.transform(te, "label").select("id", "label")
      Result(submission, acc, f1, model, feats)
    } finally split.unpersist()
  }
}
