package graft

/** Dev utility (not part of the driver contract): phase-level timers for
  * the MLlib/pipeline gates, to attribute fixed fit overhead vs data work.
  * Usage: runMain graft.GateProbe [sol2|house]
  */
object GateProbe {
  private def t[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    System.err.println(f"[probe] $label ${(System.nanoTime() - t0) / 1e9}%.2f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val which = args.headOption.getOrElse("sol2")
    val spark = GraftSession.build()
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }

    which match {
      case "sol2" =>
        import graft.pipeline._
        import graft.model.Models
        import graft.split.Splits
        import graft.transform.{Features, LabelEncoder}
        import org.apache.spark.sql.functions._
        val prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        val train = t("synth")(HouseSynth.labeled(spark, 1000, seed = 21))
        val cfg = Sol2Pipeline.Config(cvFolds = 2, rfNumTrees = 3, gbtMaxIter = 3)
        var df = t("features")(
          Features.derive(train, Features.houseNotebookBlock(cfg.referenceYear)))
        t("encoders") {
          cfg.categoricals.foreach { c =>
            df = LabelEncoder.fit(df, c).transform(df, s"${c}_encoded")
          }
        }
        val feats = cfg.categoricals.map(c => s"${c}_encoded") ++ Seq(
          "property_size_sqft", "price", "rooms", "bathrooms",
          "customer_salary", "loan_amount", "monthly_expenses", "down_payment",
          "emi_to_income_ratio", "satisfaction_score", "neighbourhood_rating",
          "connectivity_score",
          "affordability_ratio", "loan_to_value", "property_age",
          "payment_capacity", "down_payment_ratio", "risk_score",
          "quality_score", "price_to_salary_ratio", "loan_to_price_ratio",
          "affordability_score", "price_per_sqft", "rooms_per_sqft",
          "expense_ratio", "loan_tenure_risk", "property_quality_score",
          "total_risk_score")
        val split = t("split+persist") {
          val sp = Splits.stratifiedSplit(df, "label", cfg.splitFrac, cfg.seed)
            .persist()
          sp.count(); sp
        }
        val fitSet = split.filter(col("split") === 0)
        val valSet = split.filter(col("split") === 1)
        val report = t("comparisonReport(logreg+rf+gbt)") {
          Models.comparisonReport(fitSet, valSet, "label", Seq(
            "logreg" -> Models.logReg(feats, "label", regParam = 0.01,
              elasticNet = 1.0, maxIter = 10),
            "random_forest" -> Models.randomForest(feats, "label",
              numTrees = cfg.rfNumTrees, maxDepth = 5, seed = cfg.seed),
            "gbt" -> Models.gbt(feats, "label", maxIter = cfg.gbtMaxIter,
              maxDepth = 3, seed = cfg.seed)))
        }
        t("report.head")(report.head())
        val rfPipeline = Models.randomForest(feats, "label",
          numTrees = cfg.rfNumTrees, maxDepth = 5, seed = cfg.seed)
        val rf = rfPipeline.getStages.last
          .asInstanceOf[org.apache.spark.ml.classification.RandomForestClassifier]
        val grid = new org.apache.spark.ml.tuning.ParamGridBuilder()
          .addGrid(rf.maxDepth, Array(3, 5)).build()
        val cv = t("crossValidate(2x2+refit)") {
          Models.crossValidate(fitSet, "label", rfPipeline, grid,
            numFolds = cfg.cvFolds, seed = cfg.seed)
        }
        t("cv transform+eval") {
          val cvScored = cv.transform(valSet)
            .selectExpr("CAST(label AS LONG) AS label",
              "CAST(prediction AS LONG) AS pred")
          new graft.model.MacroF1Evaluator().setLabelCol("label")
            .setPredictionCol("pred").evaluate(cvScored)
        }
        split.unpersist()
        spark.conf.set("spark.sql.shuffle.partitions", prev)
      case "house" =>
        import graft.pipeline._
        import graft.split.Splits
        import graft.metrics.Metrics
        import graft.tree.DecisionTree
        import org.apache.spark.sql.functions._
        val prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        val train = t("synth")(HouseSynth.labeled(spark, 2000, seed = 11))
        val test = t("synth test")(HouseSynth.synth(spark, 800, idBase = 200000, seed = 12))
        val cfg = graft.queries.PipelineQueries.houseGateConfig
        val (tr, te, feats) = t("preprocess")(HousePipeline.preprocess(train, test, cfg))
        val split = t("split+persist") {
          val sp = Splits.stratifiedSplit(tr, "label", cfg.splitFrac, cfg.seed).persist()
          sp.count(); sp
        }
        val fitSet = split.filter(col("split") === 0)
        val valSet = split.filter(col("split") === 1)
        val model = t("tree fit")(DecisionTree.fit(fitSet, feats, "label", cfg.tree))
        val scored = model.transform(valSet, "pred")
          .select(col("label").cast("long").as("label"), col("pred"))
        t("metrics") {
          Metrics.accuracy(scored, "label", "pred")
            .crossJoin(Metrics.macroAvg(scored, "label", "pred")).head()
        }
        t("submission hist") {
          model.transform(te, "label").select("id", "label")
            .groupBy("label").agg(count(lit(1))).collect()
        }
        split.unpersist()
        spark.conf.set("spark.sql.shuffle.partitions", prev)
      case other =>
        System.err.println(s"unknown probe: $other")
    }
    spark.stop()
  }
}
