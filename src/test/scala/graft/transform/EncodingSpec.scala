package graft.transform

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

class EncodingSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  test("label encoding is alphabetical (sklearn parity), unseen -> -1") {
    val train = Seq("banana", "apple", "cherry", "apple").toDF("fruit")
    val test = Seq("cherry", "durian", "apple").toDF("fruit")
    val m = LabelEncoder.fit(train, "fruit")
    val got = m.transform(test, "code")
      .select("fruit", "code").as[(String, Int)].collect().toMap
    assert(got == Map("apple" -> 0, "cherry" -> 2, "durian" -> -1))
  }

  test("fitConcat covers categories from both tables") {
    val a = Seq("x").toDF("c")
    val b = Seq("y").toDF("c")
    val m = LabelEncoder.fitConcat(a, b, "c")
    val got = m.transform(b, "code").select("code").as[Int].head()
    assert(got == 1) // x -> 0, y -> 1
  }

  test("large-vocab offset path assigns identical codes to the lookup path") {
    val vals = scala.util.Random.shuffle((0 until 500).map(i => f"v$i%04d"))
    val df = vals.toDF("c")
    val small = LabelEncoder.fit(df, "c") match {
      case m: SmallVocabModel => m
      case other              => fail(s"expected the lookup path: $other")
    }
    val large = LabelEncoder.fit(df, "c", smallVocabThreshold = 0L) match {
      case m: LargeVocabModel => m
      case other              => fail(s"expected the range path: $other")
    }
    val sm = small.vocab.zipWithIndex.toMap
    val lg = large.vocab.as[(String, Int)].collect().toMap
    assert(lg == sm)
    assert(sm.size == 500 && sm(f"v${0}%04d") == 0 && sm(f"v${499}%04d") == 499)
    // codes stay stable across re-executions of the vocab plan
    assert(large.vocab.as[(String, Int)].collect().toMap == lg)
  }

  test("lookup path: unseen and null map to -1, and no join is planned") {
    val train = Seq("b", "a", null).toDF("c")
    val test = Seq(Some("a"), None, Some("z"), Some("b")).toDF("c")
    val m = LabelEncoder.fit(train, "c")
    assert(m.isInstanceOf[SmallVocabModel])
    val out = m.transform(test, "code")
    assert(out.select("code").as[Int].collect().toSeq == Seq(0, -1, -1, 1))
    val plan = out.queryExecution.optimizedPlan
    assert(plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.isEmpty, plan.treeString)
  }

  test("lookup path casts a non-string column the way fit does") {
    // fit codes the string forms: "10" < "100" < "9"
    val m = LabelEncoder.fit(Seq(10, 9, 100).toDF("n"), "n")
    val got = m.transform(Seq(9L, 10L, 7L, 100L).toDF("n"), "code")
      .select("code").as[Int].collect().toSeq
    assert(got == Seq(2, 0, -1, 1))
  }

  test("lookup codes equal the range-path codes, in Spark's string order") {
    // U+FFFD sorts before U+1F600 in UTF-8 byte order but after it in
    // UTF-16 order, so a JVM String sort would swap their codes
    val vals = Seq("\uFFFD", "\uD83D\uDE00", "z", "\u00e9", "A", "a", "") ++
      (0 until 200).map(i => s"w$i")
    val fitDf = scala.util.Random.shuffle(vals).toDF("c")
    val probe = (vals.map(Option(_)) ++ Seq(None, Some("unseen"))).toDF("c")
    def codes(m: LabelEncodeModel) = m.transform(probe, "code")
      .select("c", "code").as[(Option[String], Int)].collect().toSet
    val lookup = codes(LabelEncoder.fit(fitDf, "c"))
    assert(lookup == codes(LabelEncoder.fit(fitDf, "c", smallVocabThreshold = 0L)))
    val sorted = fitDf.distinct().orderBy("c").as[String].collect().toSeq
    assert(lookup == (sorted.map(Option(_)).zipWithIndex ++
      Seq((None, -1), (Some("unseen"), -1))).toSet)
  }

  test("standardize matches sklearn ddof=0 closed form") {
    val df = Seq(1.0, 2.0, 3.0, 4.0).toDF("x")
    val m = Standardizer.fit(df, "x", decimals = 0)
    // mean 2.5, population std = sqrt(1.25)
    assert(math.abs(m.mean - 2.5) < 1e-12)
    assert(math.abs(m.std - math.sqrt(1.25)) < 1e-12)
    val z = m.transform(df, "z").select("z").as[Double].collect()
    assert(math.abs(z.sum) < 1e-9)
  }

  test("woeIv matches the half-adjusted closed form and IV total") {
    import org.apache.spark.sql.functions.col
    // A: 2 pos / 1 neg, B: 0 pos / 2 neg -> T_pos=2, T_neg=3
    // woe_A = ln(2.5/0.5) = 0.916291, woe_B = ln(0.25/0.833..) = -1.203973
    val df = Seq(("A", true), ("A", true), ("A", false),
      ("B", false), ("B", false)).toDF("c", "y")
    val rs = Rows(SupervisedEncoding.woeIv(df, col("c"), col("y")))
    val a = rs.find(_.getString(0) == "A").get
    val b = rs.find(_.getString(0) == "B").get
    assert(a.getAs[Long]("n_pos") == 2 && a.getAs[Long]("n_neg") == 1)
    assert(a.getAs[Double]("woe") == 0.916291)
    assert(b.getAs[Double]("woe") == -1.203973)
    assert(a.getAs[Long]("iv_term_micro") == 610860L)
    assert(b.getAs[Long]("iv_term_micro") == 802649L)
    assert(a.getAs[Long]("iv_micro") == 1413509L)
  }

  test("targetEncodeOof excludes the fold's own rows from its mean") {
    import org.apache.spark.sql.functions.col
    // cents: A/f0=100, A/f1=300, B/f0=200; prior m=2, gmean=200
    // enc(A,0) = (400-100+400)/3 = 233.33.. cents, enc(A,1) = 500/3,
    // enc(B,0) = 400/2 = 200 cents
    val df = Seq(("A", 0L, 100L), ("A", 1L, 300L), ("B", 0L, 200L))
      .toDF("c", "f", "v")
    val rs = Rows(SupervisedEncoding.targetEncodeOof(
      df, col("c"), col("v"), col("f"), priorWeight = 2))
    def enc(c: String, f: Long): Double =
      rs.find(r => r.getString(0) == c && r.getLong(1) == f).get
        .getAs[Double]("enc")
    assert(enc("A", 0L) == 2.333333)
    assert(enc("A", 1L) == 1.666667)
    assert(enc("B", 0L) == 2.0)
  }

  private def Rows(df: org.apache.spark.sql.DataFrame) = df.collect()
}
