package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.SparkConf
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class GraftSessionSpec extends AnyFunSuite with SparkTestSession {

  test("factory session runs the plan settings Bench used to pin by hand") {
    // a fresh SQLConf over the shared context: what every session starts
    // from, whatever other suites have set on theirs since
    val c = spark.newSession().sessionState.conf
    assert(c.numShufflePartitions == GraftSession.cpus)
    assert(c.filesMaxPartitionBytes == 128L * 1024 * 1024)
    assert(c.adaptiveExecutionEnabled)
    assert(c.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
    assert(c.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES) ==
      64L * 1024 * 1024)
    assert(c.sessionLocalTimeZone == "UTC")
  }

  test("a key already in the incoming SparkConf wins over the default") {
    val given = new SparkConf(false)
      .set("spark.master", "local[1]")
      .set("spark.sql.shuffle.partitions", "7")
    val filled = GraftSession.withDefaults(given, cpus = 3)
    assert(filled.get("spark.master") == "local[1]")
    assert(filled.get("spark.sql.shuffle.partitions") == "7")
    assert(filled.get("spark.sql.session.timeZone") == "UTC")
    val empty = GraftSession.withDefaults(new SparkConf(false), cpus = 3)
    assert(empty.get("spark.master") == "local[3]")
    assert(empty.get("spark.sql.shuffle.partitions") == "3")
  }

  test("only GraftSession builds a session; removed env knobs stay gone") {
    def files(root: String): Seq[Path] = {
      val s = Files.walk(Paths.get(root))
      try s.iterator.asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }
    def text(p: Path) = new String(Files.readAllBytes(p), "UTF-8")
    val src = files("src")
    assert(src.nonEmpty, s"no sources under ${Paths.get("src").toAbsolutePath}")
    // spelled in pieces so this file does not match its own scan
    val builder = "SparkSession" + ".builder"
    assert(src.filter(text(_).contains(builder))
      .map(_.getFileName.toString) == Seq("GraftSession.scala"))
    val removed = Seq("SHUFFLE_PARTITIONS", "MAX_PARTITION_BYTES",
      "AQE_PARALLELISM_FIRST", "ADVISORY_PARTITION_BYTES", "WAREHOUSE",
      "STATE_PARTITIONS", "RETHROW").map("SPARK_GRAFT_" + _)
    val hits = for {
      p <- src ++ files("tools")
      name <- removed if text(p).contains(name)
    } yield s"$p: $name"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
