package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The driver contract's entry points: `SparkEntry.entry` returns rows,
  * and `Verify.dump` writes exactly the named queries plus their oracle
  * SQL, rejecting an unknown name before any query runs.
  */
class DriverContractSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("driver-contract-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  private def withOutDir(body: Path => Unit): Unit = {
    val dir = Files.createTempDirectory("verify-out")
    try body(dir)
    finally Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
  }

  private def listing(dir: Path): Set[String] =
    Option(dir.toFile.list()).map(_.toSet).getOrElse(Set.empty)

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("a named dump writes only that query and only its oracle SQL") {
    withOutDir { dir =>
      val out = dir.resolve("out")
      Verify.dump(spark, sf, out.toString, Seq("q_pip_city"))
      assert(listing(out) == Set("q_pip_city", "oracle_sql.json"))
      val written = spark.read.parquet(out.resolve("q_pip_city").toString)
      assert(written.columns.toSeq == Seq("url", "poly_id"))
      assert(written.count() == SparkEntry.entry(spark).count())
      val oracle = new com.fasterxml.jackson.databind.ObjectMapper().readValue(
        out.resolve("oracle_sql.json").toFile, classOf[java.util.Map[String, String]])
      assert(oracle.keySet().asScala == Set("q_pip_city"))
      assert(oracle.get("q_pip_city") == SparkEntry.oracleSql("q_pip_city"))
    }
  }

  test("an unknown query name is rejected before anything is written") {
    withOutDir { dir =>
      val out = dir.resolve("out")
      val e = intercept[IllegalArgumentException](
        Verify.dump(spark, sf, out.toString, Seq("q_pip_city", "q_no_such_query")))
      assert(e.getMessage.contains("q_no_such_query"))
      assert(!out.toFile.exists())
    }
  }
}
