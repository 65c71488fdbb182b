package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * usage: runMain graft.Verify <sfDir> <outDir> [query ...]
  * With no query names every query is dumped; with names, only those
  * (and oracle_sql.json holds only their SQL).
  */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [query ...]")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try dump(spark, args(0), args(1), args.drop(2).toSeq)
    finally spark.stop()
  }

  /** Write each named query's result to `<outDir>/<name>` and their oracle
    * SQL to `<outDir>/oracle_sql.json`; no names means every query. An
    * unknown name fails before any query runs. A query that throws is
    * reported on stderr and leaves no result, so its oracle compare fails.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           names: Seq[String] = Nil): Unit = {
    val all = SparkEntry.queries
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val selected = if (names.isEmpty) all.toSeq else names.distinct.map(n => n -> all(n))
    new java.io.File(outDir).mkdirs()
    // Delete q_tile_covering's oracle-aux box file up front: if the query
    // crashes before re-emitting it, its oracle SQL must FAIL on a missing
    // file instead of silently auditing a previous run's boxes.
    if (selected.exists(_._1 == "q_tile_covering")) {
      val aux = new java.io.File(SparkEntry.tileCoveringCellsPath(sfDir))
      if (aux.exists()) {
        Option(aux.listFiles()).foreach(_.foreach(_.delete()))
        aux.delete()
      }
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val keep = selected.map(_._1).toSet
    val json = SparkEntry.oracleSql.filter { case (k, _) => keep(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
