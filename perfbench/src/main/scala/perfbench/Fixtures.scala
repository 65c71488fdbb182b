package perfbench

import java.io.File
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.PagesSource

/** Seeded inputs. The pages follow `PagesSource.generate`'s shape (80%
  * Gaussian around `PagesSource.cities`, 20% uniform on the sphere, the
  * geotag in `text`) with every random draw keyed by (row id, salt, seed),
  * so one seed always gives byte-identical rows at any parallelism. The
  * `html` column is left out: no benchmarked query reads it, and writing it
  * doubled the fixture's generation time.
  */
object Fixtures {

  private def u01(salt: Int, seed: Long) =
    (pmod(xxhash64(col("id"), lit(salt), lit(seed)), lit(1L << 52)).cast("double")
      / lit((1L << 52).toDouble))

  /** `x` with six decimals, as integer arithmetic on micro-degrees (the
    * geotag's format, several times cheaper to generate than format_string). */
  private def sixDecimals(x: Column): Column = {
    val micro = round(x * 1e6).cast("long")
    val mag = abs(micro)
    concat(when(micro < 0, lit("-")).otherwise(lit("")),
      (mag / 1000000L).cast("long").cast("string"), lit("."),
      lpad((mag % 1000000L).cast("string"), 6, "0"))
  }

  /** Seeded pages: Gaussian (sigma 0.5 degree) around the cities, or
    * uniform on the sphere. */
  def pages(spark: SparkSession, n: Long, seed: Long, partitions: Int): DataFrame = {
    val cities = PagesSource.cities
    val r = sqrt(lit(-2.0) * log(greatest(u01(1, seed), lit(1e-18))))
    val theta = lit(2 * math.Pi) * u01(2, seed)
    val cityIdx = pmod(xxhash64(col("id"), lit(3), lit(seed)), lit(cities.length)).cast("int") + 1
    val cityLat = element_at(array(cities.map(c => lit(c._1)): _*), cityIdx)
    val cityLng = element_at(array(cities.map(c => lit(c._2)): _*), cityIdx)
    val isCity = u01(6, seed) < 0.8
    val lat0 = when(isCity, cityLat + r * cos(theta) * 0.5)
      .otherwise(degrees(asin(u01(4, seed) * 2.0 - 1.0)))
    val lng0 = when(isCity, cityLng + r * sin(theta) * 0.5)
      .otherwise(u01(5, seed) * 360.0 - 180.0)
    val latV = greatest(lit(-89.999999), least(lit(89.999999), lat0))
    val lngV = lng0 - lit(360.0) * floor((lng0 + lit(180.0)) / lit(360.0))
    val text = concat(
      lit("page "), col("id"),
      lit(" geo:"), sixDecimals(latV),
      lit(","), sixDecimals(lngV),
      lit(" lorem ipsum dolor sit amet consectetur adipiscing elit sed do"),
      lit(" eiusmod tempor incididunt ut labore"))
    val langs = array(Seq("en", "de", "fr", "es", "pt").map(lit): _*)
    spark.range(0, n, 1, partitions).select(
      concat(lit("https://example-"), pmod(col("id"), lit(1000)),
        lit(".test/page/"), col("id")).as("url"),
      (lit(1767225600L) + col("id")).cast("timestamp").as("warc_ts"),
      text.as("text"),
      element_at(langs, pmod(col("id"), lit(5)).cast("int") + 1).as("lang"))
  }

  /** Materialize seeded pages as parquet under `dir`, once per (n, seed).
    * Returns (path, generation seconds; ~0 when the cache already held it).
    * Fixtures beyond the newest twelve are deleted to bound disk use.
    */
  def pagesParquet(spark: SparkSession, dir: File, n: Long, seed: Long,
                   partitions: Int): (String, Double) = {
    val path = new File(dir, s"pages-n$n-s$seed.parquet")
    val t0 = System.nanoTime()
    if (!new File(path, "_SUCCESS").exists()) {
      val tmp = new File(dir, s"${path.getName}.tmp")
      deleteTree(tmp)
      // high-cardinality strings: dictionary attempts only cost CPU
      pages(spark, n, seed, partitions).write.mode("overwrite")
        .option("parquet.enable.dictionary", "false").parquet(tmp.getPath)
      deleteTree(path)
      if (!tmp.renameTo(path)) sys.error(s"cannot move fixture to $path")
    }
    val secs = (System.nanoTime() - t0) / 1e9
    path.setLastModified(System.currentTimeMillis())
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("pages-") && f.getName.endsWith(".parquet"))
      .sortBy(-_.lastModified()).drop(12).foreach(deleteTree)
    (path.getPath, secs)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Seeded kNN queries: 80% Gaussian (sigma 1 degree) around the cities,
    * the rest uniform on the sphere. */
  def knnQueries(n: Int, seed: Long): Seq[(Long, Double, Double)] = {
    val rng = new scala.util.Random(seed * 7919L + 13)
    val nCity = n * 4 / 5
    (0 until n).map { i =>
      if (i < nCity) {
        val (cLat, cLng) = PagesSource.cities(i % PagesSource.cities.size)
        val lat = math.max(-89.9, math.min(89.9, cLat + rng.nextGaussian()))
        var lng = cLng + rng.nextGaussian()
        lng = lng - 360.0 * math.floor((lng + 180.0) / 360.0)
        (i.toLong, lat, lng)
      } else {
        (i.toLong, math.toDegrees(math.asin(rng.nextDouble() * 2 - 1)),
          rng.nextDouble() * 360.0 - 180.0)
      }
    }
  }
}
