package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Runs benchmark calls under named spans. A span is a Spark job group, so
  * the listener attributes the stages a call causes to it; the tracer keeps
  * each span's wall time and task totals for the artifact.
  */
final class Tracer(spark: SparkSession, val listener: Option[SpanListener]) {
  private val sc = spark.sparkContext
  private val counter = new java.util.concurrent.atomic.AtomicInteger()
  private val origin = System.nanoTime()
  val spans = mutable.ArrayBuffer[Map[String, Any]]()

  def span[A](name: String)(f: => A): A = spanned(name, f)._1

  /** Run `f` under a fresh span; returns its value, wall seconds and totals
    * (empty totals when no listener is attached). */
  def spanned[A](name: String, f: => A): (A, Double, SpanTotals) = {
    val id = s"$name#${counter.incrementAndGet()}"
    sc.setJobGroup(id, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val out = try f finally sc.clearJobGroup()
    val wall = (System.nanoTime() - t0) / 1e9
    val totals = listener.map(_.totalsOf(sc, id)).getOrElse(new SpanTotals)
    spans += Map("span" -> name, "start_s" -> (t0 - origin) / 1e9, "wall_s" -> wall,
      "tasks" -> totals.tasks,
      "task_cpu_s" -> totals.cpuNs / 1e9, "shuffle_write_mb" -> totals.mb(totals.shuffleWriteBytes),
      "persist_disk_mb" -> totals.mb(totals.persistDiskBytes))
    (out, wall, totals)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** JSON for the result line and the artifact (Jackson, as shipped with
  * Spark). Callers keep numbers finite: the result line must parse. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}
