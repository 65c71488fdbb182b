package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.v2.V2CommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** The 65-query sweep over one scale-factor directory:
  *
  *   perfbench.Sweep --data <sf dir> --out <dir>
  *
  * Per query (sorted by name): an untimed reference pass that writes the
  * result exactly as `graft.Verify` does (coalesce(1) to parquet under
  * `out`, for the DuckDB oracle), then one timed pass that builds the query
  * and runs every output column to the noop sink. The plan check asserts
  * that the timed plan holds every operator of the reference plan (the
  * final coalesce and write aside) and is not a bare scan unless the
  * reference plan is one too (queries that materialize their result while
  * they are built, whose build is inside the timed pass). Prints one JSON
  * line per query; the oracle comparison runs afterwards (perfbench/sweep.py).
  */
object Sweep {

  /** Keeps the physical plan of the last successful query execution. */
  final class PlanCapture extends QueryExecutionListener {
    @volatile var last: SparkPlan = _
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      last = qe.executedPlan
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val wrappers = Set("AdaptiveSparkPlan", "WholeStageCodegen", "InputAdapter",
    "ColumnarToRow", "RowToColumnar", "AQEShuffleRead", "Coalesce", "ResultQueryStage")

  /** Operators of a plan with AQE stages unwrapped, minus codegen/AQE
    * wrappers, the coalesce and the write command itself. */
  def operators(plan: SparkPlan): Seq[SparkPlan] = {
    val out = mutable.ArrayBuffer[SparkPlan]()
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case w: DataWritingCommandExec => walk(w.child)
      case w: V2CommandExec => w.children.foreach(walk)
      case other =>
        if (!wrappers.contains(opName(other)) && opName(other) != "WriteFiles") out += other
        other.children.foreach(walk)
    }
    walk(plan)
    out.toSeq
  }

  private def opName(p: SparkPlan): String = p.nodeName.replaceAll("\\s.*", "")

  /** A plan that only scans and passes attributes through. */
  def isBareScan(ops: Seq[SparkPlan]): Boolean = ops.forall {
    case p: ProjectExec => p.projectList.forall {
      case _: Attribute => true
      case Alias(_: Attribute, _) => true
      case _ => false
    }
    case s => s.isInstanceOf[LeafExecNode] &&
      (opName(s) == "Scan" || opName(s) == "LocalTableScan")
  }

  def digest(plan: SparkPlan): String = {
    val canon = plan.treeString.replaceAll("#\\d+L?", "").replaceAll("\\[plan_id=\\d+\\]", "")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(canon.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
  }

  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dir = m.getOrElse("data", sys.error("missing --data"))
    val out = m.getOrElse("out", sys.error("missing --out"))
    new File(out).mkdirs()
    val root = new File(".").getCanonicalFile
    val spark = Main.startSession(root, Main.cores)
    val listener = new SpanListener
    spark.sparkContext.addSparkListener(listener)
    val plans = new PlanCapture
    spark.listenerManager.register(plans)
    val tracer = new Tracer(spark, Some(listener))

    def lastPlan(): SparkPlan = {
      org.apache.spark.ListenerDrain(spark.sparkContext)
      plans.last
    }

    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val line = mutable.LinkedHashMap[String, Any]("query" -> name)
      try {
        plans.last = null
        fn(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
        val refOps = operators(lastPlan())
        val refBare = isBareScan(refOps)
        spark.catalog.clearCache()
        plans.last = null
        val (built, buildS, buildTotals) = tracer.spanned(s"sweep.$name.build", fn(spark, dir))
        val (_, runS, _) = tracer.spanned(s"sweep.$name.run",
          built.write.format("noop").mode("overwrite").save())
        val timed = lastPlan()
        val ops = operators(timed)
        val missing = refOps.map(opName).distinct.filterNot(ops.map(opName).toSet)
        val bare = isBareScan(ops)
        line ++= Seq("wall_s" -> (buildS + runS), "build_s" -> buildS,
          "eager_tasks" -> buildTotals.tasks, "plan_digest" -> digest(timed),
          "operators" -> ops.map(opName).distinct.sorted, "missing_operators" -> missing,
          "bare_scan" -> bare, "reference_bare_scan" -> refBare,
          "plan_ok" -> (missing.isEmpty && (refBare || !bare)))
      } catch {
        case e: Throwable => line ++= Seq("error" -> e.toString.take(500), "plan_ok" -> false)
      }
      println("[sweep] " + Json(line))
    }

    val oracle = graft.SparkEntry.oracleSql
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), Json(oracle))
    spark.stop()
  }
}
