package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler.SchedulerProbe
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan-identity check: writes one file per query holding its full
  * optimized logical plan, followed by the optimized plan of every
  * checkpoint the query ran while it was built (a checkpoint replaces
  * its subtree with a `LogicalRDD`, so the final plan alone hides it).
  * Expression ids (`#123`) are renumbered in order of first appearance;
  * object hashes (`@1a2b`) and lambda class numbers are dropped. Spark's
  * multi-distinct rewrite orders its distinct groups by a per-JVM hash,
  * so a line that carries its `gid` column is written as the sorted bag
  * of its non-numeric tokens, and ids are numbered from the other lines
  * only (an id seen only in such lines reads `#?`). Two dumps of the same code then diff
  * empty, and `diff -r` of two dumps shows every plan change.
  *
  * {{{
  * sbt "Test/runMain graft.PlanDump <tablesDir> <outDir> [namePrefix ...]"
  * }}}
  * Queries run in sorted name order in one session (memoized stages are
  * built by the first query that needs them), so compare dumps taken
  * with the same prefix list only.
  */
object PlanDump {

  private val ExprId = "#\\d+".r
  private val ObjHash = "@[0-9a-f]+".r
  private val LambdaClass = "\\$Lambda\\$\\d+/0x[0-9a-f]+".r

  def normalise(plan: String): String = {
    val lines = LambdaClass.replaceAllIn(ObjHash.replaceAllIn(plan, "@"), "\\$Lambda")
      .split("\n")
    def isGroupLine(l: String) = l.contains("gid#")
    val ids = mutable.HashMap.empty[String, Int]
    for (l <- lines if !isGroupLine(l); id <- ExprId.findAllIn(l))
      ids.getOrElseUpdate(id, ids.size)
    lines.map { l =>
      val renumbered = ExprId.replaceAllIn(l, m => "#" + ids.get(m.matched).fold("?")(_.toString))
      if (!isGroupLine(l)) renumbered
      else renumbered.split("[\\[\\](), ]+")
        .filterNot(t => t.isEmpty || t.forall(_.isDigit)).sorted.mkString(" ")
    }.mkString("\n")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: PlanDump <tablesDir> <outDir> [namePrefix ...]")
    val Array(dir, out) = args.take(2)
    val prefixes = args.drop(2)
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val checkpoints = mutable.ArrayBuffer.empty[String]
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        if (fn.toLowerCase.contains("checkpoint")) checkpoints.synchronized {
          checkpoints += normalise(qe.optimizedPlan.toString)
        }
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    Files.createDirectories(Paths.get(out))
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => prefixes.isEmpty || prefixes.exists(n.startsWith))
    for (q <- names) {
      val plan = try normalise(SparkEntry.queries(q)(spark, dir)
          .queryExecution.optimizedPlan.toString)
        catch { case e: Exception => s"ERROR: ${e.getClass.getName}\n" }
      SchedulerProbe.drain(spark.sparkContext)
      val cps = checkpoints.synchronized {
        val all = checkpoints.distinct.sorted.toList
        checkpoints.clear()
        all
      }
      val text = (plan +: cps.map("== checkpoint ==\n" + _)).mkString("\n")
      Files.write(Paths.get(out, s"$q.plan"), text.getBytes(StandardCharsets.UTF_8))
      println(s"$q ${cps.size} checkpoint(s)")
    }
    spark.stop()
  }
}
