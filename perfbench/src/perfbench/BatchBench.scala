package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Try

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Batch workload: an uncounted warm-up query (not one of the
  * workload's), one cold pass over the workload's queries, then warm
  * passes until `seconds` of warm time is spent (at least `min_warm`
  * passes), then an untimed check pass.
  *
  * A timed operation is Bench's: `SparkEntry.queries(q)(spark, dir)`
  * (the build, which runs the builders' eager driver work) followed by
  * `write.format("noop").save()` (planning and execution), with a
  * `System.gc()` between operations, outside every timed region. The
  * check pass writes each result as parquet instead (as Verify does),
  * for the DuckDB oracle compare.
  *
  * Traced, the cold pass and the even warm passes record spans; the odd
  * warm passes run untraced, for the tracing overhead (at least three
  * warm passes: the first still warms up, then one of each). */
object BatchBench {
  def run(spark: SparkSession, cfg: Map[String, String], mainStartUs: Long,
      tracing: Option[Tracing]): Map[String, Any] = {
    val dir = cfg("data")
    val queries = cfg("queries").split(",").toSeq
    val seconds = cfg("seconds").toDouble
    val minWarm = cfg("min_warm").toInt
    val sc = spark.sparkContext
    val heap = ArrayBuffer.empty[Double]
    val ops = ArrayBuffer.empty[Map[String, Any]]

    /** A traced phase carries its span id in the job group, so the
      * listener can parent the jobs it launches. */
    def phase[T](parent: Long, name: String, layer: String)(f: Long => T): T =
      tracing.filter(_.enabled).map(_.spans) match {
        case Some(s) => s.span(parent, name, layer) { id =>
          sc.setJobGroup(s"pb-$id", name)
          try f(id) finally sc.clearJobGroup()
        }
        case None => f(0L)
      }

    // JVM, parquet and codegen warm-up, so the cold pass holds each
    // query's own first-run cost
    Try(SparkEntry.queries(cfg("warmup"))(spark, dir).write.format("noop").mode("overwrite").save())
    val setupS = (Clock.nowUs - mainStartUs) / 1e6

    def runQuery(pass: Int, q: String, parent: Long): Unit = {
      heap += Jvm.retainedHeapMb()
      sc.setJobDescription(s"perfbench: $q")
      val gc0 = Jvm.gcMs
      val t0 = System.nanoTime()
      var t1 = t0
      val ok = Try {
        phase(parent, q, "bench") { qid =>
          val df = phase(qid, "build", "queries")(_ => SparkEntry.queries(q)(spark, dir))
          t1 = System.nanoTime()
          phase(qid, "write", "exec")(_ => df.write.format("noop").mode("overwrite").save())
        }
      }
      val t2 = System.nanoTime()
      ok.failed.foreach(e => System.err.println(s"[perfbench] $q failed: ${e.getMessage}"))
      ops += Map("pass" -> pass, "query" -> q, "ok" -> ok.isSuccess,
        "traced" -> tracing.exists(_.enabled),
        "build_s" -> (t1 - t0) / 1e9, "exec_s" -> (t2 - t1) / 1e9,
        "wall_s" -> (t2 - t0) / 1e9, "gc_ms" -> (Jvm.gcMs - gc0))
    }

    def pass(p: Int): Unit = {
      tracing.foreach(_.set(p % 2 == 0))
      phase(0L, s"pass $p", "bench")(id => queries.foreach(runQuery(p, _, id)))
    }

    pass(0)
    val warmStart = System.nanoTime()
    var p = 1
    val fewest = if (tracing.isDefined) math.max(minWarm, 3) else minWarm
    while (p <= fewest || (System.nanoTime() - warmStart) / 1e9 < seconds) {
      pass(p); p += 1
    }
    val warmS = (System.nanoTime() - warmStart) / 1e9
    tracing.foreach(_.finish())
    heap += Jvm.retainedHeapMb()

    val checks = queries.map { q =>
      val ok = Try(SparkEntry.queries(q)(spark, dir).write.mode("overwrite")
        .parquet(s"${cfg("out")}/check/$q"))
      ok.failed.foreach(e => System.err.println(s"[perfbench] check of $q failed: ${e.getMessage}"))
      q -> Map("ok" -> ok.isSuccess, "oracle" -> SparkEntry.oracleSql.get(q))
    }.toMap
    Map("mode" -> "batch", "setup_s" -> setupS, "warm_passes_s" -> warmS,
      "passes" -> p, "ops" -> ops, "retained_heap_mb" -> heap.max,
      "check" -> checks, "cores" -> sc.defaultParallelism,
      "run" -> tracing.map(_.spans.runId))
  }
}
