package perfbench

import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: one workload per invocation, in one JVM.
  * It runs the timed operations and writes their raw records to
  * `<out>/jvm.json` (and, when traced, every span to `<out>/spans.json`);
  * `run.py` turns those records into metrics and checks the outputs.
  *
  * Arguments are `key=value` pairs:
  *  - `mode`     `batch` or `stream`
  *  - `out`      directory for the records
  *  - `seconds`  measured time budget
  *  - `trace`    `1` records spans and listener counters
  *  - batch: `data` (parquet table dir), `queries` (comma list),
  *    `warmup` (an uncounted query), `min_warm` (fewest warm passes)
  *  - stream: `seed`, `warm_s` (paced warm-up), `gap_ms`, `prime_rows`,
  *    `topologies` (`name:pacedRate:satRows:satCap:pacedShare` entries,
  *    comma separated)
  */
object Main {
  def main(args: Array[String]): Unit = {
    val mainStartUs = Clock.nowUs
    val cfg = args.map { a =>
      val i = a.indexOf('=')
      a.take(i) -> a.drop(i + 1)
    }.toMap
    val traced = cfg.getOrElse("trace", "0") == "1"
    val out = cfg("out")
    new java.io.File(out).mkdirs()
    val spans = new Spans(java.util.UUID.randomUUID().toString)
    val cpus = 4
    // as in graft.Bench: no session memo, so every timed invocation
    // computes from its inputs instead of serving an earlier result
    System.setProperty("graft.session.memo", "off")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the same session settings as graft.Bench: drain the context
      // cleaner between operations, keep generated code across passes
      .config("spark.cleaner.periodicGC.interval", "30min")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracing = if (traced) Some(new Tracing(spark, spans)) else None
    val rec = cfg("mode") match {
      case "batch" => BatchBench.run(spark, cfg, mainStartUs, tracing)
      // stream spans are rebuilt from each query's progress records
      case "stream" =>
        StreamBench.run(spark, cfg, mainStartUs, if (traced) Some(spans) else None)
      case m => sys.error(s"unknown mode $m")
    }
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    if (traced) json.writeValue(new File(s"$out/spans.json"), spans.all)
    json.writeValue(new File(s"$out/jvm.json"), rec)
    spark.stop()
  }
}
