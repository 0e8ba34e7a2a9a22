package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.ops.{AdsbOps, TextOps}
import graft.queries.BenchQueries
import graft.sources.Generators
import graft.streaming.StreamOps

/** Stream workload: reference topologies as live Structured Streaming
  * queries with a `noop` sink, one after another. Each query is fed by
  * [[PacedSource]]: a priming batch (the query's cold first trigger),
  * then two phases:
  *  - paced (open loop): `rate` rows/s for the warm-up plus the paced
  *    duration; every trigger after the warm-up is a latency sample;
  *  - saturated: a backlog of `satRows` rows released at once, drained
  *    under a cap of `satCap` rows per trigger.
  * After the query stops (untimed), the committed offset is checked
  * against the rows offered and a stateful topology's final state
  * against a batch recomputation ([[StateCheck]]).
  *
  * The topologies are built from the same public operator calls as
  * `graft.Run` and `graft.tools.MaxRateProbe`. */
object StreamBench {
  final case class Topology(mode: OutputMode, stateful: Boolean,
      build: DataFrame => DataFrame)

  def positions(in: DataFrame) =
    AdsbOps.parsePositionsTyped(
      in.select(col("ts"), Generators.adsbLine(col("value"),
        (col("ts").cast("double") * 1000).cast("long")).as("adsb")),
      col("adsb"))

  val topologies: Map[String, Topology] = Map(
    "warmup" -> Topology(OutputMode.Append, stateful = false, _.select(col("value"))),
    "sol" -> Topology(OutputMode.Append, stateful = false, in =>
      TextOps.constChain(
        in.select(col("ts"), Generators.randomMessage(col("value")).as("message")),
        col("message"), levels = 3)),
    "wordcount" -> Topology(OutputMode.Update, stateful = true, in =>
      StreamOps.runningCount(
        TextOps.splitWords(
          in.select(col("ts"), Generators.randomMessage(col("value")).as("value")),
          col("value")),
        col("word"), "word")),
    "rolling_flight_dist" -> Topology(OutputMode.Append, stateful = true, in =>
      StreamOps.proximityWarningsPerEvent(positions(in),
        BenchQueries.DistThresholdKm, BenchQueries.SpecSteps,
        BenchQueries.SpecStepSec, numShards = 8).toDF()),
  )

  /** The generated rows as a batch frame with the source's columns,
    * for the state recomputation. */
  def batchInput(spark: SparkSession, c: PacedSource.Config): DataFrame =
    spark.range(0, c.totalRows).select(
      col("id").as("i"),
      (lit(c.seedBase) + col("id")).as("value"),
      timestamp_micros(lit(PacedSource.EventBaseMs * 1000) +
        (col("id") * PacedSource.EventSpanUs / c.totalRows.toDouble).cast("long")).as("ts"))

  def run(spark: SparkSession, cfg: Map[String, String], mainStartUs: Long,
      spans: Option[Spans]): Map[String, Any] = {
    val seedBase = cfg("seed").toLong * 1000000000L
    val seconds = cfg("seconds").toDouble
    val warmSec = cfg("warm_s").toDouble
    val gapMs = cfg("gap_ms").toLong
    val primeRows = cfg("prime_rows").toLong
    // name:pacedRate:satRows:satCap:pacedShare, the share being the
    // topology's part of the measured seconds spent paced
    val plan = cfg("topologies").split(",").toSeq.map(_.split(":")).map {
      case Array(n, r, rows, cap, share) =>
        (n, r.toDouble, rows.toLong, cap.toLong, share.toDouble * seconds)
    }
    val heap = ArrayBuffer.empty[Double]

    def source(c: PacedSource.Config): DataFrame =
      spark.readStream.format(classOf[PacedSource].getName)
        .option("key", c.key).option("primeRows", c.primeRows)
        .option("pacedRows", c.pacedRows).option("rate", c.rate)
        .option("backlogRows", c.backlogRows)
        .option("gapMs", c.gapMs).option("maxRowsPerTrigger", c.maxRowsPerTrigger)
        .option("seedBase", c.seedBase)
        .load()

    def committed(q: StreamingQuery): Long =
      Option(q.lastProgress).flatMap(p => p.sources.headOption)
        .flatMap(s => Option(s.endOffset)).map(_.trim.toLong).getOrElse(0L)

    /** One topology run to completion (every offered row committed) or
      * to its deadline; returns the per-trigger records. */
    def runTopology(name: String, c: PacedSource.Config): Map[String, Any] = {
      val topo = topologies(name)
      val ckpt = s"${cfg("out")}/ckpt/$name-${System.nanoTime()}"
      val t0 = Clock.nowUs
      val gc0 = Jvm.gcMs
      val q = topo.build(source(c)).writeStream.format("noop")
        .outputMode(topo.mode).option("checkpointLocation", ckpt).start()
      def await(rows: Long, deadline: Long): Unit =
        while (committed(q) < rows && q.isActive &&
            System.currentTimeMillis() < deadline) Thread.sleep(2)
      try {
        await(c.primeRows, System.currentTimeMillis() + 60000)
        val start = System.currentTimeMillis()
        PacedSource.start(c.key, start)
        await(c.totalRows, c.releaseMs(start).toLong + 60000)
      } finally Try(q.stop())
      val t1 = Clock.nowUs
      val error = q.exception.map(_.getMessage)
      val triggers = q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
        val src = p.sources.head
        Map(
          "batch" -> p.batchId, "rows" -> p.numInputRows,
          "start_off" -> Option(src.startOffset).map(_.trim.toLong).getOrElse(0L),
          "end_off" -> src.endOffset.trim.toLong,
          "latest_off" -> Option(src.latestOffset).map(_.trim.toLong),
          "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
          "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          "state" -> p.stateOperators.headOption.map(s => Map(
            "rows_total" -> s.numRowsTotal, "rows_updated" -> s.numRowsUpdated,
            "memory_b" -> s.memoryUsedBytes, "commit_ms" -> s.commitTimeMs,
            "update_ms" -> s.allUpdatesTimeMs, "removal_ms" -> s.allRemovalsTimeMs)))
      }
      spans.foreach { s =>
        val id = s.newId()
        s.add(id, 0L, name, "bench", t0, t1)
        traceRun(s, id, c, triggers)
      }
      Map("topology" -> name, "prime_rows" -> c.primeRows,
        "paced_rows" -> c.pacedRows, "backlog_rows" -> c.backlogRows,
        "rows_committed" -> committed(q),
        "t0_ms" -> PacedSource.t0Ms(c.key), "rate" -> c.rate, "cap" -> c.maxRowsPerTrigger,
        "warm_rows" -> math.round(c.rate * warmSec),
        "triggers" -> triggers, "error" -> error,
        "elapsed_s" -> (t1 - t0) / 1e6, "gc_ms" -> (Jvm.gcMs - gc0),
        "state_check" -> (if (topo.stateful && error.isEmpty)
          Some(StateCheck(spark, name, ckpt, topo, batchInput(spark, c))) else None))
    }

    def config(name: String, rate: Double, pacedRows: Long, satRows: Long, satCap: Long) =
      PacedSource.Config(s"$name-${System.nanoTime()}", primeRows,
        pacedRows, rate, satRows, gapMs, satCap, seedBase)

    // uncounted warm-up of the streaming engine itself (not of any
    // topology): a pass-through query over a few paced rows
    Try(runTopology("warmup", config("warmup", 2000, 1000, 1000, 1000)))
    val setupS = (Clock.nowUs - mainStartUs) / 1e6

    val runs = plan.map { case (name, rate, satRows, satCap, pacedSec) =>
      heap += Jvm.retainedHeapMb()
      runTopology(name,
        config(name, rate, math.round(rate * (warmSec + pacedSec)), satRows, satCap))
    }
    heap += Jvm.retainedHeapMb()
    Map("mode" -> "stream", "setup_s" -> setupS, "topologies" -> runs,
      "retained_heap_mb" -> heap.max, "run" -> spans.map(_.runId))
  }

  /** Spans of one topology run, rebuilt from its progress records:
    * phase (priming, paced, saturated) -> trigger -> the trigger's
    * `durationMs` phases, laid end to end in the order a micro-batch
    * runs them. State counters ride on the trigger span. */
  private def traceRun(s: Spans, parent: Long, c: PacedSource.Config,
      triggers: Seq[Map[String, Any]]): Unit = {
    def phaseOf(tr: Map[String, Any]) = {
      val off = tr("start_off").asInstanceOf[Long]
      if (off < c.primeRows) "priming" else if (off < c.pacedEnd) "paced" else "saturated"
    }
    def startUs(tr: Map[String, Any]) = Clock.fromEpochMs(tr("start_ms").asInstanceOf[Long])
    def durUs(tr: Map[String, Any], k: String) =
      tr("durations").asInstanceOf[Map[String, Long]].getOrElse(k, 0L) * 1000
    val layers = Seq("latestOffset" -> "sources", "walCommit" -> "checkpoint",
      "getBatch" -> "sources", "queryPlanning" -> "planner",
      "addBatch" -> "exec", "commitOffsets" -> "checkpoint")
    triggers.groupBy(phaseOf).foreach { case (phase, trs) =>
      val pid = s.newId()
      s.add(pid, parent, phase, "stream", trs.map(startUs).min,
        trs.map(tr => startUs(tr) + durUs(tr, "triggerExecution")).max)
      trs.foreach { tr =>
        val id = s.newId()
        val start = startUs(tr)
        s.add(id, pid, s"trigger ${tr("batch")}", "stream", start,
          start + durUs(tr, "triggerExecution"),
          Map("rows" -> tr("rows")) ++
            tr("state").asInstanceOf[Option[Map[String, Any]]].getOrElse(Map.empty))
        var at = start
        layers.foreach { case (k, layer) =>
          val d = durUs(tr, k)
          s.add(s.newId(), id, k, layer, at, at + d)
          at += d
        }
      }
    }
  }
}
