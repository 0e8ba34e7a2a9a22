package perfbench

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Untimed check of a stateful topology's final state, read back from
  * its checkpoint with Spark's public `statestore` reader, against a
  * batch recomputation of the same topology over the same generated
  * rows. Both sides are reduced to the same (key, value) rows and must
  * agree exactly:
  *  - wordcount: every word and its count;
  *  - rolling_flight_dist: every tracked flight and the time of its
  *    latest position report. */
object StateCheck {
  def apply(spark: SparkSession, name: String, ckpt: String,
      topo: StreamBench.Topology, input: DataFrame): Map[String, Any] = Try {
    val state = spark.read.format("statestore").load(ckpt)
    val batch = topo.build(input)
    val (got, want) = name match {
      case "wordcount" =>
        (state.select(col("key.word").as("k"), col("value.count").as("v")),
          batch.select(col("word").as("k"), col("cnt").as("v")))
      case "rolling_flight_dist" =>
        (state.select(explode(col("value.groupState.value")).as(Seq("k", "f")))
          .select(col("k"), col("f.posTime").as("v")),
          StreamBench.positions(input).groupBy(col("icao").as("k"))
            .agg(max(col("posTime")).as("v")))
      case other => sys.error(s"no state check for $other")
    }
    val g = got.collect().map(_.toSeq).toSeq
    val w = want.collect().map(_.toSeq).toSeq
    val diff = (g.diff(w) ++ w.diff(g)).size
    Map("ok" -> (diff == 0 && g.nonEmpty), "state_rows" -> g.size,
      "batch_rows" -> w.size, "mismatched" -> diff)
  }.fold(e => Map("ok" -> false, "error" -> e.toString), identity)
}
