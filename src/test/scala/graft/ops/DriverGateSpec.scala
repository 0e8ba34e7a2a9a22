package graft.ops

import org.apache.spark.sql.functions._

import graft.{JobCounts, SparkSpec}

/** [[DriverGate.collectUnder]]: one action both decides and collects. */
class DriverGateSpec extends SparkSpec {

  private def pairs(n: Long) = spark.range(0, n, 1, 4)
    .select((col("id") % 97).as("a"), (col("id") * 3 % 101).as("b"))
    .distinct()

  private def collected(df: org.apache.spark.sql.DataFrame, cap: Long) =
    JobCounts.of(spark)(DriverGate.collectUnder(df, cap)(r =>
      (r.getLong(0), r.getLong(1))))

  test("under the cap: the rows of df.collect() as a multiset, in one " +
      "result job after the shuffle stage") {
    val df = pairs(2000)
    val want = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val (got, jobs) = collected(df, want.size.toLong)
    assert(got.map(_.toSeq.sorted) == Some(want.sorted))
    assert(jobs.result == 1, s"$jobs")
    // a relation with no shuffle: the result job is the only job
    val scan = spark.range(0, 50, 1, 3).select(col("id"), (col("id") * 2).as("d"))
    val (rows, scanJobs) = collected(scan, 1000)
    assert(rows.map(_.toSeq) == Some((0L until 50L).map(i => (i, 2 * i))))
    assert(scanJobs == JobCounts(1, 1), s"$scanJobs")
  }

  test("one row over the cap returns None") {
    val df = pairs(2000)
    val n = df.count()
    val (got, jobs) = collected(df, n - 1)
    assert(got.isEmpty)
    assert(jobs.result == 1, s"$jobs")
    // every partition over the cap: the job is cancelled, not failed
    assert(DriverGate.collectUnder(spark.range(0, 10000, 1, 16).toDF(), 10)(
      _.getLong(0)).isEmpty)
    // empty relation, positive cap: Some(empty), not None
    assert(DriverGate.collectUnder(pairs(0), 1)(_.getLong(0)).map(_.length) ==
      Some(0))
  }

  test("cap 0 returns None without launching a job") {
    val (got, jobs) = collected(pairs(2000), 0)
    assert(got.isEmpty)
    assert(jobs == JobCounts(0, 0), s"$jobs")
  }

  test("gate cap knobs: unset is the default, a non-negative long is " +
      "taken, a malformed or negative value fails naming the knob") {
    Seq("SPARK_GRAFT_TOKENIZER_DRIVER_VOCAB", "SPARK_GRAFT_DRIVER_GRAPH_PAIRS",
      "SPARK_GRAFT_DRIVER_KM_VECS", "SPARK_GRAFT_DRIVER_CLASSIFY_ROWS",
      "SPARK_GRAFT_DRIVER_TRI_WORK").foreach { knob =>
      assert(DriverGate.cap(knob, 7L, Map.empty) == 7L)
      assert(DriverGate.cap(knob, 7L, Map(knob -> " 250 ")) == 250L)
      assert(DriverGate.cap(knob, 7L, Map(knob -> "0")) == 0L)
      Seq("abc", "-1", "", "1e6").foreach { bad =>
        val e = intercept[IllegalArgumentException](
          DriverGate.cap(knob, 7L, Map(knob -> bad)))
        assert(e.getMessage.contains(knob), e.getMessage)
      }
    }
  }
}
