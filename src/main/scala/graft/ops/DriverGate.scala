package graft.ops

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Promise}
import scala.concurrent.duration.Duration
import scala.reflect.ClassTag
import scala.util.Failure

import org.apache.spark.SparkEnv
import org.apache.spark.io.LZ4CompressionCodec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.execution.SQLExecution

/**
 * The one-job gate in front of every driver-side kernel (LocalGraph,
 * the Lloyd k-means and classifier loops, the tokenizer learners): ONE
 * action decides whether a relation fits under a row cap and, if it
 * does, collects it. Each task ships at most `cap + 1` rows as
 * LZ4-compressed UnsafeRow bytes (what `Dataset.collect` ships, never
 * Java-serialized `Row`s), and the driver drops what it holds once the
 * running total passes `cap` and cancels the job, so peak driver memory
 * is O(cap) rows. Past the cap the caller runs its distributed arm,
 * which re-derives the relation once.
 */
object DriverGate {

  /** The cap in env var `name`, `default` when unset; a value that is
   *  not a non-negative long fails, naming the variable. 0 turns the
   *  gate's driver arm off. */
  private[graft] def cap(name: String, default: Long,
      env: Map[String, String] = sys.env): Long =
    env.get(name).fold(default)(v =>
      v.trim.toLongOption.filter(_ >= 0).getOrElse(
        throw new IllegalArgumentException(
          s"$name='$v' is not a non-negative long")))

  /** The rows of `df` in partition order, each decoded on the driver
   *  by `decode`, iff `df` has at most `cap` rows; None otherwise, and
   *  None without running any job when `cap <= 0`. */
  def collectUnder[T: ClassTag](df: DataFrame, cap: Long)(
      decode: InternalRow => T): Option[Array[T]] = {
    if (cap <= 0) return None
    val qe = df.queryExecution
    val schema = df.schema
    val chunks = ArrayBuffer.empty[(Int, Long, Array[Byte])]
    var total = 0L
    SQLExecution.withNewExecutionId(qe, Some("collectUnder")) {
      val packed = qe.executedPlan.execute().mapPartitions { rows =>
        val bytes = new ByteArrayOutputStream()
        val out = new DataOutputStream(
          new LZ4CompressionCodec(SparkEnv.get.conf).compressedOutputStream(bytes))
        val buf = new Array[Byte](4096)
        var n = 0L
        while (n <= cap && rows.hasNext) {
          // physical operators emit UnsafeRows (Dataset.collect's
          // byte path relies on the same)
          val r = rows.next().asInstanceOf[UnsafeRow]
          out.writeInt(r.getSizeInBytes)
          r.writeToStream(out, buf)
          n += 1
        }
        out.close()
        Iterator((n, bytes.toByteArray))
      }
      val over = Promise[Unit]()
      val job = df.sparkSession.sparkContext.submitJob(packed,
        (it: Iterator[(Long, Array[Byte])]) => it.next(),
        0 until packed.getNumPartitions,
        // called once per task, under the job waiter's lock
        (part: Int, chunk: (Long, Array[Byte])) => {
          total += chunk._1
          if (total > cap) { chunks.clear(); over.trySuccess(()) }
          else chunks += ((part, chunk._1, chunk._2))
          ()
        }, ())
      // past the cap no further rows are needed: cancelling the job
      // keeps the rows shipped to the driver (and counted against
      // spark.driver.maxResultSize) to the tasks already finished
      over.future.foreach(_ => job.cancel())(ExecutionContext.parasitic)
      Await.ready(job, Duration.Inf)
      job.value.foreach {
        case Failure(e) if !over.isCompleted => throw e
        case _ => ()
      }
    }
    if (total > cap) return None
    val codec = new LZ4CompressionCodec(df.sparkSession.sparkContext.getConf)
    Some(chunks.sortBy(_._1).iterator.flatMap { case (_, n, bytes) =>
      val in = new DataInputStream(
        codec.compressedInputStream(new ByteArrayInputStream(bytes)))
      Iterator.fill(Math.toIntExact(n)) {
        val b = new Array[Byte](in.readInt())
        in.readFully(b)
        val row = new UnsafeRow(schema.length)
        row.pointTo(b, b.length)
        decode(row)
      }
    }.toArray)
  }
}
