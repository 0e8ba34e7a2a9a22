package perfbench

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.types.{LongType, StructField, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The benchmark's open-loop load generator, a micro-batch source.
  *
  * One run of a topology reads one sequence of rows in three parts:
  *  - priming: the first `primeRows` rows are available at once, so the
  *    query's first (cold) micro-batch runs before the schedule starts;
  *  - paced: the schedule starts at `t0`, set by the bench through
  *    [[PacedSource.start]] once the priming batch is committed; the next `pacedRows` rows are due at `t0 + k * 1000 / rate`
  *    (k counted from the first paced row) on a continuous schedule and
  *    each becomes available the moment it is due, not in whole-second
  *    steps, so a latency sample carries no quantisation from the
  *    generator;
  *  - saturated: the last `backlogRows` rows all become available
  *    `gapMs` after the last paced row was due, and drain under the
  *    `maxRowsPerTrigger` cap, which holds in every phase.
  *
  * Each micro-batch is split into [[PacedSource.Partitions]] ranges, one
  * per core of the bench's `local[4]` session.
  *
  * Columns:
  *  - `i`      the row's position in the sequence
  *  - `value`  `seedBase + i`: the generated sequence, offset by the seed
  *  - `ts`     event time, spread evenly over `EventSpanUs` from
  *             `EventBaseMs`, so no sliding window closes during a run
  *  - `due_us` the row's due time, epoch microseconds
  */
class PacedSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = PacedSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val o = new CaseInsensitiveStringMap(properties)
    new PacedTable(PacedSource.Config(
      key = o.get("key"),
      primeRows = o.getLong("primeRows", 0L),
      pacedRows = o.getLong("pacedRows", 0L),
      rate = o.getDouble("rate", 0.0),
      backlogRows = o.getLong("backlogRows", 0L),
      gapMs = o.getLong("gapMs", 0L),
      maxRowsPerTrigger = o.getLong("maxRowsPerTrigger", 0L),
      seedBase = o.getLong("seedBase", 0L)))
  }
}

object PacedSource {
  /** Event-time origin and span: the origin is a multiple of every
    * window slide the topologies use (10 s), and the span is shorter
    * than the slide, so no window closes and no state is evicted. */
  val EventBaseMs: Long = 1700000000000L
  val EventSpanUs: Double = 9e6
  val Partitions: Int = 4

  private val started = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** When the paced schedule of run `key` started (epoch ms), if it has. */
  def t0Ms(key: String): Option[Long] = Option(started.get(key)).map(_.longValue)

  val schema: StructType = StructType(Seq(
    StructField("i", LongType, nullable = false),
    StructField("value", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("due_us", LongType, nullable = false)))

  final case class Config(key: String, primeRows: Long, pacedRows: Long,
      rate: Double, backlogRows: Long, gapMs: Long, maxRowsPerTrigger: Long,
      seedBase: Long) {
    require(primeRows > 0 && pacedRows > 0 && rate > 0 && backlogRows >= 0 &&
      maxRowsPerTrigger > 0)
    def pacedEnd: Long = primeRows + pacedRows
    def totalRows: Long = pacedEnd + backlogRows
    /** The backlog is released `gapMs` after the last paced row is due. */
    def releaseMs(t0: Long): Double = t0 + (pacedRows - 1) * 1000.0 / rate + gapMs
    /** Due time of row i once the schedule started at `t0` (epoch ms);
      * priming rows are due at `t0` too. */
    def dueUs(t0: Long, i: Long): Long =
      if (i < pacedEnd) t0 * 1000 + (math.max(i - primeRows, 0L) * 1e6 / rate).toLong
      else (releaseMs(t0) * 1000).toLong
    def tsUs(i: Long): Long = EventBaseMs * 1000 + (i * EventSpanUs / totalRows).toLong
    /** Rows available at `nowMs`: the priming rows before the schedule
      * starts; then a paced row once it is due, the backlog once it is
      * released. */
    def available(t0: Option[Long], nowMs: Long): Long = t0 match {
      case None => primeRows
      case Some(t) if nowMs >= releaseMs(t) => totalRows
      case Some(t) => primeRows + math.min(pacedRows,
        math.floor(math.max(nowMs - t, 0L) * rate / 1000.0).toLong + 1)
    }
  }

  /** Start the paced schedule of run `key` at `t0` (epoch ms). */
  def start(key: String, t0: Long): Unit = { started.putIfAbsent(key, t0); () }
}

private class PacedTable(c: PacedSource.Config) extends Table with SupportsRead {
  override def name(): String = "perfbench_paced"
  override def schema(): StructType = PacedSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = PacedSource.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new PacedStream(c)
      }
    }
}

private case class PacedOffset(v: Long) extends Offset {
  override def json: String = v.toString
}

private class PacedStream(c: PacedSource.Config)
    extends MicroBatchStream with SupportsAdmissionControl {
  private def t0 = PacedSource.t0Ms(c.key)

  override def initialOffset(): Offset = PacedOffset(0L)
  override def deserializeOffset(json: String): Offset = PacedOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(c.maxRowsPerTrigger)

  /** `limit` is always the default read limit: the bench starts every
    * query with the default (processing-time) trigger. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[PacedOffset].v
    PacedOffset(math.max(s, math.min(c.available(t0, System.currentTimeMillis()),
      s + c.maxRowsPerTrigger)))
  }

  override def reportLatestOffset(): Offset =
    PacedOffset(c.available(t0, System.currentTimeMillis()))

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("use latestOffset(start, limit)")

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[PacedOffset].v
    val e = end.asInstanceOf[PacedOffset].v
    val n = e - s
    val started = t0.getOrElse(System.currentTimeMillis())
    val k = PacedSource.Partitions
    (0 until k).iterator.map { p =>
      PacedRange(s + n * p / k, s + n * (p + 1) / k, c, started)
    }.filter(r => r.until > r.from).map(r => r: InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = new PartitionReaderFactory {
    override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
      val r = partition.asInstanceOf[PacedRange]
      new PartitionReader[InternalRow] {
        private var cur = r.from - 1
        override def next(): Boolean = { cur += 1; cur < r.until }
        override def get(): InternalRow = new GenericInternalRow(Array[Any](
          cur, r.c.seedBase + cur, r.c.tsUs(cur), r.c.dueUs(r.t0, cur)))
        override def close(): Unit = ()
      }
    }
  }
}

private case class PacedRange(from: Long, until: Long, c: PacedSource.Config, t0: Long)
  extends InputPartition
